package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, Similarity, TextStats}
import graft.queries.ExtHelpers._

/** Shard-ingest + corpus-statistics family: gzip/zip/tar members,
  * jsonl/csv shards, URL parsing, checksums/diff/stats, Z-order,
  * exact-median/HLL/IQR analytics.
  *
  * Split out of ExtQueries (round 12) with zero behavior change; keys
  * and oracle text are unchanged. Shared planted fixtures and oracle
  * generators live in [[ExtHelpers]].
  */
object ShardStatsQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- dataset versioning checksum --------------------------------
    // Order-insensitive per-source content signature: bit_xor over a
    // 60-bit prefix of each document's md5. XOR is commutative +
    // associative, so the aggregate is partial-aggregable and
    // arrival-order-free — the cheap "did ANY byte of this 100 TB
    // partition change" primitive behind dataset version manifests.
    // (60 bits = 15 hex chars keeps the value in a signed long for
    // both engines; md5 hex is byte-identical Spark/DuckDB.)
    "q_corpus_checksum" -> ((s, d) => {
      val h = conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
      Tables.documents(s, d).select(col("source"), h.as("h"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), expr("bit_xor(h)").as("xor_sig"))
        .orderBy(col("source"))
    }),

    // Z-order (Morton) clustering key — the lakehouse layout primitive:
    // interleaving the bits of two scan dimensions gives ONE sort key
    // under which range predicates on EITHER column touch a bounded
    // band of files. The query materializes the 32-bit Morton code of
    // (doc_id, n_chars) (low 16 bits each) and PROVES the locality
    // contract: within any 14-bit z-prefix tile, each dimension's span
    // is < 2^9 (the 9 free interleaved bits) — the zone-map-pruning
    // guarantee, asserted per tile by integer compare. Map-only code
    // computation; the tile aggregate is bounded by tile cardinality.
    "q_zorder_layout" -> ((s, d) => {
      val a = col("doc_id") % 65536L
      val b = col("n_chars") % 65536L
      Tables.documents(s, d)
        .select(a.as("a"), b.as("b"), graft.ext.Layout.zorderCol(a, b).as("zval"))
        .withColumn("tile", shiftright(col("zval"), 18))
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n"),
          min(col("a")).as("a_min"), max(col("a")).as("a_max"),
          min(col("b")).as("b_min"), max(col("b")).as("b_max"))
        .select(col("tile"), col("n"), col("a_min"), col("a_max"),
          col("b_min"), col("b_max"),
          (col("a_max") - col("a_min") < 512).as("a_bounded"),
          (col("b_max") - col("b_min") < 512).as("b_bounded"))
        .orderBy(col("tile"))
    }),

    // EXACT median/p90 without a global sort — the histogram method
    // (q_ks_drift in CurationQueries builds the same per-(source,
    // length) histogram + cumulative window with a grid fill — a
    // change to either derivation must visit both):
    // integer doc lengths aggregate to a per-(source, length) count
    // relation (bounded by distinct lengths, not corpus size), a
    // metadata-sized cumulative window walks it, and the k-th order
    // statistic is the first length whose cumulative count reaches
    // k = (n+1) div 2 (lower median) / (9n+9) div 10 (= ceil(0.9n)).
    // All integer — no quantile_cont interpolation to diverge on.
    "q_median_exact" -> ((s, d) => {
      val hist = Tables.documents(s, d)
        .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = hist.withColumn("cum", sum(col("c")).over(w))
      val tot = hist.groupBy(col("source")).agg(sum(col("c")).as("n"))
      cum.join(broadcast(tot), Seq("source"))
        .groupBy(col("source"), col("n"))
        .agg(
          min(when(col("cum") >= expr("(n + 1) div 2"), col("n_chars")))
            .as("median"),
          min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("n_chars")))
            .as("p90"))
        .orderBy(col("source"))
    }),

    // Corpus snapshot diff — the ingest-versioning primitive: which
    // documents were added / removed / modified / unchanged between two
    // corpus versions. V2 is derived deterministically in-plan (every
    // 7th doc removed, every surviving 11th revised, a new shard per
    // 13th), so the oracle replays the same derivation. Scale shape:
    // only narrow (doc_id, md5) relations enter the one full-outer
    // hash join — text never shuffles; the status projection is
    // map-only.
    "q_corpus_diff" -> ((s, d) => {
      val base = Tables.documents(s, d)
      val v1 = base.select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("old_md5"))
      val v2kept = base.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 11 === 0,
              concat(coalesce(col("text"), lit("")), lit(" [rev2]")))
            .otherwise(coalesce(col("text"), lit("")))).as("new_md5"))
      val v2new = base.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"),
          md5(concat(lit("new shard "), col("doc_id").cast("string")))
            .as("new_md5"))
      v1.join(v2kept.unionByName(v2new), Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("old_md5"), col("new_md5"),
          when(col("old_md5").isNull, "added")
            .when(col("new_md5").isNull, "removed")
            .when(col("old_md5") =!= col("new_md5"), "modified")
            .otherwise("unchanged").as("status"))
        .orderBy(col("doc_id"))
    }),

    // ---- sketch cardinality (HLL++) ---------------------------------
    // The 100 TB "how many distinct X" answer: approx_count_distinct is
    // a fixed-size merge-able HLL++ sketch (exact countDistinct is a
    // full shuffle of the distinct set). Exact counts are hash-checked
    // against DuckDB; the sketch's answers are gated by the documented
    // error bound — rsd 0.05, asserted at 3σ (15%, integer compare;
    // measured ≤ 8% across sf0.001/0.01/0.1).
    "q_approx_distinct" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
      val t = toks.groupBy(col("source")).agg(
        countDistinct(col("tok")).as("n_tok_exact"),
        approx_count_distinct(col("tok"), 0.05).as("atok"))
      val i = docs.groupBy(col("source")).agg(
        countDistinct(col("doc_id")).as("n_id_exact"),
        approx_count_distinct(col("doc_id"), 0.05).as("aid"))
      t.join(i, "source").select(col("source"), col("n_tok_exact"), col("n_id_exact"),
          (abs(col("atok") - col("n_tok_exact")) * 100 <= col("n_tok_exact") * 15)
            .as("tok_sketch_ok"),
          (abs(col("aid") - col("n_id_exact")) * 100 <= col("n_id_exact") * 15)
            .as("id_sketch_ok"))
        .orderBy(col("source"))
    }),
    // REAL gzip ingestion: each doc's text round-trips through the
    // JDK zlib codec (deflate on generation, GZIPInputStream header
    // parse + inflate + CRC32/ISIZE verification on decode); every
    // 97th member has one byte flipped mid-stream and must land on
    // the error route (ok=false), never crash. The oracle hashes the
    // ORIGINAL text — only a genuine round trip matches. Map-only:
    // the payload never shuffles (at scale, file-source parallelism
    // provides the codec width; no repartition needed or wanted)
    "q_gzip_ingest" -> ((s, d) => {
      val withBin = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("payload",
          graft.ext.Compressed.gzipPlantedCol(col("text"), col("doc_id"), 97))
      graft.ext.Compressed.gunzipMeta(withBin, "doc_id", "payload")
        .toDF()
        .orderBy(col("doc_id"))
    }),
    // WARC-shard shape: each doc's text split into 3 equal character
    // slices, each slice a gzip member, members concatenated into one
    // binary stream (exactly how .warc.gz packs records). Every 101st
    // doc's SECOND member has its CRC trailer flipped — the decoder
    // must error THAT member while still decoding members 0 and 2
    // (record-level degradation; whole-stream loss would fail the
    // oracle). 1→N narrow flatMap, no shuffle on the payload
    "q_gzip_members" -> ((s, d) => {
      val withBin = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("payload",
          graft.ext.Compressed.gzipMembersPlantedCol(
            col("text"), col("doc_id"), 3, 101))
      graft.ext.Compressed.memberMeta(withBin, "doc_id", "payload")
        .toDF()
        .orderBy(col("doc_id"), col("member_idx"))
    }),
    // ZIP shard ingestion: the walker parses LOCAL HEADERS directly
    // (APPNOTE.TXT) instead of ZipInputStream, because the JDK stream
    // aborts the archive at the first damaged member while the
    // header's csize lets us CRC-verify each member ourselves, emit
    // the error contract for that one, and resync at the next header.
    // Every 101st doc's member 1 has a byte flipped inside its deflate
    // data — that member fails, its neighbors survive. Map-only 1→N.
    "q_zip_members" -> ((s, d) => {
      val withBin = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("payload",
          graft.ext.Zip.zipPlantedCol(col("text"), col("doc_id"), 3, 101))
      graft.ext.Zip.memberMeta(withBin, "doc_id", "payload")
        .toDF()
        .orderBy(col("doc_id"), col("member_idx"))
    }),

    // TAR shard ingestion (UnpackContent role): each doc packed as a
    // 3-member ustar archive (same slice algebra as the gzip oracle),
    // split back by a real header walk — octal fields, checksum
    // verification, prefix join, zero-block termination. Every 101st
    // doc's member 1 carries a damaged checksum digit: the walker must
    // emit the error contract for THAT member and resync past it on
    // the declared size (per-member isolation, not whole-stream loss).
    // Map-only 1→N; the archive bytes never shuffle.
    "q_tar_members" -> ((s, d) => {
      val withBin = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .withColumn("payload",
          graft.ext.Tar.tarPlantedCol(col("text"), col("doc_id"), 3, 101))
      graft.ext.Tar.memberMeta(withBin, "doc_id", "payload")
        .toDF()
        .orderBy(col("doc_id"), col("member_idx"))
    }),
    // URL parsing over a planted URL (deterministic in source/lang/
    // doc_id): host via Spark's native parse_url, registered domain,
    // path depth, query detection — all column algebra, map-only. The
    // oracle predicts every field analytically from the construction,
    // so only a correct parse of the built string matches
    "q_url_parse" -> ((s, d) =>
      graft.ext.Urls.urlParse(Tables.documents(s, d))
        .orderBy(col("doc_id"))),
    // Domain cap (the C4/RefinedWeb anti-spam policy): keep ≤3 docs
    // per registered domain by n_chars DESC (doc_id tie-break), with
    // the domain's total count alongside. One shuffle on the domain
    "q_domain_cap" -> ((s, d) =>
      graft.ext.Urls.domainCap(Tables.documents(s, d), 3)
        .orderBy(col("domain"), col("doc_id"))),
    // per-source corpus statistics (curation reporting): one groupBy
    // shuffle; EXACT percentile is a per-group buffering aggregate, so
    // this form is for bounded group sizes (reports, samples) — at
    // 100 TB swap percentile→approx_percentile (sketch, fixed memory).
    // Quartiles on integer inputs interpolate on exact binary fractions
    // (.25/.5/.75), so Spark and DuckDB agree bit-for-bit.
    "q_corpus_stats" -> ((s, d) => {
      Tables.documents(s, d).groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("total_chars"),
          percentile(col("n_chars"), lit(0.25)).as("q1_chars"),
          percentile(col("n_chars"), lit(0.5)).as("median_chars"),
          percentile(col("n_chars"), lit(0.75)).as("q3_chars"))
        .orderBy(col("source"))
    }),
    // the SKETCH path of corpus stats — what q_corpus_stats' scaladoc
    // prescribes at 100 TB: approx_percentile is a fixed-memory,
    // merge-able KLL-style sketch (no per-group buffering), so it
    // scales where exact percentile cannot. Its value is engine-
    // specific, but its accuracy bound is not: with accuracy 100 the
    // returned element's rank is within n/100 of the target, which the
    // plan itself verifies by re-ranking the sketch's answer against
    // the group (n_lt ≤ 0.51n and n_le ≥ 0.49n, integer compares) —
    // the oracle asserts the bound holds for every source.
    "q_corpus_stats_approx" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val appx = docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        percentile_approx(col("n_chars"), lit(0.5), lit(100)).as("am"))
      val ranks = docs.join(appx.select(col("source"), col("am")), "source")
        .groupBy(col("source"))
        .agg(sum(when(col("n_chars") < col("am"), 1).otherwise(0)).as("n_lt"),
             sum(when(col("n_chars") <= col("am"), 1).otherwise(0)).as("n_le"))
      appx.join(ranks, "source").select(
          col("source"), col("n_docs"),
          (col("n_lt") * 100 <= col("n_docs") * 51 &&
            col("n_le") * 100 >= col("n_docs") * 49).as("median_rank_ok"))
        .orderBy(col("source"))
    }),

    // Tukey IQR outlier gate per source (the document-length screen a
    // corpus profile report feeds): flag docs outside
    // [q1 − 1.5·IQR, q3 + 1.5·IQR]. Quartiles of INTEGER n_chars
    // interpolate at exact quarters, so 4·q is an exact integer and
    // the gate reduces to pure integer compares (4n < 10·q1 − 6·q3,
    // 4n > 10·q3 − 6·q1) — no float boundary can flip cross-engine.
    // The 20-row per-source stats broadcast back; corpus stays narrow.
    "q_outlier_iqr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = docs.groupBy(col("source")).agg(
        (percentile(col("n_chars"), lit(0.25)) * 4).cast("long").as("q1x4"),
        (percentile(col("n_chars"), lit(0.75)) * 4).cast("long").as("q3x4"))
      docs.join(broadcast(stats), "source")
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("n_chars") * 4 < col("q1x4") * 10 - col("q3x4") * 6 ||
           col("n_chars") * 4 > col("q3x4") * 10 - col("q1x4") * 6)
            .as("is_outlier"))
        .orderBy(col("doc_id"))
    }),

    // JSONL ingestion with malformed-line isolation — the dominant
    // corpus interchange format, read through Spark's native JSON
    // source in PERMISSIVE mode: every 101st line is truncated
    // mid-record, the parser routes it to the corrupt-record column
    // instead of failing the file, and the doc_id is SALVAGED from the
    // raw line by regexp (the triage pattern an ingest pipeline
    // actually runs). Clean rows must round-trip text byte-exactly
    // through JSON escaping (md5-pinned). Scratch shard written by
    // Spark itself (no driver materialization).
    "q_jsonl_ingest" -> ((s, d) => {
      val p = Scratch.freshScratchDir(d, "jsonl")
      Tables.documents(s, d)
        .select(col("doc_id"),
          to_json(struct(col("doc_id"),
            coalesce(col("text"), lit("")).as("text"))).as("l"))
        .select(when(col("doc_id") % 101 === 0,
            col("l").substr(lit(1), length(col("l")) - 2)) // mid-record cut
          .otherwise(col("l")).as("value"))
        .coalesce(1).write.mode("overwrite").text(p.toString)
      val parsed = s.read
        .schema("doc_id LONG, text STRING, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(p.toString)
      parsed.select(
          coalesce(col("doc_id"),
            regexp_extract(col("_bad"), "\"doc_id\":([0-9]+)", 1).cast("long"))
            .as("doc_id"),
          col("_bad").isNull.as("ok"),
          when(col("_bad").isNull, md5(col("text"))).otherwise(lit(""))
            .as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // CSV shard ingest with corrupt-row salvage — the jsonl pattern's
    // sibling for the other ubiquitous text interchange format. Clean
    // rows round-trip through Spark's OWN csv writer (quoting/escaping
    // conventions exercised for real: every 11th doc gets literal
    // quotes planted in its text); two corruption classes are written
    // as raw lines alongside — a mangled non-numeric id (every 101st)
    // and a missing text field (every 97th). PERMISSIVE + corrupt-
    // record column isolates each to its own row; the mangled id is
    // salvaged from the raw line by regexp, the missing-field row
    // keeps its parsed id. Probed semantics: non-numeric id → doc_id
    // NULL + _bad set; token underflow → text NULL + _bad set.
    "q_csv_ingest" -> ((s, d) => {
      val p = Scratch.freshScratchDir(d, "csv")
      val aug = Tables.documents(s, d).select(col("doc_id"),
        when(col("doc_id") % 11 === 0,
          concat(coalesce(col("text"), lit("")), lit(" quoted \"part\" end")))
          .otherwise(coalesce(col("text"), lit(""))).as("text"))
      val badIds = col("doc_id") % 101 === 0
      val shortIds = col("doc_id") % 97 === 0 && !badIds
      aug.filter(!badIds && !shortIds)
        .coalesce(1).write.mode("overwrite").csv(s"$p/clean")
      aug.filter(badIds || shortIds)
        .select(when(badIds, concat(lit("x"), col("doc_id"), lit(",corrupt")))
          .otherwise(col("doc_id").cast("string")).as("value"))
        .coalesce(1).write.mode("overwrite").text(s"$p/bad")
      val parsed = s.read
        .schema("doc_id LONG, text STRING, _bad STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(s"$p/clean", s"$p/bad")
      parsed.select(
          coalesce(col("doc_id"),
            regexp_extract(col("_bad"), "^x([0-9]+),", 1).cast("long"))
            .as("doc_id"),
          col("_bad").isNull.as("ok"),
          when(col("_bad").isNull, md5(col("text"))).otherwise(lit(""))
            .as("text_md5"))
        .orderBy(col("doc_id"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "q_corpus_checksum" ->
      """SELECT source, count(*) AS n_docs,
        |  bit_xor(CAST('0x' || substr(md5(text), 1, 15) AS BIGINT)) AS xor_sig
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_zorder_layout" ->
      s"""WITH z AS (
         |  SELECT doc_id % 65536 AS a, n_chars % 65536 AS b,
         |    ${graft.ext.Layout.zorderSql("doc_id % 65536", "n_chars % 65536")} AS zval
         |  FROM documents)
         |SELECT zval >> 18 AS tile, count(*) AS n,
         |  min(a) AS a_min, max(a) AS a_max, min(b) AS b_min, max(b) AS b_max,
         |  (max(a) - min(a) < 512) AS a_bounded,
         |  (max(b) - min(b) < 512) AS b_bounded
         |FROM z GROUP BY 1 ORDER BY tile""".stripMargin,
    "q_median_exact" ->
      """WITH hist AS (SELECT source, n_chars, count(*) AS c
        |              FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, n_chars, c,
        |          sum(c) OVER (PARTITION BY source ORDER BY n_chars
        |                       ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM hist),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1)
        |SELECT source, n,
        |  min(CASE WHEN cum >= (n + 1) // 2 THEN n_chars END) AS median,
        |  min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN n_chars END) AS p90
        |FROM cum JOIN tot USING (source)
        |GROUP BY source, n ORDER BY source""".stripMargin,
    "q_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, md5(coalesce(text, '')) AS old_md5
        |            FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 11 = 0 THEN coalesce(text, '') || ' [rev2]'
        |             ELSE coalesce(text, '') END) AS new_md5
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 5000000 AS doc_id,
        |    md5('new shard ' || CAST(doc_id AS VARCHAR)) AS new_md5
        |  FROM documents WHERE doc_id % 13 = 0)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, old_md5, new_md5,
        |  CASE WHEN old_md5 IS NULL THEN 'added'
        |       WHEN new_md5 IS NULL THEN 'removed'
        |       WHEN old_md5 <> new_md5 THEN 'modified'
        |       ELSE 'unchanged' END AS status
        |FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_approx_distinct" ->
      """WITH t AS (
        |  SELECT source, count(DISTINCT tok) AS n_tok_exact
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> '' GROUP BY source),
        |i AS (SELECT source, count(DISTINCT doc_id) AS n_id_exact
        |      FROM documents GROUP BY source)
        |SELECT source, n_tok_exact, n_id_exact,
        |  true AS tok_sketch_ok, true AS id_sketch_ok
        |FROM t JOIN i USING (source) ORDER BY source""".stripMargin,
    "q_gzip_ingest" ->
      """SELECT doc_id,
        |  (doc_id % 97 <> 0) AS ok,
        |  CASE WHEN doc_id % 97 <> 0
        |       THEN CAST(strlen(coalesce(text,'')) AS BIGINT)
        |       ELSE 0 END AS n_bytes,
        |  CASE WHEN doc_id % 97 <> 0 THEN md5(coalesce(text,''))
        |       ELSE '' END AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Mirrors gzipMembersPlantedCol's slice algebra exactly: slice
    // size a = length/3 (chars), members [1,a], [a+1,a], [2a+1, rest];
    // doc_id%101==0 corrupts member 1 only. strlen() gives the UTF-8
    // byte count of the slice = the decoded member's byte length.
    "q_gzip_members" ->
      """WITH d AS (SELECT doc_id, coalesce(text,'') AS t,
        |                  length(coalesce(text,'')) AS n
        |           FROM documents),
        |m AS (SELECT doc_id, i,
        |        CASE WHEN i = 0 THEN substr(t, 1, n // 3)
        |             WHEN i = 1 THEN substr(t, n // 3 + 1, n // 3)
        |             ELSE substr(t, 2 * (n // 3) + 1) END AS part,
        |        (doc_id % 101 = 0 AND i = 1) AS corrupt
        |      FROM d, (SELECT unnest(range(3)) AS i))
        |SELECT doc_id, CAST(i AS INT) AS member_idx,
        |  NOT corrupt AS ok,
        |  CASE WHEN corrupt THEN 0
        |       ELSE CAST(strlen(part) AS BIGINT) END AS n_bytes,
        |  CASE WHEN corrupt THEN '' ELSE md5(part) END AS text_md5
        |FROM m ORDER BY doc_id, member_idx""".stripMargin,
    // Same slice algebra as q_gzip_members plus the analytic member
    // name; only a genuine deflate→inflate round trip with CRC verify
    // can reproduce the clean members, and the damaged member must
    // surface the error contract without losing its neighbors
    "q_zip_members" ->
      """WITH d AS (SELECT doc_id, coalesce(text,'') AS t,
        |                  length(coalesce(text,'')) AS n
        |           FROM documents),
        |m AS (SELECT doc_id, i,
        |        CASE WHEN i = 0 THEN substr(t, 1, n // 3)
        |             WHEN i = 1 THEN substr(t, n // 3 + 1, n // 3)
        |             ELSE substr(t, 2 * (n // 3) + 1) END AS part,
        |        (doc_id % 101 = 0 AND i = 1) AS corrupt
        |      FROM d, (SELECT unnest(range(3)) AS i))
        |SELECT doc_id, CAST(i AS INT) AS member_idx,
        |  CASE WHEN corrupt THEN ''
        |       ELSE 'doc' || CAST(doc_id AS VARCHAR) || '/part' ||
        |            CAST(i AS VARCHAR) || '.txt' END AS name,
        |  NOT corrupt AS ok,
        |  CASE WHEN corrupt THEN 0
        |       ELSE CAST(strlen(part) AS BIGINT) END AS n_bytes,
        |  CASE WHEN corrupt THEN '' ELSE md5(part) END AS text_md5
        |FROM m ORDER BY doc_id, member_idx""".stripMargin,
    // Same slice algebra as q_gzip_members plus the analytic name and
    // mtime the planted archive wrote; a corrupt member surfaces the
    // error contract while its neighbors stay intact (resync proof)
    "q_tar_members" ->
      """WITH d AS (SELECT doc_id, coalesce(text,'') AS t,
        |                  length(coalesce(text,'')) AS n
        |           FROM documents),
        |m AS (SELECT doc_id, i,
        |        CASE WHEN i = 0 THEN substr(t, 1, n // 3)
        |             WHEN i = 1 THEN substr(t, n // 3 + 1, n // 3)
        |             ELSE substr(t, 2 * (n // 3) + 1) END AS part,
        |        (doc_id % 101 = 0 AND i = 1) AS corrupt
        |      FROM d, (SELECT unnest(range(3)) AS i))
        |SELECT doc_id, CAST(i AS INT) AS member_idx,
        |  CASE WHEN corrupt THEN ''
        |       ELSE 'doc' || CAST(doc_id AS VARCHAR) || '/part' ||
        |            CAST(i AS VARCHAR) || '.txt' END AS name,
        |  NOT corrupt AS ok,
        |  CASE WHEN corrupt THEN 0
        |       ELSE CAST(strlen(part) AS BIGINT) END AS n_bytes,
        |  CASE WHEN corrupt THEN 0
        |       ELSE 1700000000 + doc_id END AS mtime,
        |  CASE WHEN corrupt THEN '' ELSE md5(part) END AS text_md5
        |FROM m ORDER BY doc_id, member_idx""".stripMargin,
    // Analytic mirror of Urls.plantedUrlCol: every field is a pure
    // function of (source, lang, doc_id)
    "q_url_parse" ->
      """SELECT doc_id,
        |  'https://' ||
        |    CASE WHEN doc_id % 7 = 0 THEN 'www.' ELSE '' END ||
        |    lower(source) || '-' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '.example.com/' || lang || '/' ||
        |    CASE WHEN doc_id % 3 = 0 THEN 'sub/' ELSE '' END ||
        |    CAST(doc_id AS VARCHAR) ||
        |    CASE WHEN doc_id % 5 = 0 THEN '?session=abc' ELSE '' END AS url,
        |  lower(source) || '-' || CAST(doc_id % 5 AS VARCHAR)
        |    || '.example.com' AS domain,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS INT)
        |    AS path_depth,
        |  (doc_id % 5 = 0) AS has_query
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_domain_cap" ->
      """WITH d AS (SELECT doc_id, n_chars,
        |             lower(source) || '-' || CAST(doc_id % 5 AS VARCHAR)
        |               || '.example.com' AS domain
        |           FROM documents),
        |r AS (SELECT domain, doc_id,
        |        row_number() OVER (PARTITION BY domain
        |          ORDER BY n_chars DESC, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY domain) AS domain_docs
        |      FROM d)
        |SELECT domain, doc_id, CAST(rk AS INT) AS rk,
        |  CAST(domain_docs AS BIGINT) AS domain_docs
        |FROM r WHERE rk <= 3 ORDER BY domain, doc_id""".stripMargin,
    "q_corpus_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  quantile_cont(n_chars, 0.25) AS q1_chars,
        |  quantile_cont(n_chars, 0.5) AS median_chars,
        |  quantile_cont(n_chars, 0.75) AS q3_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_corpus_stats_approx" ->
      """SELECT source, count(*) AS n_docs, true AS median_rank_ok
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // the same integerized Tukey fences from quantile_cont
    "q_outlier_iqr" ->
      """WITH s AS (SELECT source,
        |    CAST(quantile_cont(n_chars, 0.25) * 4 AS BIGINT) AS q1x4,
        |    CAST(quantile_cont(n_chars, 0.75) * 4 AS BIGINT) AS q3x4
        |  FROM documents GROUP BY source)
        |SELECT doc_id, d.source, n_chars,
        |  (n_chars * 4 < q1x4 * 10 - q3x4 * 6 OR
        |   n_chars * 4 > q3x4 * 10 - q1x4 * 6) AS is_outlier
        |FROM documents d JOIN s ON d.source = s.source
        |ORDER BY doc_id""".stripMargin,
    // ok/salvaged-id/md5 stated analytically: only a parser that
    // round-trips JSON escaping byte-exactly AND isolates the planted
    // truncations to their own rows can match
    "q_jsonl_ingest" ->
      """SELECT doc_id, (doc_id % 101 <> 0) AS ok,
        |  CASE WHEN doc_id % 101 <> 0 THEN md5(coalesce(text, ''))
        |       ELSE '' END AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // ok/md5 stated analytically over the augmented text: only a csv
    // writer/reader pair that round-trips quoting byte-exactly AND
    // isolates both corruption classes can match
    "q_csv_ingest" ->
      """SELECT doc_id,
        |  (doc_id % 101 <> 0 AND doc_id % 97 <> 0) AS ok,
        |  CASE WHEN doc_id % 101 <> 0 AND doc_id % 97 <> 0
        |       THEN md5(CASE WHEN doc_id % 11 = 0
        |                     THEN coalesce(text, '') || ' quoted "part" end'
        |                     ELSE coalesce(text, '') END)
        |       ELSE '' END AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
  )
}
