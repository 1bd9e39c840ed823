package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Invariants for the dedup / similarity / text-analysis extensions
  * that the DuckDB oracle can't express (probabilistic structures,
  * recall bounds, Scala/column semantic lockstep).
  */
class ExtOpsSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("bpe decode inverts encode, including multi-code-point words") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "low lower lowest newer new"),
      (2L, "der dér 日本語 new lowest"),
      (3L, "a b a b a b")).toDF("doc_id", "text")
    val toks = graft.ext.Bpe.encodeIds(corpus, "doc_id", "text", 8)
    val vocab = graft.ext.Bpe.vocabIds(corpus, "text", 8)
    val decoded = graft.ext.Bpe.decodeIds(toks, vocab, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(decoded == Map(
      1L -> "low lower lowest newer new",
      2L -> "der dér 日本語 new lowest",
      3L -> "a b a b a b"))
  }

  test("minhash signature is deterministic with 64 lanes") {
    val a = Dedup.signature("the fast key order sort table", 3)
    val b = Dedup.signature("the fast key order sort table", 3)
    assert(a.length == Dedup.NumHashes)
    assert(a.sameElements(b))
    assert(!a.sameElements(Dedup.signature("a different text entirely here", 3)))
  }

  test("scala shingleSet matches the column-side shingleRows semantics") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e"), (2L, "x y"), (3L, "p q r")).toDF("doc_id", "text")
    val colSide = Dedup.shingleRows(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val scalaSide = Seq((1L, "a b c d e"), (2L, "x y"), (3L, "p q r")).flatMap {
      case (id, t) => Dedup.shingleSet(t, 3).map(s => (id, s))
    }.toSet
    assert(colSide == scalaSide)
    assert(!scalaSide.exists(_._1 == 2L)) // < n tokens → no shingles
  }

  test("cluster assignment propagates min labels across chains") {
    import spark.implicits._
    val nodes = (1L to 6L).toDF("id")
    // chain 1-2-3, pair 4-5, singleton 6
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("i", "j")
    val out = Dedup.clusterAssignments(nodes, "id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("cluster assignment converges on a deep path graph") {
    import spark.implicits._
    val n = 12L // diameter 11 — needs multiple propagation rounds
    val nodes = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("i", "j")
    val out = Dedup.clusterAssignments(nodes, "id", pairs)
      .collect().map(r => r.getLong(1)).distinct
    assert(out.sameElements(Array(1L))) // one component, canonical = min id
  }

  test("minhash near-dups equal exact jaccard pairs on the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Dedup.minhashNearDups(docs, "doc_id", "text", 3, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(mh == exact)
  }

  test("cross-corpus near-dup match equals exact jaccard restricted to cross pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val benchSrc = Seq("src0", "src1", "src2", "src3", "src4")
    val train = docs.filter(!col("source").isInCollection(benchSrc))
    val bench = docs.filter(col("source").isInCollection(benchSrc))
    // truth: all-pairs exact jaccard on the union, restricted to pairs
    // with one id on each side (jaccardPairs emits i<j; normalize to
    // (train, bench) orientation)
    val benchIds = bench.select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        (benchIds.contains(a), benchIds.contains(b)) match {
          case (false, true) => Some((a, b))
          case (true, false) => Some((b, a))
          case _             => None
        }
      }.toSet
    val cross = Dedup.minhashCrossNearDups(train, bench, "doc_id", "text", 3, 0.8)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain cross-source near-dups")
    assert(cross == exact)
  }

  test("df-capped jaccard equals all-pairs on real data and prunes boilerplate") {
    import spark.implicits._
    // on the corpus: every true near-dup pair shares rare shingles, so
    // the capped form loses nothing
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val full = Dedup.jaccardPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.jaccardPairsDfCapped(docs, "doc_id", "text", dfCap = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == full)

    // boilerplate corpus: 40 docs share one ubiquitous header (df=40 >
    // cap) plus private tails → the capped candidate join must see NO
    // pairs (header pairs are the Σdf² blowup), while each true dup
    // pair (same tail, df=2) survives
    val header = "terms of service apply to all content on this site"
    val boiler = (0 until 40).map { i =>
      (i.toLong, s"$header unique tail $i ${"x" + i} ${"y" + i} ${"z" + i}")
    } ++ Seq((100L, s"$header shared tail copy one two three four five"),
      (101L, s"$header shared tail copy one two three four five"))
    val bdf = boiler.toDF("doc_id", "text")
    val bcapped = Dedup.jaccardPairsDfCapped(bdf, "doc_id", "text", dfCap = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bcapped == Set((100L, 101L)))
  }

  test("simhash: identical texts collide, near-dups are hamming-close") {
    val t = "spark group query row data slow small filter"
    assert(Dedup.simhash64(t) == Dedup.simhash64(t))
    val near = Dedup.simhash64(t + " extra")
    assert(java.lang.Long.bitCount(Dedup.simhash64(t) ^ near) < 16)
  }

  test("codegen'd SimHash64 expression is bit-identical to the Scala form") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    val mismatches = docs
      .select(col("text"),
        graft.functions.SimHash64.simhash64Col(col("text")).as("expr_sim"))
      .as[(String, Long)].collect()
      .count { case (text, got) => got != Dedup.simhash64(text) }
    assert(mismatches == 0)
    // edge shapes: empty tokens, leading/trailing spaces, empty string
    for (t <- Seq("", " ", "a", " a  b ", "a b c")) {
      val got = Seq(t).toDF("text")
        .select(graft.functions.SimHash64.simhash64Col(col("text")))
        .head().getLong(0)
      assert(got == Dedup.simhash64(t), s"text=<$t>")
    }
  }

  test("exact dedup keeps lowest id per duplicated text") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val kept = Dedup.exactKeepFirst(df, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
  }

  test("lsh ann achieves nontrivial recall vs brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(emb, "vec_id", "embedding", queries, 5, planes = 4, tables = 8)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ann).size.toDouble / brute.size
    assert(recall > 0.5, s"recall=$recall") // 8 tables x 16 buckets over 500 vecs
    assert(ann.forall { case (q, n) => q != n })
  }

  test("lsh near-dup pairs equal exact all-pairs AND genuinely prune candidates") {
    // Same planted-near-dup corpus the declared query uses: the raw
    // synthetic embeddings are random unit vectors (max pairwise cos
    // ≈ 0.6), so a realistic threshold needs planted duplicates.
    val emb = graft.queries.ExtHelpers.plantedNearDupCorpus(
      spark.read.parquet(s"$sf/embeddings.parquet"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("i", "j", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(Similarity.cosineNearDups(emb, "vec_id", "embedding", 0.9))
    val lsh = pairs(Similarity.lshNearDups(emb, "vec_id", "embedding", 0.9))
    assert(exact.nonEmpty)
    assert(lsh == exact)
    // the point of LSH: the verify join touches a small fraction of N²/2
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    val cands = Similarity.lshCandidatePairs(emb, "vec_id", "embedding",
      planes = 16, tables = 128).count()
    info(s"lsh candidates=$cands of allPairs=$allPairs (${cands * 100.0 / allPairs}%)")
    assert(cands < allPairs / 20, s"candidates=$cands vs allPairs=$allPairs")
    assert(cands >= exact.size)
  }

  test("multimodal decode round-trips real PNG, BMP, and TIFF rasters") {
    import spark.implicits._
    // 7 → png, 8 → bmp, 10 → tiff: three JDK codecs, one auto-detect path
    val df = Seq(7L, 8L, 10L).toDF("doc_id")
      .withColumn("payload", Multimodal.syntheticImageCol(col("doc_id")))
    val meta = Multimodal.decodeMeta(df, "doc_id", "payload")
      .collect().sortBy(_.doc_id)
    for (m <- meta) {
      val id = m.doc_id
      assert(m.width == Multimodal.plantedW(id))
      assert(m.height == Multimodal.plantedH(id))
      assert(m.format == Multimodal.plantedSniffedFormat(id))
      val expectSum = (for {
        y <- 0 until Multimodal.plantedH(id)
        x <- 0 until Multimodal.plantedW(id)
      } yield Multimodal.plantedGray(id, x, y).toLong).sum
      assert(m.px_sum == expectSum, s"gray sum mismatch for doc $id")
    }
    // the payload really is the named container (magic bytes)
    val payloads = df.select($"doc_id", $"payload").as[(Long, Array[Byte])]
      .collect().toMap
    assert(payloads(7L).take(8).sameElements(
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)))
    assert(payloads(8L).take(2).sameElements("BM".getBytes))
    val tiffMagic = payloads(10L).take(4)
    assert(tiffMagic.sameElements(Array[Byte]('I', 'I', 0x2a, 0)) ||
      tiffMagic.sameElements(Array[Byte]('M', 'M', 0, 0x2a)))
    // and the MIME detector recognizes the bare container
    assert(graft.extract.MimeDetect.detect(payloads(10L), "x.tif") == "image/tiff")
    // bare-TIFF metadata: the IFD walk reports the planted dimensions
    val tm = graft.extract.Metadata.extract(payloads(10L), "x.tif")
    assert(tm("Content-Type") == "image/tiff")
    assert(tm("ImageWidth") == Multimodal.plantedW(10L).toString)
    assert(tm("ImageLength") == Multimodal.plantedH(10L).toString)
  }

  test("multimodal nearest-neighbor resize checksums the decoded raster") {
    import spark.implicits._
    val id = 13L
    val df = Seq(id).toDF("doc_id")
      .withColumn("payload", Multimodal.syntheticImageCol(col("doc_id")))
    val r = Multimodal.resizeChecksum(df, "doc_id", "payload", tw = 8, th = 8)
      .collect().head
    val (w, h) = (Multimodal.plantedW(id), Multimodal.plantedH(id))
    val grid = for { j <- 0 until 8; i <- 0 until 8 }
      yield Multimodal.plantedGray(id, i * w / 8, j * h / 8).toLong
    assert(r.px_sum == grid.sum)
    assert(r.px_checksum == grid.zipWithIndex.map { case (g, k) => (k + 1) * g }.sum)
  }

  test("multimodal decode degrades to the error row on junk bytes") {
    import spark.implicits._
    val df = Seq((1L, "not an image")).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val m = Multimodal.decodeMeta(df, "doc_id", "payload").collect().head
    assert((m.width, m.height, m.format, m.px_sum) == (-1, -1, "unknown", -1L))
  }

  test("quantized IVF index is a fraction of the float index's bytes and serves exactly") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val fDir = Ivf.indexFor(emb, sf, k = 16, iters = 2)
    val qDir = Ivf.quantizedIndexFor(emb, sf, k = 16, iters = 2)
    def corpusBytes(dir: String): Long = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/corpus")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) {
        val s = it.next()
        if (s.getPath.getName.endsWith(".parquet")) total += s.getLen
      }
      total
    }
    val (fb, qb) = (corpusBytes(fDir), corpusBytes(qDir))
    // int8 vectors are ⅛ the raw bytes of doubles; at this tiny sf the
    // per-file parquet framing (~2-3 KB × 16 cell files, both sides)
    // keeps the observed ratio nearer ⅓ — assert the conservative half
    info(s"float index $fb bytes, quantized $qb bytes (${qb * 100 / fb}%)")
    assert(qb * 2 < fb, s"quantized=$qb float=$fb")
    // quantized storage really is tinyint
    val schema = spark.read.parquet(s"$qDir/corpus").schema
    assert(schema("qv8").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    // serving equivalence: on the planted-duplicate corpus both paths
    // return the identical top-1 (the quantization error is orders of
    // magnitude under the planted margin)
    import spark.implicits._
    val queries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val fTop = Ivf.topKIndexed(spark, fDir, queries, "vec_id", "embedding",
        k = 1, nProbe = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val qTop = Ivf.topKQuantized(spark, qDir, emb, queries, "vec_id", "embedding",
        k = 1, nProbe = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(fTop == qTop)
    assert(fTop.forall { case (qid, nid) => nid == qid - 1000000L })
  }

  test("PQ index stores m-byte codes, ADC is in lockstep, serving stays exact") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val fDir = Ivf.indexFor(emb, sf, k = 16, iters = 2)
    val pDir = Ivf.pqIndexFor(emb, sf, k = 16, iters = 2)
    // the code column really is an m-byte BINARY word
    val corpus = spark.read.parquet(s"$pDir/corpus")
    assert(corpus.schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType)
    import spark.implicits._
    val someCodes = corpus.select("codes").as[Array[Byte]].head(5)
    assert(someCodes.forall(_.length == 8))
    // ADC lockstep: the codegen'd PqAdc equals the driver-side
    // lut/codes sum for real index rows against a real query lut
    val pq = Ivf.loadPqModel(spark, pDir)
    val qvec = emb.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), x => x.cast("double")))
      .as[Seq[Double]].head()
    val lut = pq.lut(qvec)
    val rows = corpus.select(col("nid"), col("codes"))
      .withColumn("adc", graft.functions.PqAdc.adcCol(
        lit(lut), col("codes"), pq.ks))
      .as[(Long, Array[Byte], Double)].collect()
    for ((_, codes, adc) <- rows.take(50)) {
      val expect = codes.zipWithIndex
        .map { case (c, j) => lut(j * pq.ks + (c & 0xff)) }.sum
      assert(math.abs(adc - expect) < 1e-12)
    }
    // serving equivalence on the planted corpus: ADC first pass + float
    // re-rank returns the identical top-1 the float index serves
    val queries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
    val fTop = Ivf.topKIndexed(spark, fDir, queries, "vec_id", "embedding",
        k = 1, nProbe = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val pTop = Ivf.topKPq(spark, pDir, emb, queries, "vec_id", "embedding",
        k = 1, nProbe = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    assert(fTop == pTop)
    assert(pTop.forall { case (qid, nid) => nid == qid - 1000000L })
  }

  test("EXIF orientation parses from the real APP1/TIFF walk and rotates the raster") {
    import spark.implicits._
    // ids 0..7 cycle ALL EIGHT spec orientations 1..8
    for (id <- 0L to 7L)
      assert(Multimodal.exifOrientation(Multimodal.syntheticExif(id)) ==
        Multimodal.plantedOrientation(id))
    // absent/garbage EXIF degrades to the default upright orientation
    assert(Multimodal.exifOrientation(Array[Byte](1, 2, 3)) == 1)

    val df = (0L to 7L).toDF("doc_id")
      .withColumn("payload", Multimodal.syntheticImageCol(col("doc_id")))
      .withColumn("exif", Multimodal.syntheticExifCol(col("doc_id")))
    val rows = Multimodal.resizeOrientedChecksum(df, "doc_id", "payload", "exif",
      tw = 8, th = 8).collect().sortBy(_.doc_id)
    for (r <- rows) {
      val id = r.doc_id
      val o = Multimodal.plantedOrientation(id)
      assert(r.orientation == o)
      val (w, h) = (Multimodal.plantedW(id), Multimodal.plantedH(id))
      val (rw, rh) = if (o >= 5) (h, w) else (w, h)
      def src(x: Int, y: Int) = Multimodal.plantedGray(id, x, y).toLong
      def rot(x: Int, y: Int) = o match {
        case 2 => src(w - 1 - x, y)
        case 3 => src(w - 1 - x, h - 1 - y)
        case 4 => src(x, h - 1 - y)
        case 5 => src(y, x)
        case 6 => src(y, h - 1 - x)
        case 7 => src(w - 1 - y, h - 1 - x)
        case 8 => src(w - 1 - y, x)
        case _ => src(x, y)
      }
      val grid = for { j <- 0 until 8; i <- 0 until 8 }
        yield rot(i * rw / 8, j * rh / 8)
      assert(r.px_sum == grid.sum, s"oriented gray sum mismatch for doc $id (o=$o)")
      assert(r.px_checksum ==
        grid.zipWithIndex.map { case (g, k) => (k + 1) * g }.sum,
        s"oriented checksum mismatch for doc $id (o=$o)")
    }
    // the remap is not a no-op: for every non-upright doc the oriented
    // checksum must differ from the plain (unrotated, unmirrored)
    // resize of the SAME image — the planted pattern is asymmetric by
    // construction, so mirrors (2/4/5/7) shift it too
    val plain = Multimodal.resizeChecksum(df.filter(col("doc_id") > 0L),
      "doc_id", "payload", tw = 8, th = 8).collect()
      .map(p => p.doc_id -> p.px_checksum).toMap
    for (id <- 1L to 7L)
      assert(rows.find(_.doc_id == id).get.px_checksum != plain(id),
        s"orientation ${id + 1} left the checksum unchanged")
  }

  test("audio summarization gates on SIGNED 16-bit PCM, not bit width alone") {
    import javax.sound.sampled.AudioFormat
    // the WAV fixture's own format passes the gate
    assert(Multimodal.summarizableAudio(new AudioFormat(8000f, 16, 1, true, false)))
    // 16-bit UNSIGNED would be summed with signed arithmetic — gated out
    assert(!Multimodal.summarizableAudio(new AudioFormat(8000f, 16, 1, false, false)))
    // float and 8-bit formats are gated out too
    assert(!Multimodal.summarizableAudio(new AudioFormat(
      AudioFormat.Encoding.PCM_FLOAT, 8000f, 32, 1, 4, 8000f, false)))
    assert(!Multimodal.summarizableAudio(new AudioFormat(8000f, 8, 1, false, false)))
  }

  test("audio decode round-trips a real RIFF/WAVE container") {
    import spark.implicits._
    val df = Seq(7L, 8L).toDF("doc_id")
      .withColumn("payload", Multimodal.syntheticWavCol(col("doc_id")))
    val meta = Multimodal.decodeAudioMeta(df, "doc_id", "payload")
      .collect().sortBy(_.doc_id)
    for (m <- meta) {
      val id = m.doc_id
      val n = Multimodal.plantedSamples(id)
      assert(m.n_samples == n)
      assert(m.sample_rate == 8000)
      assert(m.channels == 1)
      val s = (0 until n).map(k => Multimodal.plantedSample(id, k).toLong)
      assert(m.sample_sum == s.sum)
      assert(m.sample_checksum ==
        s.zipWithIndex.map { case (v, k) => (k + 1) * v }.sum)
    }
    // the payload really is a RIFF/WAVE container (magic bytes)
    val bytes = df.select($"payload").as[Array[Byte]].collect().head
    assert(bytes.take(4).sameElements("RIFF".getBytes))
    assert(bytes.slice(8, 12).sameElements("WAVE".getBytes))
  }

  test("audio decode degrades to the error row on junk bytes") {
    import spark.implicits._
    val df = Seq((1L, "not audio at all")).toDF("doc_id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val m = Multimodal.decodeAudioMeta(df, "doc_id", "payload").collect().head
    assert((m.n_samples, m.sample_rate, m.channels, m.sample_sum,
      m.sample_checksum) == (-1, -1, -1, -1L, -1L))
  }

  test("MP4 metadata walks the real box tree") {
    import spark.implicits._
    val df = Seq(0L, 1L, 2L, 13L).toDF("doc_id")
      .withColumn("payload", Multimodal.syntheticMp4Col(col("doc_id")))
    val meta = Multimodal.videoMeta(df, "doc_id", "payload")
      .collect().sortBy(_.doc_id)
    for (m <- meta) {
      assert(m.duration_ms == Multimodal.plantedDurationMs(m.doc_id))
      assert(m.n_tracks == Multimodal.plantedTracks(m.doc_id))
      assert(m.width == Multimodal.plantedVideoW(m.doc_id))
      assert(m.height == Multimodal.plantedVideoH(m.doc_id))
    }
    assert(meta.find(_.doc_id == 0L).get.codecs == "avc1")
    assert(meta.find(_.doc_id == 1L).get.codecs == "avc1,mp4a")
    assert(meta.find(_.doc_id == 2L).get.codecs == "avc1,mp4a,hvc1")
    // the payload really leads with an ftyp box
    val bytes = df.select($"payload").as[Array[Byte]].collect().head
    assert(bytes.slice(4, 8).sameElements("ftyp".getBytes))
  }

  test("MP4 metadata degrades to the error row on junk and v1 boxes parse") {
    assert(Multimodal.parseMp4Meta("clearly not a movie".getBytes) ==
      ((-1L, -1, "", -1, -1)))
    // 64-bit largesize wrapping the real tree still parses
    val real = Multimodal.syntheticMp4(5L)
    val ftypLen = java.nio.ByteBuffer.wrap(real).getInt(0)
    val inner = java.util.Arrays.copyOfRange(real, ftypLen + 8, real.length) // moov body
    val b = java.nio.ByteBuffer.allocate(16 + inner.length)
    b.putInt(1) // size==1 → largesize follows
    b.put("moov".getBytes)
    b.putLong(16L + inner.length)
    b.put(inner)
    val wrapped = real.take(ftypLen) ++ b.array()
    val (dur, n, cc, w, h) = Multimodal.parseMp4Meta(wrapped)
    assert(dur == Multimodal.plantedDurationMs(5L) && n == Multimodal.plantedTracks(5L))
    assert(w == Multimodal.plantedVideoW(5L) && h == Multimodal.plantedVideoH(5L) &&
      cc.nonEmpty)
  }

  test("dHash is brightness-invariant and content-sensitive") {
    import java.awt.image.BufferedImage
    def png(f: (Int, Int) => Int, w: Int = 20, h: Int = 14): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val g = f(x, y) & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val base = Multimodal.dhash64(png((x, y) => x * 7 + y * 3)).get
    // +40 brightness preserves every gradient → identical fingerprint
    // (the perceptual property exact hashing lacks)
    assert(Multimodal.dhash64(png((x, y) => math.min(x * 7 + y * 3 + 40, 255))).get == base)
    // different content → different fingerprint
    assert(Multimodal.dhash64(png((x, y) => 255 - x * 5 - y * 11)).get != base)
    // junk bytes degrade to None, not a throw
    assert(Multimodal.dhash64("not an image".getBytes).isEmpty)
  }

  test("audio fingerprint is loudness-invariant and content-sensitive") {
    def wav(samples: Array[Short]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(44 + samples.length * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(s: String): Unit = { b.put(s.getBytes("US-ASCII")); () }
      tag("RIFF"); b.putInt(36 + samples.length * 2); tag("WAVE")
      tag("fmt "); b.putInt(16); b.putShort(1); b.putShort(1)
      b.putInt(8000); b.putInt(16000); b.putShort(2); b.putShort(16)
      tag("data"); b.putInt(samples.length * 2)
      samples.foreach(b.putShort)
      b.array()
    }
    val base = Array.tabulate(200)(k => (((k * 37) % 1200) - 600).toShort)
    val fp = Multimodal.audioFingerprint32(wav(base)).get
    // ×2 gain scales every window energy ×4 — order, and the bits, hold
    assert(Multimodal.audioFingerprint32(
      wav(base.map(s => (s * 2).toShort))).get == fp)
    // different content → different bits
    assert(Multimodal.audioFingerprint32(
      wav(base.reverse)).get != fp)
    // junk degrades to None
    assert(Multimodal.audioFingerprint32("not audio".getBytes).isEmpty)
  }

  test("BPE trainer reproduces the classic merge sequence") {
    import spark.implicits._
    // Sennrich '16 running example: low×5, lower×2, newest×6, widest×3
    val corpus = Seq(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
      .toDF("text")
    val merges = graft.ext.Bpe.trainMerges(corpus, "text", k = 3)
    // hand-computed: es=9 (beats st=9 on the asc tie-break), then
    // (es,t)=9, then (l,o)=7 (beats ow=7)
    assert(merges == Seq((0, "e", "s", 9L), (1, "es", "t", 9L), (2, "l", "o", 7L)))
  }

  test("BPE tie-break order is code-point (UTF-8) order, not UTF-16") {
    // U+1F600 (surrogate pair, lead 0xD83D) vs U+FFFD: JVM compareTo
    // ranks the surrogate FIRST (0xD83D < 0xFFFD), code-point/UTF-8
    // order ranks it LAST (0x1F600 > 0xFFFD) — Spark's UTF8String and
    // DuckDB both use the latter, so the local trainer must too
    val smiley = new String(Character.toChars(0x1F600))
    assert(smiley.compareTo("�") < 0)      // the UTF-16 trap
    assert(!graft.ext.Bpe.utf8Lt(smiley, "�")) // code-point order
    assert(graft.ext.Bpe.utf8Lt("�", smiley))
    // prefix + equality cases
    assert(graft.ext.Bpe.utf8Lt("ab", "abc"))
    assert(!graft.ext.Bpe.utf8Lt("abc", "abc"))
    assert(graft.ext.Bpe.utf8Lt("a", "b"))
    // and a tied-count corpus containing both symbols trains the SAME
    // merge on the local path as Spark's own ordering picks
    import spark.implicits._
    val corpus = Seq(s"x$smiley x�").toDF("text")
    val wc = graft.ext.Bpe.wordCounts(corpus, "text")
    val local = graft.ext.Bpe.trainMergesLocal(
      wc.collect().map(r => (r.getString(0), r.getLong(1))).toSeq, 1)
    val dist = graft.ext.Bpe.trainMergesDistributed(wc, 1)
    assert(local == dist)
    assert(local.head._3 == "�") // the code-point-smaller pair wins
  }

  test("BPE local and distributed trainers are in bit-exact lockstep") {
    import spark.implicits._
    // the driver-local fast path must produce the distributed loop's
    // exact merge table — counts, argmax tie-breaks (es/st at 9,
    // lo/ow at 7), and greedy application — trained PAST vocabulary
    // exhaustion (k=25 > the 16 merges this corpus supports), where
    // both loops must stop on the same empty pair relation
    val corpus = Seq(
      (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" "))
      .toDF("text")
    val wc = graft.ext.Bpe.wordCounts(corpus, "text")
    val vocab = wc.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val local = graft.ext.Bpe.trainMergesLocal(vocab, k = 25)
    val dist = graft.ext.Bpe.trainMergesDistributed(wc, k = 25)
    assert(local == dist)
    assert(local.nonEmpty && local.size < 25,
      "expected the tiny vocabulary to exhaust before 25 merges")
    // the public API picks the local path at real-corpus vocabulary
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val realVocab = graft.ext.Bpe.wordCounts(docs, "text").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(graft.ext.Bpe.trainMerges(docs, "text", 300) ==
      graft.ext.Bpe.trainMergesLocal(realVocab, 300))
  }

  test("BPE encode: trained merges give per-doc subword token counts") {
    import spark.implicits._
    val corpus = Seq(
      (1L, (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
        Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")),
      (2L, "")).toDF("doc_id", "text")
    // merges (e,s),(es,t),(l,o): low→[lo,w]=2, lower→4, newest→[n,e,w,est]=4,
    // widest→4 ⇒ 5·2+2·4+6·4+3·4 = 54 tokens over 16 words
    val got = graft.ext.Bpe.encode(corpus, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(got.sameElements(Array((1L, 16L, 54L), (2L, 0L, 0L))))
  }

  test("BPE encode merges runs greedily left-to-right: aaaa → [aa,aa]") {
    import spark.implicits._
    val corpus = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val got = graft.ext.Bpe.encode(corpus, "doc_id", "text", 1)
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(got.sameElements(Array((1L, 1L, 2L))))
  }

  test("quality score stays in [0,1]") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bad = docs.select(TextStats.qualityCol(col("text")).as("q"))
      .filter(col("q") < 0 || col("q") > 1).count()
    assert(bad == 0)
  }

  test("exactKeepBest keeps the highest score, id ascending on ties") {
    import spark.implicits._
    val df = Seq(
      (1L, "k1", 0.3), (2L, "k1", 0.9),  // higher score wins
      (3L, "k2", 0.5), (4L, "k2", 0.5),  // tie → smaller id
      (5L, "k3", 0.1)                    // singleton survives
    ).toDF("doc_id", "key", "score")
    val kept = Dedup.exactKeepBest(df, "doc_id", "key", "score")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(2L, 3L, 5L)))
  }

  test("normalizeCol canonicalizes case, punctuation, and spacing") {
    import spark.implicits._
    val df = Seq(
      ("  Hello,   WORLD!! ", "hello world"),
      ("a-b c_d", "a b c d"),            // punctuation → token boundary
      ("already clean 42", "already clean 42"),
      ("!!!", "")                        // all-punctuation → empty
    ).toDF("raw", "want")
    val wrong = df.select(TextStats.normalizeCol(col("raw")).as("got"), col("want"))
      .filter(col("got") =!= col("want")).collect()
    assert(wrong.isEmpty, wrong.mkString(", "))
    // idempotence: normalizing a normalized string is the identity
    val twice = df.select(TextStats.normalizeCol(col("raw")).as("once"))
      .select(TextStats.normalizeCol(col("once")).as("twice"), col("once"))
      .filter(col("twice") =!= col("once")).count()
    assert(twice == 0)
  }

  test("minhash union aggregator == signature of the union shingle set") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a b c d e f g"),
      ("s1", "h i j k l m n"),
      ("s2", "a b c d e f g")).toDF("src", "text")
    val sigs = docs.groupBy($"src")
      .agg(MinHashAgg.minhash_union($"text", 3).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
    // direct signature over the concatenated shingle universe of s1
    val unionSig = {
      val a = Dedup.signature("a b c d e f g", 3)
      val b = Dedup.signature("h i j k l m n", 3)
      a.zip(b).map { case (x, y) => math.min(x, y) }
    }
    assert(sigs("s1").sameElements(unionSig))
    assert(sigs("s2").sameElements(Dedup.signature("a b c d e f g", 3)))
  }

  test("group similarity estimates are high for identical groups") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a b c d e f g"), ("s2", "a b c d e f g"), // identical content
      ("s3", "z y x w v u t")).toDF("src", "text")
    val sims = MinHashAgg.groupSimilarity(docs, "src", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(sims(("s1", "s2")) == 1.0)
    assert(sims(("s1", "s3")) < 0.2)
  }

  test("ivf ann achieves nontrivial recall vs brute force") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queries, 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val model = Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
    val ivf = Ivf.topK(emb, "vec_id", "embedding", queries, model, 5, nProbe = 4)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.3, s"recall=$recall") // 4/16 cells probed
  }

  test("indexed ivf matches the in-memory form and prunes the scan to probed cells") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    Ivf.buildIndex(emb, "vec_id", "embedding", dir, k = 16, iters = 2)

    val indexed = Ivf.topKIndexed(spark, dir, queries, "vec_id", "embedding",
      k = 5, nProbe = 8)
    // same model → identical results to the in-memory form
    val model = Ivf.train(emb, "vec_id", "embedding", k = 16, iters = 2)
    val direct = Ivf.topK(emb, "vec_id", "embedding", queries, model, 5, nProbe = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "nid").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(indexed) == rows(direct))

    // the corpus scan must carry a partition filter on `cell` (DPP) —
    // probing 8 of 16 cells without reading the rest
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("PartitionFilters: [isnotnull(cell"),
      s"no partition pruning on the indexed scan:\n$plan")
  }

  test("declared ANN recall contracts hold on the sf0.001 corpus") {
    val d = "/root/testdata/sf0.001"
    for (q <- Seq("q_knn_lsh", "q_knn_ivf")) {
      val out = graft.SparkEntry.queries(q)(spark, d).collect()
      assert(out.length == 10, s"$q should report all 10 query ids")
      assert(out.forall(_.getBoolean(1)), s"$q recall contract violated: ${out.mkString(",")}")
    }
  }

  test("winnowing guarantees shared fingerprints for long shared substrings") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val a = Winnowing.fingerprints(base + " alpha beta gamma")
    val b = Winnowing.fingerprints("prefix text " + base + " other suffix")
    assert((a.toSet intersect b.toSet).nonEmpty) // shared 60-char substring
    val c = Winnowing.fingerprints("entirely different content with no overlap at all here")
    assert((a.toSet intersect c.toSet).isEmpty)
    assert(Winnowing.fingerprints("short").isEmpty) // below k-gram length
  }

  test("hardPairs picks the analytic positive and hard negative, no window") {
    import spark.implicits._
    // label 0 along e1 with decreasing alignment; label 1 rotated in:
    // query id 1 → positive is id 2 (cos ≈ .995 > id 3's), hard
    // negative is id 10 (cos ≈ .707 > id 11's 0)
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f), 0),
      (2L, Seq(0.99f, 0.1f, 0f), 0),
      (3L, Seq(0.9f, 0.4f, 0f), 0),
      (10L, Seq(0.7f, 0f, 0.7f), 1),
      (11L, Seq(0f, 0f, 1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardPairs(emb, "vec_id", "embedding", "label",
      emb.filter(col("vec_id") === 1))
    val r = out.head()
    assert(r.getLong(0) == 1L && r.getInt(1) == 0)
    assert(r.getLong(2) == 2L)  // pos_id
    assert(r.getLong(4) == 10L) // neg_id
    assert(r.getDouble(3) > r.getDouble(5)) // positive outscores the negative
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window leaked into hardPairs:\n$plan")
  }

  test("epochMix: floor copies always, frac copy by selector, zero vanishes") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val out = Sampling.epochMix(docs, "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 0.0), defaultEpochs = 1.0)
      .select(col("doc_id"), col("source"), col("rep"))
      .as[(Long, String, Long)].collect()
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted).toMap
    // reps are always the contiguous prefix 0..n-1
    byDoc.values.foreach(rs => assert(rs.sameElements(rs.indices.map(_.toLong))))
    val nOf = byDoc.view.mapValues(_.length).toMap
    for (i <- 0L until 40L) { // replay the selector gate per doc
      val src = s"src${i % 4}"
      val (nFull, thr) = src match {
        case "src0" => (2, Sampling.thresholdHex(0.5))
        case "src1" => (0, Sampling.thresholdHex(0.25))
        case "src2" => (0, Sampling.thresholdHex(0.0))
        case _      => (1, Sampling.thresholdHex(0.0))
      }
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:epoch".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val n = nFull + (if (md5hex < thr) 1 else 0)
      assert(nOf.getOrElse(i, 0) == n, s"doc $i ($src): got ${nOf.getOrElse(i, 0)}, want $n")
    }
    // src2 (0 epochs) must contribute nothing at all
    assert(!out.exists(_._2 == "src2"))
  }

  test("frozen-model encodeIdsAgainst is in lockstep with encodeIds") {
    import spark.implicits._
    val docs = Seq((1L, "low lower lowest"), (2L, "low low newer"),
      (3L, ""), (4L, "wider lower")).toDF("doc_id", "text")
    val frozen = Bpe.encodeIdsAgainst(docs, "doc_id", "text",
        Bpe.wordIdRelation(docs, "text", 8))
      .as[(Long, Int, Int, Long)].collect().sorted
    val trained = Bpe.encodeIds(docs, "doc_id", "text", 8)
      .as[(Long, Int, Int, Long)].collect().sorted
    assert(frozen.sameElements(trained))
    // closed vocabulary: a word with unseen symbols contributes no
    // token rows, but its document still carries the EOS boundary
    val oov = Seq((9L, "zzz low")).toDF("doc_id", "text")
    val got = Bpe.encodeIdsAgainst(oov, "doc_id", "text",
        Bpe.wordIdRelation(docs, "text", 8))
      .as[(Long, Int, Int, Long)].collect()
    assert(got.exists(_._4 == 0L)) // EOS row present
    // 'zzz' has no 'z' in the training alphabet → only 'low' + EOS
    val lowToks = got.filterNot(_._4 == 0L)
    assert(lowToks.nonEmpty && lowToks.forall(_._2 == 2)) // wpos of 'low'
  }

  test("epochMix and lengthBuckets degrade sanely on empty/edge input") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "source")
    assert(Sampling.epochMix(empty, "doc_id", "source",
      Map("src0" -> 2.0)).count() == 0)
    assert(Packing.lengthBuckets(empty.withColumnRenamed("source", "n"),
      "doc_id", "n", 4).count() == 0)
    // batchSize larger than the corpus: everything lands in batch 0
    val tiny = Seq((1L, 5L), (2L, 9L)).toDF("doc_id", "n")
    val b = Packing.lengthBuckets(tiny, "doc_id", "n", 100)
      .select(col("batch_id")).distinct().collect()
    assert(b.map(_.getLong(0)).toSeq == Seq(0L))
    intercept[IllegalArgumentException] {
      Packing.lengthBuckets(tiny, "doc_id", "n", 0)
    }
    intercept[IllegalArgumentException] {
      Sampling.epochMix(tiny.withColumn("source", lit("s")),
        "doc_id", "source", Map("s" -> -1.0))
    }
  }

  test("packWithCarry: batched packing equals whole-corpus packing; boundary edges hold") {
    import spark.implicits._
    // token rows in the packSequences input shape: (doc_id, wpos, spos,
    // tid); doc d has d+1 tokens ending in an EOS (tid 0)
    def docToks(ids: Seq[Long]): org.apache.spark.sql.DataFrame =
      ids.flatMap(d => (0L to d).map(k =>
        (d, k.toInt, 0, if (k == d) 0L else d * 100 + k)))
        .toDF("doc_id", "wpos", "spos", "tid")
    val seqLen = 7
    val allDocs = 0L until 12L
    val want = Packing.packSequences(docToks(allDocs), "doc_id", seqLen)
      .collect().map(_.toString).sorted.toSeq
    // replay in 4 uneven batches through the carry path
    var offset = 0L
    var carry = Seq.empty[(Long, Long)].toDF("gp", "tid")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for (chunk <- Seq(allDocs.take(1), allDocs.slice(1, 5),
        allDocs.slice(5, 5), allDocs.drop(5))) { // includes an EMPTY batch
      val (complete, newCarry, newMeta) =
        Packing.packWithCarry(docToks(chunk), "doc_id", seqLen, offset, carry)
      out ++= complete.collect().map(_.toString)
      carry = newCarry.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
        .toDF("gp", "tid")
      offset = newMeta.collect()(0).getLong(0)
    }
    out ++= Packing.carryTailSequence(carry, seqLen).collect().map(_.toString)
    assert(out.sorted.toSeq == want)
    // total token count: sum of doc lengths (d+1 tokens each)
    assert(offset == allDocs.map(_ + 1).sum)
    // exact-boundary edge: a batch landing exactly on a sequence end
    // leaves an EMPTY carry and a full final sequence
    val (c2, k2, m2) = Packing.packWithCarry(
      docToks(Seq(6L)), "doc_id", seqLen, 0L,
      Seq.empty[(Long, Long)].toDF("gp", "tid")) // 7 tokens == seqLen
    assert(k2.count() == 0 && m2.collect()(0).getLong(0) == 7L)
    val full = c2.collect()
    assert(full.length == 1 && full(0).getAs[Long]("seq_len") == 7L)
  }

  test("lengthBuckets: two-level rank equals a global sort's batches") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, (i * 37 % 101))).toDF("doc_id", "n")
      .repartition(7)
    val got = Packing.lengthBuckets(docs, "doc_id", "n", 16)
      .select(col("doc_id"), col("len"), col("batch_id"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val want = (0L until 200L).map(i => (i, i * 37 % 101))
      .sortBy { case (id, n) => (-n, id) }
      .zipWithIndex.map { case ((id, n), rk) => (id, n, rk.toLong / 16) }
      .sortBy(_._1)
    assert(got.sameElements(want))
  }
}
