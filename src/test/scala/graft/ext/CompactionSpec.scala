package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Compaction contract for the append-only ingest stores: a compaction
  * publishes a new generation whose serving output is bit-identical to
  * the generation it folds, with provably fewer data files. Plus the
  * near-dup band-store retention (ttl) path.
  */
class CompactionSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_compact_$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("writerWidth reads spark.sql.defaultSizeInBytes as a bytes conf") {
    val s = spark.newSession()
    s.conf.set("spark.sql.defaultSizeInBytes", "10g")
    s.conf.set("spark.sql.shuffle.partitions", "3")
    // a real estimate keeps its bytes-derived width
    assert(Compaction.writerWidth(s.range(1000).toDF()) == 1)
    // an RDD-backed relation has no estimate: the shuffle width
    val rdd = s.createDataFrame(s.sparkContext.parallelize(Seq(Row(1L))),
      StructType(Seq(StructField("x", LongType))))
    assert(Compaction.writerWidth(rdd) == 3)
  }

  test("count-min store: compaction folds partials, estimates unchanged") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val root = tmpDir("cms") + "/store"
    val held = GenerationStore.publish(spark, root) { g =>
      (0 until 3).foreach { i =>
        CountMin.ingestIntoStore(g, docs.filter(col("doc_id") % 3 === i), "text")
      }
    }
    val cands = Seq("the", "and", "data", "zzz_absent").toDF("tok")
    def serve(gen: String) = sortedRows(
      CountMin.estimates(cands, CountMin.storeSketch(spark, gen)))
    val cur = Compaction.compactCmsToGeneration(spark, root)
    assert(serve(held) == serve(cur))
    val filesBefore = Compaction.parquetFileCount(spark, held)
    val filesAfter = Compaction.parquetFileCount(spark, cur)
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    // the fold landed as ONE base sketch with no staged batches
    assert(spark.read.parquet(s"$cur/base").count() <=
      CountMin.Depth * CountMin.Width)
    assert(StagedBatches.committedDirs(spark, cur).isEmpty)
  }

  /** Query terms of the first five documents, collected so the
    * relation does not depend on the index it queries. */
  private def qtermsOf(dir: String) = {
    import spark.implicits._
    spark.read.parquet(s"$dir/tf")
      .filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("tok")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.toDF("qid", "tok")
  }

  test("bm25 index: tf compaction preserves top-k, reduces files") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val root = tmpDir("bm25") + "/store"
    val held = GenerationStore.publish(spark, root)(
      Bm25.ensureIndex(docs, "doc_id", "text", _))
    val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Bm25.ingestIntoIndex(spark, held, copies.filter(col("doc_id") % 2 === 0),
      "doc_id", "text")
    Bm25.ingestIntoIndex(spark, held, copies.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text")
    val qterms = qtermsOf(held)
    val before = sortedRows(Bm25.topK(spark, held, qterms, 5))
    // streaming ingest stages one COMMITTED batch dir per micro-batch;
    // the base df/stats stay single-generation and the serving fold
    // spans base + batches
    assert(Bm25.committedBatchDirs(spark, held).length == 2)
    val dfFolded = spark.read.parquet(Bm25.storePaths(spark, held, "df"): _*)
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(spark.read.parquet(s"$held/stats").count() == 1L)
    val cur = Compaction.compactBm25ToGeneration(spark, root)
    assert(sortedRows(Bm25.topK(spark, cur, qterms, 5)) == before)
    val filesBefore = Compaction.parquetFileCount(spark, held)
    val filesAfter = Compaction.parquetFileCount(spark, cur)
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    // the fold materialized into a single base generation: no batches,
    // df value-identical to the pre-compaction serving fold, stats a
    // single row
    assert(Bm25.committedBatchDirs(spark, cur).isEmpty)
    val dfAfter = spark.read.parquet(s"$cur/df")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(dfAfter == dfFolded)
    assert(spark.read.parquet(s"$cur/stats").count() == 1L)
  }

  test("bm25 ingest commits batches atomically; uncommitted staging is invisible") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val root = tmpDir("bm25atomic") + "/store"
    val held = GenerationStore.publish(spark, root)(
      Bm25.ensureIndex(docs, "doc_id", "text", _))
    val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Bm25.ingestIntoIndex(spark, held, copies, "doc_id", "text")
    val qterms = qtermsOf(held)
    val committed = sortedRows(Bm25.topK(spark, held, qterms, 5))
    // simulate a crash mid-ingest: a staged batch dir with data but NO
    // _COMMITTED marker must not change any serving result — the
    // crash-window the old three-append layout had (tf visible, its
    // df/stats increments lost, every score silently skewed)
    val batches = Bm25.committedBatchDirs(spark, held)
    assert(batches.length == 1)
    val debris = s"$held/batches/b_crashdebris"
    // committedBatchDirs returns fs-qualified paths (file:/...)
    val headLocal = batches.head.stripPrefix("file:")
    for (sub <- Seq("tf", "df", "stats")) {
      val src = new java.io.File(s"$headLocal/$sub")
      val dst = new java.io.File(s"$debris/$sub")
      dst.mkdirs()
      src.listFiles().foreach { f =>
        java.nio.file.Files.copy(f.toPath,
          dst.toPath.resolve(f.getName))
      }
    }
    assert(Bm25.committedBatchDirs(spark, held).length == 1,
      "unmarked staging dir must stay invisible")
    assert(sortedRows(Bm25.topK(spark, held, qterms, 5)) == committed)
    // compaction never folds the debris: the new generation carries no
    // batches at all, and serves exactly the committed state
    val cur = Compaction.compactBm25ToGeneration(spark, root)
    assert(!new java.io.File(s"$cur/batches").exists())
    assert(sortedRows(Bm25.topK(spark, cur, qterms, 5)) == committed)
  }

  test("bm25 auto-compaction fires exactly at the batch threshold, serving unchanged") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = tmpDir("bm25auto")
    val root = s"$base/store"
    val g0 = GenerationStore.publish(spark, root)(
      Bm25.ensureIndex(docs, "doc_id", "text", _))
    val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    (0 until 3).foreach { i =>
      copies.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.parquet(s"$base/src/b$i")
    }
    val stream = spark.readStream.schema(copies.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(s"$base/src")
    val nBatches = graft.streaming.StreamPipeline.bm25IngestGen(spark, stream,
      root, "doc_id", "text", autoCompactEvery = 3)
    assert(nBatches == 3L, s"expected 3 micro-batches, saw $nBatches")
    // exactly one new generation, published at the third batch; the
    // age-gated gc keeps generation 0 for its readers
    val gens = new java.io.File(s"$root/generations").list().toSeq
    assert(gens.length == 2, s"expected exactly one new generation: $gens")
    val cur = GenerationStore.currentGenDir(spark, root).get
    assert(cur != g0)
    assert(Bm25.committedBatchDirs(spark, cur).isEmpty)
    assert(Bm25.committedBatchDirs(spark, g0).length == 3)
    // serving equals a replayed no-compaction ingest of the same docs
    val expectDir = tmpDir("bm25auto_ref") + "/idx"
    Bm25.ensureIndex(docs, "doc_id", "text", expectDir)
    Bm25.ingestIntoIndex(spark, expectDir, copies, "doc_id", "text")
    val qterms = qtermsOf(g0)
    assert(sortedRows(Bm25.topK(spark, cur, qterms, 5)) ==
      sortedRows(Bm25.topK(spark, expectDir, qterms, 5)))
  }

  test("attributes store: compaction preserves mixes, reduces files") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val root = tmpDir("attrs") + "/store"
    val held = GenerationStore.publish(spark, root)(
      Attributes.ensureAttributes(docs, _))
    val copies = docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    Attributes.ingestIntoAttributes(held, copies.filter(col("doc_id") % 2 === 0))
    Attributes.ingestIntoAttributes(held, copies.filter(col("doc_id") % 2 =!= 0))
    val union = docs.unionByName(copies)
    def mix(dir: String) = sortedRows(
      Attributes.mixed(spark, dir, union, col("clf_keep") && col("gopher_keep"))
        .select(col("doc_id"), col("n_words"), col("quality_q4"), col("lang")))
    // staged ingest batches live under batches/<id>/ — count the store
    def attrFiles(dir: String) = Attributes.attrsPaths(spark, dir)
      .map(Compaction.parquetFileCount(spark, _)).sum
    val cur = Compaction.compactAttrsToGeneration(spark, root)
    assert(mix(held) == mix(cur))
    assert(attrFiles(cur) < attrFiles(held), s"${attrFiles(cur)} !< ${attrFiles(held)}")
    // row count preserved (relayout, not a fold)
    assert(spark.read.parquet(s"$cur/attrs").count() == union.count())
    assert(StagedBatches.committedDirs(spark, cur).isEmpty)
  }

  test("span store: compaction preserves spans and mixes, reduces files") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        concat(regexp_replace(coalesce(col("text"), lit("")), "[0-9]", "x"),
          lit(" pay 4111111111111111 mail user"),
          col("doc_id").cast("string"), lit("@example.com")).as("text"))
    val bench = docs.filter(col("source") === "src0")
    val cand = docs.filter(col("source") =!= "src0")
    val root = tmpDir("spans") + "/store"
    val held = GenerationStore.publish(spark, root)(
      Attributes.ensureSpanAttributes(cand, bench, _, n = 3))
    val copies = cand.select((col("doc_id") + 1000000L).as("doc_id"),
      col("source"), col("text"))
    Attributes.ingestIntoSpanAttributes(held, copies, Attributes.benchGramSet(bench))
    def spans(dir: String) = sortedRows(Attributes.readSpans(spark, dir))
    def spanFiles(dir: String) = Attributes.spanPaths(spark, dir)
      .map(Compaction.parquetFileCount(spark, _)).sum
    val cur = Compaction.compactSpansToGeneration(spark, root)
    assert(spans(cur) == spans(held))
    assert(spanFiles(cur) < spanFiles(held))
    assert(StagedBatches.committedDirs(spark, cur).isEmpty)
  }

  test("ivf corpus: compaction preserves probes, folds cell files") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val root = tmpDir("ivf") + "/store"
    val held = GenerationStore.publish(spark, root)(
      Ivf.buildIndex(emb, "vec_id", "embedding", _, k = 8, iters = 2))
    val copies = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"))
    Ivf.ingestIntoIndex(spark, held, copies.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding")
    Ivf.ingestIntoIndex(spark, held, copies.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 37 === 0)
    def probe(dir: String) = sortedRows(
      Ivf.topKIndexed(spark, dir, queries, "vec_id", "embedding",
        k = 3, nProbe = 2))
    val before = probe(held)
    // ingest STAGES batches under batches/<id>/ — a reader folds only
    // committed ones, so deleting a marker must hide that batch and
    // restoring it must bring the rows back (the torn-batch guard)
    val batches = Ivf.committedBatchDirs(spark, held)
    assert(batches.length == 2, s"expected 2 committed batches: $batches")
    val marker = new org.apache.hadoop.fs.Path(s"${batches.head}/_COMMITTED")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(marker, false)
    assert(Ivf.committedBatchDirs(spark, held).length == 1)
    assert(probe(held) != before, "an uncommitted batch must be invisible")
    fs.create(marker, false).close()
    assert(probe(held) == before)
    val cur = Compaction.compactIvfToGeneration(spark, root)
    assert(probe(cur) == before)
    // whole-index file count: base corpus + staged batches
    val filesBefore = Compaction.parquetFileCount(spark, held)
    val filesAfter = Compaction.parquetFileCount(spark, cur)
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    assert(Ivf.committedBatchDirs(spark, cur).isEmpty,
      "the folded generation must carry no staged batches")
  }

  test("compaction between streaming micro-batches: serving equals union sketch") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val root = tmpDir("cmsstream") + "/store"
    def ingestStreaming(part: org.apache.spark.sql.DataFrame, tag: String,
                        store: String): Unit = {
      val src = tmpDir(s"cmssrc$tag")
      part.withColumn("half", col("doc_id") % 4)
        .repartition(2).write.mode("overwrite").parquet(src)
      val stream = spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .select(col("doc_id"), col("text"))
      graft.streaming.StreamPipeline.cmsIngest(spark, stream, store, "text")
    }
    GenerationStore.publish(spark, root)(ingestStreaming(half1, "a", _))
    val cur = Compaction.compactCmsToGeneration(spark, root) // mid-ingest
    ingestStreaming(half2, "b", cur)
    val merged = sortedRows(CountMin.storeSketch(spark, cur))
    val direct = sortedRows(CountMin.sketch(CountMin.tokens(docs, "text")))
    assert(merged == direct)
  }

  test("pruneBandStore on a store built without tsCol fails with intent") {
    import spark.implicits._
    val dir = tmpDir("notscol") + "/bands"
    Seq((1L, "x", 0)).toDF("id", "key", "band").write.parquet(dir)
    val e = intercept[RuntimeException](
      Compaction.pruneBandStore(spark, dir, minTs = 0L))
    assert(e.getMessage.contains("built without retention"))
  }

  test("near-dup band store: aged-out signatures no longer pair; prune bounds rows") {
    import spark.implicits._
    val base = tmpDir("ttl")
    val srcDir = java.nio.file.Paths.get(base, "src")
    java.nio.file.Files.createDirectories(srcDir)
    val mkText = (tag: String) =>
      s"alpha beta gamma delta epsilon zeta eta theta $tag iota kappa"
    // three docs with IDENTICAL text arriving at ts 0, 100k, 200k; a
    // fourth distinct doc per batch keeps batches non-trivial
    val rows = Seq(
      (1L, mkText("same"), 0L), (11L, mkText("one"), 0L),
      (2L, mkText("same"), 100000L), (12L, mkText("two"), 100000L),
      (3L, mkText("same"), 200000L), (13L, mkText("three"), 200000L))
    val all = rows.toDF("doc_id", "text", "ts")
    Seq(0L, 100000L, 200000L).zipWithIndex.foreach { case (t, i) =>
      all.filter(col("ts") === t).coalesce(1)
        .write.parquet(srcDir.resolve(s"b$i").toString)
    }
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(srcDir.toString)
    val store = s"$base/bands"
    val out = s"$base/pairs"
    // ttl = 150k: batch at ts 200k pairs with ts 100k (age 100k) but
    // NOT with ts 0 (age 200k, aged out)
    val pairs = graft.streaming.StreamPipeline.incrementalNearDups(
        spark, stream, all.select(col("doc_id"), col("text")), store, out,
        n = 3, minJ = 0.8, tsCol = Some("ts"), ttl = Some(150000L))
      .select(col("i"), col("j")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,2): ages 0 vs 100k — in window whichever batch order; (2,3) in
    // window; (1,3): doc 1 aged out when 3 arrives → absent
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((2L, 3L)))
    assert(!pairs.contains((1L, 3L)), s"aged-out pair leaked: $pairs")
    // physical prune: drop signatures below ts 100k, store bounded
    val rowsBefore = spark.read.option("recursiveFileLookup", "true")
      .parquet(store).count()
    Compaction.pruneBandStore(spark, store, minTs = 100000L)
    val pruned = spark.read.option("recursiveFileLookup", "true").parquet(store)
    assert(pruned.count() < rowsBefore)
    assert(pruned.agg(min(col("ts"))).head.getLong(0) >= 100000L)
  }
}
