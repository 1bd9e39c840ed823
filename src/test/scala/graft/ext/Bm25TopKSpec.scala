package graft.ext

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{In, InSet}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** `Bm25.topK` reads one snapshot: its rows equal the full-store join
  * plan's (kept below as the reference) row for row, and one read runs
  * in at most 4 jobs, none of them schema inference, with the query's
  * `tok IN (…)` filter pushed into the tf scan and one shuffle, fed by
  * a partial aggregate. */
class Bm25TopKSpec extends AnyFunSuite with SparkSuite
    with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The full-store join plan `topK` replaced: three listings, three
    * inferred-schema reads, df/stats folded by Spark, broadcast joins. */
  private def referenceTopK(spark: SparkSession, dir: String,
                            queryTerms: DataFrame, k: Int): DataFrame = {
    val tf = spark.read.parquet(Bm25.storePaths(spark, dir, "tf"): _*)
    val dfr = spark.read.parquet(Bm25.storePaths(spark, dir, "df"): _*)
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
    val stats = spark.read.parquet(Bm25.storePaths(spark, dir, "stats"): _*)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot_dl")).as("tot_dl"))
    val qdf = queryTerms.join(dfr, Seq("tok"))
    val cand = tf.join(broadcast(qdf), Seq("tok"))
      .filter(col("doc_id") =!= col("qid"))
      .crossJoin(broadcast(stats))
    val nd = col("n_docs").cast("double")
    val avgdl = col("tot_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) + (nd - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfn = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    val scored = cand
      .select(col("qid"), col("doc_id"),
        round(idf * tfn, 6).cast("decimal(14,6)").as("c6"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_match"),
        (floor(sum(col("c6")).cast("double") * 1e4 + 0.5) / 1e4).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("doc_id"), col("n_match"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/store"

  private val baseDocs = Seq(
    (0L, "alpha beta gamma"), (1L, "alpha alpha delta"),
    (2L, "beta beta beta"), (3L, "gamma delta epsilon"),
    (4L, "alpha epsilon"), (5L, "delta delta gamma"),
    (6L, "epsilon beta alpha"), (7L, "gamma gamma alpha beta"))

  /** Generation 0 over `baseDocs`, plus two committed staged batches:
    * `Int` ids carrying `zeta`, a term no base document has, and an
    * all-empty batch (its stats row is (0, 0)). */
  private lazy val gen: String = {
    val root = tmpRoot("bm25_topk")
    val g0 = GenerationStore.publish(spark, root) { dir =>
      Bm25.ensureIndex(baseDocs.toDF("doc_id", "text"), "doc_id", "text", dir)
    }
    Bm25.ingestIntoIndex(spark, g0, Seq((10, "zeta alpha"), (11, "zeta zeta beta"),
      (12, "gamma omega")).toDF("doc_id", "text"), "doc_id", "text")
    Bm25.ingestIntoIndex(spark, g0,
      Seq((20L, ""), (21L, "")).toDF("doc_id", "text"), "doc_id", "text")
    assert(Bm25.committedBatchDirs(spark, g0).length == 2)
    g0
  }

  /** Query terms covering: the query's own document holding the term
    * (qid 0), a term absent from the vocabulary (qid 1), a term only a
    * staged batch holds (qid 2), a duplicate (qid, tok) row (qid 3). */
  private val queries = Seq(
    (0, "alpha"), (0, "beta"),
    (1, "nope"), (1, "delta"),
    (2, "zeta"), (2, "epsilon"),
    (3, "gamma"), (3, "gamma"), (3, "omega"))

  /** `topK`'s rows, asserted equal to the reference's in schema and
    * order. */
  private def assertSameAsReference(dir: String, q: DataFrame,
                                    k: Int): Array[Row] = {
    val got = Bm25.topK(spark, dir, q, k)
    val want = referenceTopK(spark, dir, q, k)
    assert(got.schema == want.schema)
    val rows = got.collect()
    assert(rows.toSeq == want.collect().toSeq)
    rows
  }

  test("topK equals the full-store join plan row for row, Long and Int qid") {
    val qLong = queries.map { case (q, t) => (q.toLong, t) }.toDF("qid", "tok")
    val qInt = queries.toDF("qid", "tok")
    for ((q, qType) <- Seq(qLong -> "bigint", qInt -> "int"); k <- Seq(3, 50)) {
      val rows = assertSameAsReference(gen, q, k)
      assert(rows.nonEmpty)
      assert(rows.head.schema("qid").dataType.simpleString == qType)
      // a query's own document is never a candidate
      assert(rows.forall(r => r.getAs[Number]("qid").longValue != r.getLong(2)))
      // the batch-only term finds the batch documents
      assert(rows.exists(r => r.getAs[Number]("qid").intValue == 2 && r.getLong(2) == 11L))
      // k beyond the candidate set keeps every candidate, ranks 1..n
      val perQid = rows.groupBy(_.getAs[Number]("qid").intValue)
      perQid.values.foreach(rs => assert(rs.map(_.getInt(1)).toSeq == (1 to rs.length)))
      if (k == 50) assert(perQid.values.forall(_.length < k))
    }
  }

  test("no query term in the vocabulary: empty result, same schema") {
    for (q <- Seq(Seq((0L, "nope"), (1L, "nada")).toDF("qid", "tok"),
                  Seq.empty[(Int, String)].toDF("qid", "tok")))
      assert(assertSameAsReference(gen, q, 5).isEmpty)
  }

  test("an index over no documents: empty result, same schema") {
    val root = tmpRoot("bm25_topk_empty")
    val g0 = GenerationStore.publish(spark, root) { dir =>
      Bm25.ensureIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }
    // an all-empty batch: the stats fold is (0 docs, 0 tokens)
    Bm25.ingestIntoIndex(spark, g0, Seq((1L, "")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(assertSameAsReference(g0, Seq((0L, "alpha")).toDF("qid", "tok"), 5).isEmpty)
  }

  test("a read made after an ingest sees the new batch") {
    val root = tmpRoot("bm25_topk_ingest")
    val g0 = GenerationStore.publish(spark, root) { dir =>
      Bm25.ensureIndex(baseDocs.toDF("doc_id", "text"), "doc_id", "text", dir)
    }
    val q = Seq((0L, "alpha"), (0L, "kappa")).toDF("qid", "tok")
    val before = assertSameAsReference(g0, q, 10)
    assert(!before.exists(_.getLong(2) == 30L))
    Bm25.ingestIntoIndex(spark, g0,
      Seq((30L, "kappa kappa alpha")).toDF("doc_id", "text"), "doc_id", "text")
    val after = assertSameAsReference(g0, q, 10)
    assert(after.head.getLong(2) == 30L)
  }

  /** A session whose tf scan takes one split per file: a single-split
    * scan, as `gen`'s few small files give by default, needs no
    * shuffle at all. */
  private lazy val split: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    s.conf.set("spark.sql.files.openCostInBytes", "1024")
    s
  }

  test("one read: at most 4 jobs, no schema inference, tok filter pushed into the tf scan") {
    val q = queries.map { case (q, t) => (q.toLong, t) }.toDF("qid", "tok")
    Bm25.topK(split, gen, q, 3).collect() // warm: codegen, file status cache
    val jobs = ListenerBusDrain.jobsOf(spark.sparkContext)(Bm25.topK(split, gen, q, 3).collect())
    assert(jobs.length <= 4, jobs)
    assert(!jobs.exists(_.startsWith("parquet at")), jobs)

    val tfScans = Bm25.topK(spark, gen, q, 3).queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.forall(_.getName == "tf") => s
    }
    assert(tfScans.nonEmpty)
    tfScans.foreach { s =>
      assert(s.dataFilters.exists(_.find {
        case i: In => i.value.references.map(_.name).toSet == Set("tok")
        case i: InSet => i.child.references.map(_.name).toSet == Set("tok")
        case _ => false
      }.isDefined), s.dataFilters)
      assert(s.metadata("PushedFilters").contains("In(tok"), s.metadata("PushedFilters"))
    }
  }

  test("one read has one shuffle, fed by a partial aggregate in the scan stage") {
    val q = queries.map { case (q, t) => (q.toLong, t) }.toDF("qid", "tok")
    val read = Bm25.topK(split, gen, q, 3)
    read.collect()
    // the final adaptive plan, query stages included
    val plan = read.queryExecution.executedPlan
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.length == 1, plan)
    // every candidate posting is pre-aggregated per (qid, doc_id) before
    // it is shipped, not moved raw to the one task after the shuffle
    assert(shuffles.head.child.exists {
      case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
      case _ => false
    }, plan)
  }
}
