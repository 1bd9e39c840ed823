package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The cluster-scale techniques SCALE.md commits to, proven on local
  * plans: salted aggregation equivalence, and bucketed co-located joins
  * planning without a shuffle on the join key.
  */
class ScaleTechniquesSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("stratified sampling plans as a shuffle-free scan + filter") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(Sampling.stratifiedSample(
      docs, "doc_id", "source", Map("src0" -> 0.5), 0.125))
    assert(!plan.contains("Exchange"), plan) // map-only at any scale
  }

  test("contamination screen broadcasts the benchmark side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(Contamination.screen(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), "doc_id", "text"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // candidate document content never shuffles: the only exchanges are
    // the two shingle-distincts (16-byte hashed rows) and the final agg
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("decontamination excision broadcasts the benchmark gram side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(Contamination.excise(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"), "doc_id", "text"))
    // the candidate-gram semi-join must broadcast the bench grams — a
    // sort-merge here would shuffle one (id, pos, hash) row per
    // candidate token
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("self-excision broadcasts the repeated-gram side") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(
      Contamination.selfExcise(docs, "doc_id", "text", n = 8, minDf = 2))
    // same contract as benchmark excision: the gram semi-join must
    // broadcast, never sort-merge one row per candidate token
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("funnel v2 prunes the unused text reassembly from the plan") {
    val spark2 = spark
    val plan = planOf(graft.queries.ExtQueries
      .queries("q_curation_funnel2")(spark2, sf))
    // the funnel never emits clean_text, so the collect_list/array_sort
    // reassembly aggregate must be column-pruned away — the composed
    // plan moves counts and selectors, never document text
    assert(!plan.contains("collect_list"), plan)
    assert(!plan.contains("array_sort"), plan)
  }

  test("vocabulary building aggregates partially before its one shuffle") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = planOf(Sampling.vocab(docs, "text"))
    assert(plan.contains("partial_count"), plan) // map-side combine
  }

  test("salted aggregation equals direct groupBy (skew-safe two-phase)") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val dec = col("value").cast("decimal(18,2)") // exact: order-independent
    val direct = ev.groupBy(col("event_type"))
      .agg(sum(dec).as("total"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    val salted = Skew.saltedAgg(ev, "event_type", dec, saltBuckets = 16)
      .collect().map(r => (r.getString(0), r.getDecimal(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("bucketed tables join without an exchange on the join key") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_bucketed")

    // disable auto-broadcast so the join would otherwise shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() == li.count()) // every lineitem has its order
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("AQE splits a hot join partition at runtime (skew=true in the final plan)") {
    // Own session: skew thresholds scale down to test-data sizes (the
    // 256 MB production default would never trigger on kilobytes).
    // Factor 2 / 64k threshold ≈ the same hot-to-median ratio a 100 TB
    // stopword key shows against 256 MB partitions.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    import s2.implicits._
    // 200k fact rows, 95% on key 0: that partition dwarfs both the
    // 64k threshold and 2× the median of the other 7
    val fact = s2.range(0, 200000)
      .select(when($"id" % 20 =!= 0, 0L).otherwise($"id").as("k"), $"id".as("v"))
    val dim = s2.range(0, 200000).select($"id".as("k"), ($"id" * 2).as("w"))
    val joined = Skew.aqeJoin(fact, dim, "k")
    assert(joined.count() == 200000) // row-correct regardless of the split
    joined.collect() // materialize THIS df so its adaptive plan finalizes
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE did not split the hot partition:\n$plan")
  }
}
