package graft

import org.scalatest.funsuite.AnyFunSuite

/** The repo's cross-engine discipline (decimal sums, floor contracts,
  * total-order tie-breaks) claims results independent of partitioning
  * and summation order. This spec TESTS that claim: representative
  * queries from each determinism-sensitive family must produce
  * byte-identical row sequences under 3 and 16 shuffle partitions —
  * catching any accidental dependence on partition count, partial-agg
  * grouping, or collect order that the single-config oracle run could
  * never see.
  */
class PartitionInvarianceSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  // one per family: double-summing LM scores, window ranks, banded
  // cumsum, iterative propagation, TakeOrdered, decimal money math,
  // sketch-free corpus stats, retrieval scoring
  private val Probes = Seq(
    "q_ppl_band",          // decimal-summed per-doc LM scores
    "q_token_budget",      // banded cumsum + boundary window
    "q_pagerank_hosts",    // iterative floor-contract propagation
    "q_pmi_colloc",        // TakeOrdered over floored doubles
    "q_agg_pricing",       // decimal money aggregation
    "q_signal_corr",       // decimal(38,0) moment sums
    "q_bm25_topk",         // indexed retrieval + rank windows
    "q_zipf_slope",        // least-squares over decimal coordinates
    // round-14 families: the two-level prefix scan's partition-local
    // offsets MUST compose to the same global positions at any width
    // (spark_partition_id is in the plan — the invariance is the
    // point), and the span interval-merge windows + in-row greedy
    // folds must not depend on partial-agg grouping
    "q_pack_attention",    // two-level scan + per-sequence folds
    "q_span_mix",          // sparse windows + merged-interval cut
    "q_chunk_sentences",   // in-row greedy fold over sentence lengths
    "q_length_buckets",    // two-level global rank over (len, id)
    "q_pretrain_pipeline", // five composed stages incl. the two-level scan
    // round-15 families: hard-EM's E-step aggregates Viterbi piece
    // counts across partitions (integer micro-log scores must make the
    // argmax partition-free), and the data-derived sqrt keep-rates
    // must not depend on the count aggregation's grouping
    "q_unigram_tokenize",  // distributed Viterbi-EM + frozen encode
    "q_temperature_mix",   // data-derived bit-exact keep thresholds
    "q_semdedup_autok",    // auto-k cells + two-level assignment + pinned hash join
    // round-18 family: the DISTRIBUTED integer Lloyd (quantized
    // distances, truncating-division means, lowest-cell ties) claims
    // bit-stable assignments under any partitioning — the claim is
    // the whole point of the KMeans-discipline arithmetic
    "q_semdedup_dist")


  // shuffle.partitions is a RUNTIME SQLConf -- flip it on the shared
  // session instead of stop()ing the JVM-wide context out from under
  // sibling suites
  private def runAll(parts: Int): Map[String, Seq[String]] = {
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try Probes.map { name =>
      name -> SparkEntry.queries(name)(spark, sf).collect()
        .map(_.mkString("|")).toSeq
    }.toMap
    finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("results are byte-identical under 3 vs 16 shuffle partitions") {
    val a = runAll(3)
    val b = runAll(16)
    for (name <- Probes) {
      assert(a(name) == b(name),
        s"$name differs between partition counts: " +
          a(name).zip(b(name)).find { case (x, y) => x != y }
            .map { case (x, y) => s"first diff:\n  p3 = $x\n  p16 = $y" }
            .getOrElse(s"lengths ${a(name).length} vs ${b(name).length}"))
    }
  }
}
