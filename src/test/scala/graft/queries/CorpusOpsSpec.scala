package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Invariants for the corpus-versioning and leakage-safe-split
  * operators beyond their hash oracles.
  */
class CorpusOpsSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("grouped split never separates a near-dup cluster") {
    val out = graft.SparkEntry.queries("q_split_grouped")(spark, sf)
    val violations = out.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(violations == 0)
    // and the split is non-degenerate: every cluster-sized draw still
    // lands all three labels on this corpus
    assert(out.select(col("split")).distinct().count() == 3)
    // dup clusters exist at this SF (planted duplicates) — the
    // invariant is exercised, not vacuous
    val multiDoc = out.groupBy(col("cluster_id")).count()
      .filter(col("count") > 1).count()
    assert(multiDoc > 0)
  }

  test("corpus diff statuses match the planted derivation exactly") {
    val rows = graft.SparkEntry.queries("q_corpus_diff")(spark, sf).collect()
    rows.foreach { r =>
      val id = r.getLong(0); val st = r.getString(3)
      if (id >= 5000000L) assert(st == "added", s"$id: $st")
      else if (id % 7 == 0) assert(st == "removed", s"$id: $st")
      else if (id % 11 == 0) assert(st == "modified", s"$id: $st")
      else assert(st == "unchanged", s"$id: $st")
    }
    val statuses = rows.map(_.getString(3)).toSet
    assert(statuses == Set("added", "removed", "modified", "unchanged"))
  }
}
