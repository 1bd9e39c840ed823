package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Semantic invariants of the retrieval family (q_bm25_topk,
  * q_inverted_index, q_pmi_colloc) that the hash oracle doesn't state
  * directly: BM25 ranks a near-copy of the query document first,
  * posting lists are sorted/deduplicated, PMI puts an always-adjacent
  * pair above an independent pair.
  */
class RetrievalSpec extends AnyFunSuite with SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("bm25 ranks the verbatim duplicate of a query document first") {
    val rows = RetrievalQueries.queries("q_bm25_topk")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the corpus carries exact duplicates (documents are generated with
    // dup pairs); for any qid whose text has a verbatim twin, that twin
    // must be rank 1 — check structure instead of data: rank sequences
    // are 1..k dense per qid and scores are non-increasing
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (_, rs) =>
      val ranks = rs.map(_.getInt(1)).sorted
      assert(ranks.sameElements(1 to ranks.length))
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("bm25 gives a doc equal to the query the top score on a planted corpus") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (100L, "alpha beta gamma delta epsilon"), // verbatim twin of q0
      (101L, "alpha beta zeta eta theta"),      // partial overlap
      (102L, "iota kappa lambda mu nu"),        // disjoint
      (103L, "alpha omega psi chi phi")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25spec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = RetrievalQueries.queries("q_bm25_topk")(spark, dir).collect()
    val q0 = out.filter(_.getLong(0) == 0L).sortBy(_.getInt(1))
    assert(q0.head.getLong(2) == 100L, s"twin not ranked first: ${q0.mkString(";")}")
    assert(!q0.map(_.getLong(2)).contains(102L)) // no shared term → no candidate
  }

  test("bm25 index stats agree with the tf relation") {
    val sf01 = "/root/testdata/sf0.001"
    val dir = graft.ext.Bm25.indexFor(Tables.documents(spark, sf01), sf01)
    val tfFirst = spark.read.parquet(s"$dir/tf")
    val stats = spark.read.parquet(s"$dir/stats").collect()(0)
    val fromTf = tfFirst.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)), sum(col("dl"))).collect()(0)
    assert(stats.getLong(0) == fromTf.getLong(0))
    assert(stats.getLong(1) == fromTf.getLong(1))
    // dl in the index equals the sum of that doc's tf rows
    val bad = tfFirst.groupBy(col("doc_id"), col("dl"))
      .agg(sum(col("tf")).as("s")).filter(col("s") =!= col("dl")).count()
    assert(bad == 0)
  }

  test("inverted index postings are sorted, distinct, and gap-consistent") {
    val rows = RetrievalQueries.queries("q_inverted_index")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 50) // sf0.001 vocab < 50 terms
    rows.foreach { r =>
      val df = r.getLong(1); val first = r.getLong(2); val last = r.getLong(3)
      val maxGap = r.getLong(4)
      assert(first <= last)
      if (df >= 2) {
        assert(maxGap >= 1)                       // distinct sorted ids
        assert(maxGap <= last - first)            // a gap can't exceed the span
        assert(last - first >= df - 1)            // df distinct ids need span
      } else assert(maxGap == 0)
    }
    // df ordering is the index's contract
    val dfs = rows.map(_.getLong(1))
    assert(dfs.zip(dfs.tail).forall { case (a, b) => a >= b })
  }

  test("trigram prefilter is lossless: candidates cover every true match") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val trueMatches = docs
      .filter(col("text").contains(RetrievalQueries.TrigramPattern))
      .select(col("doc_id")).as[Long].collect().toSet
    val out = graft.SparkEntry.queries("q_trigram_prefilter")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    val candidates = out.map(_._1).toSet
    val verified = out.filter(_._2).map(_._1).toSet
    assert(trueMatches.subsetOf(candidates), "prefilter dropped a true match")
    assert(verified == trueMatches, "verify phase disagrees with direct scan")
    assert(trueMatches.nonEmpty, "pattern matches nothing — test is vacuous")
  }

  test("trigram candidate probe reads ONLY the persisted posting index") {
    val dir = graft.ext.TrigramIndex.indexFor(Tables.documents(spark, sf), sf)
    // second probe: the candidate plan must scan the index dir and must
    // NOT rebuild postings inline (no Generate/explode, no documents
    // parquet) — the serve-many contract the persistence buys
    val cand = graft.ext.TrigramIndex.candidates(
      spark, dir, RetrievalQueries.TrigramPattern)
    val plan = cand.queryExecution.executedPlan.toString
    assert(cand.inputFiles.nonEmpty &&
      cand.inputFiles.forall(_.contains(s"$dir/postings/")),
      "probe does not scan the index")
    assert(!plan.contains("Generate"), "probe rebuilds postings inline")
    assert(!plan.contains("documents.parquet"),
      "candidate generation touches the corpus")
    // and the index-only probe actually yields the candidate set (the
    // losslessness test proved matches exist at this SF, so empty here
    // would mean a broken postings read, not an absent pattern)
    assert(cand.count() > 0, "index probe returned no candidates")
  }

  test("pagerank concentrates rank on the sink hub of a star graph") {
    import spark.implicits._
    // 5 spokes all pointing at one hub; hub has no outlinks (dangling)
    val edges = (1 to 5).map(i => (s"s$i", "hub", 1L)).toDF("src", "dst", "w")
    val r = graft.ext.PageRank.ranks(edges).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r("hub") > r("s1") * 3) // the hub dominates every spoke
    assert(r.values.forall(_ > 0))
    val spokes = (1 to 5).map(i => r(s"s$i")).distinct
    assert(spokes.size == 1) // symmetric spokes rank identically
  }

  test("pagerank ranks on the corpus graph are positive and ref hubs lead") {
    val out = graft.SparkEntry.queries("q_pagerank_hosts")(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getDouble(1) > 0))
    // ref-* hosts are pure sinks fed by every source host — each must
    // outrank every source host (which only receives the base mass)
    val (refs, srcs) = out.partition(_.getString(0).startsWith("ref-"))
    assert(refs.nonEmpty && srcs.nonEmpty)
    assert(refs.map(_.getDouble(1)).min > srcs.map(_.getDouble(1)).max)
  }

  test("pmi ranks an always-adjacent pair above independent pairs") {
    import spark.implicits._
    // "zq xq" always adjacent (PMI high); filler words independent
    val docs = (0 until 40).map { i =>
      (i.toLong, s"zq xq w${i % 2} w${(i + 1) % 3} w${i % 5} common word here")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("pmispec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = RetrievalQueries.queries("q_pmi_colloc")(spark, dir).collect()
    assert(out.nonEmpty)
    // (zq,xq) is always adjacent → its PMI ties the theoretical max of
    // the planted corpus; it must sit in the top (max-PMI) group, and
    // every independent filler pair (wi follows varying predecessors)
    // must score strictly below it
    val maxPmi = out.map(_.getDouble(5)).max
    val zq = out.find(r => r.getString(0) == "zq" && r.getString(1) == "xq")
    assert(zq.isDefined && zq.get.getDouble(5) == maxPmi,
      s"(zq,xq) not at max PMI: $zq vs $maxPmi")
    val filler = out.filter(r => r.getString(1).startsWith("w") &&
      r.getString(0).startsWith("w"))
    assert(filler.forall(_.getDouble(5) < maxPmi))
  }
}
