package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Deterministic-sampling invariants: reproducibility, partition
  * independence, rate accuracy, per-stratum exactness.
  */
class SamplingSpec extends AnyFunSuite with SparkSuite {
  private def docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

  test("thresholdHex maps rates to zero-padded 8-hex prefixes") {
    assert(Sampling.thresholdHex(0.5) == "80000000")
    assert(Sampling.thresholdHex(0.25) == "40000000")
    assert(Sampling.thresholdHex(0.125) == "20000000")
    assert(Sampling.thresholdHex(0.0) == "00000000")
    assert(Sampling.thresholdHex(1.0) == "g") // above any hex → keep-all
    // small rates keep leading zeros — lexicographic compare depends on it
    assert(Sampling.thresholdHex(1.0 / 4096).length == 8)
  }

  test("sample is reproducible and independent of partitioning") {
    val a = Sampling.sample(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val b = Sampling.sample(docs.repartition(13), "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(a.sameElements(b))
    assert(a.nonEmpty)
  }

  test("sample rate lands near the target on 500 keys") {
    val n = docs.count().toDouble
    val kept = Sampling.sample(docs, "doc_id", 0.3).count().toDouble
    // binomial 3-sigma at n=500, p=0.3 → ±~0.06
    assert(math.abs(kept / n - 0.3) < 0.07, s"kept ${kept / n}")
  }

  test("samples are nested: a higher rate keeps a superset") {
    // the property that makes threshold sampling operationally useful —
    // growing a 10% sample to 30% only ADDS documents, never swaps them
    val r10 = Sampling.sample(docs, "doc_id", 0.1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val r30 = Sampling.sample(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r10.subsetOf(r30))
    assert(r10.size < r30.size)
  }

  test("stratified sample applies per-stratum rates") {
    val rates = Map("src0" -> 1.0, "src1" -> 0.0)
    val out = Sampling.stratifiedSample(docs, "doc_id", "source", rates, 0.5)
    val bySrc = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src0") == full("src0"))      // rate 1.0 keeps all
    assert(!bySrc.contains("src1"))            // rate 0.0 keeps none
    val others = (bySrc - "src0").values.sum.toDouble /
      (full - "src0" - "src1").values.sum
    assert(math.abs(others - 0.5) < 0.1, s"default-rate strata kept $others")
  }

  test("topKPerStratum yields exactly k rows per stratum, ranked by hash") {
    val out = Sampling.topKPerStratum(docs, "doc_id", "source", k = 3)
    val counts = out.groupBy("source").count().collect().map(_.getLong(1))
    assert(counts.length == 20 && counts.forall(_ == 3L))
    // ranks are 1..k and the selected ids are the k smallest hashes
    val src0 = out.filter(col("source") === "src0")
      .orderBy("rank").collect().map(_.getAs[Long]("doc_id"))
    val expected = docs.filter(col("source") === "src0")
      .withColumn("h", Sampling.selector(col("doc_id")))
      .orderBy("h").limit(3).collect().map(_.getAs[Long]("doc_id"))
    assert(src0.sameElements(expected))
  }

  test("topKPerStratum pre-filter only drops rows the rank would drop") {
    // 0.5 pre-filter leaves ~12 of 25 per stratum ≫ k=3 → same result
    val plain = Sampling.topKPerStratum(docs, "doc_id", "source", k = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val guarded = Sampling.topKPerStratum(docs, "doc_id", "source", k = 3,
        prefilterRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(plain.sameElements(guarded))
  }

  test("token-balanced mix equalizes expected source token counts") {
    import spark.implicits._
    // skewed synthetic corpus: srcA 10× the tokens of srcC
    val rows = (1 to 400).map(i => (i.toLong, "srcA", Seq.fill(50)("w").mkString(" "))) ++
      (401 to 600).map(i => (i.toLong, "srcB", Seq.fill(40)("w").mkString(" "))) ++
      (601 to 700).map(i => (i.toLong, "srcC", Seq.fill(20)("w").mkString(" ")))
    val df = rows.toDF("doc_id", "source", "text")
    val kept = Sampling.tokenBalancedSample(df, "doc_id", "source", "text")
    // the smallest source keeps EVERYTHING (rate 1.0 → 'g' threshold)
    assert(kept.filter($"source" === "srcC").count() == 100)
    // every source's kept tokens land near the smallest source's total
    // (2000 tokens). Binomial 3σ: srcA keeps Bin(400, 0.1) docs of 50
    // tokens → σ = 6 docs = 300 tokens; srcB Bin(200, 0.25) of 40 →
    // σ ≈ 6.1 docs ≈ 245 tokens. Deterministic hash — a pass is a pass
    // forever — but the bound states what "balanced" promises: ±3σ.
    val tokensBySrc = kept
      .groupBy($"source")
      .agg(sum(size(split($"text", " "))).as("t")).as[(String, Long)]
      .collect().toMap
    assert(tokensBySrc("srcC") == 2000L)
    assert(math.abs(tokensBySrc("srcA") - 2000L) <= 900, s"srcA: ${tokensBySrc("srcA")}")
    assert(math.abs(tokensBySrc("srcB") - 2000L) <= 735, s"srcB: ${tokensBySrc("srcB")}")
    // deterministic under re-partitioning, like every sampler here
    val again = Sampling.tokenBalancedSample(df.repartition(13),
        "doc_id", "source", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(again.sameElements(
      kept.select("doc_id").as[Long].collect().sorted))
  }

  test("temperature mixture up-weights the tail under a √n budget") {
    import spark.implicits._
    // same skew shape: srcA 20 000 tokens, srcB 8 000, srcC 2 000 →
    // budget = 30 000 ∕ 4 = 7 500; weights ∝ √n, so the smallest
    // source keeps the LARGEST fraction of itself
    val rows = (1 to 400).map(i => (i.toLong, "srcA", Seq.fill(50)("w").mkString(" "))) ++
      (401 to 600).map(i => (i.toLong, "srcB", Seq.fill(40)("w").mkString(" "))) ++
      (601 to 700).map(i => (i.toLong, "srcC", Seq.fill(20)("w").mkString(" ")))
    val plan = Sampling.temperatureMixture(rows.toDF("doc_id", "source", "text"),
        "source", "text", budgetDen = 4)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // hand-computed under the exact floor discipline:
    // sq = floor6(√n); sqsum = 275.585435; w = floor4(sq∕sqsum);
    // rate = min(1, floor4(7500·w∕n))
    assert(plan("srcA") == (("srcA", 400L, 20000L, 0.5132, 0.1925)))
    assert(plan("srcB") == (("srcB", 200L, 8000L, 0.3246, 0.3043)))
    assert(plan("srcC") == (("srcC", 100L, 2000L, 0.1623, 0.6086)))
    // the realized token budget lands on target (Σ n·rate ≈ 7 500)
    val realized = plan.values.map(r => r._3 * r._5).sum
    assert(math.abs(realized - 7500.0) < 10.0, s"realized: $realized")
  }

  test("token-balanced mix broadcasts thresholds onto the corpus filter") {
    val plan = Sampling.tokenBalancedSample(docs, "doc_id", "source", "text")
      .queryExecution.executedPlan.toString
    // the corpus-side filter join must be broadcast (|strata| rows),
    // never a sort-merge that would shuffle the corpus by source
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("packing fills bins greedily without splitting documents") {
    val out = Packing.packByStratum(docs, "doc_id", "source", "text", budget = 500)
      .orderBy("source", "doc_id").collect()
      .map(r => (r.getString(1), r.getLong(0), r.getInt(2), r.getLong(4)))
    out.groupBy(_._1).foreach { case (_, rows) =>
      val ordered = rows.sortBy(_._2)
      // bins never decrease in doc order
      assert(ordered.map(_._4).sameElements(ordered.map(_._4).sorted))
      // greedy boundary property: within a bin, every document except
      // the last fits inside the budget (only the final one overflows)
      ordered.groupBy(_._4).foreach { case (_, binRows) =>
        val toks = binRows.sortBy(_._2).map(_._3.toLong)
        assert(toks.dropRight(1).sum < 500)
      }
    }
    assert(out.map(_._4).max > 0) // the budget actually splits the corpus
  }

  test("redact scrubs every term occurrence") {
    import spark.implicits._
    val df = Seq((1L, "the customer paid full value at the table"),
                 (2L, "tablecloth is untouched")).toDF("doc_id", "text")
    val out = df.select(Sampling.redact(col("text"),
        "\\b(customer|value|table)\\b", "<TERM>").as("r"))
      .as[String].collect()
    assert(out(0) == "the <TERM> paid full <TERM> at the <TERM>")
    assert(out(1) == "tablecloth is untouched") // word boundary respected
  }

  test("vocab counts tokens and drops empties") {
    import spark.implicits._
    val df = Seq((1L, "a b  a"), (2L, "b c")).toDF("doc_id", "text")
    val m = Sampling.vocab(df, "text").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("a" -> 2L, "b" -> 2L, "c" -> 1L)) // "" from double space dropped
  }

  test("scrubPii replaces email, IPv4, and phone with typed placeholders") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail a.user+tag@sub.example.org then 192.168.001.1 then 555-0199"),
      // non-PII lookalikes survive: version strings aren't dotted quads,
      // 2-4 digit pairs aren't NANP-shaped, bare @ is not an address
      (2L, "v1.2.3 released, 12-34 items, meet @ noon")
    ).toDF("doc_id", "text")
    val out = df.orderBy("doc_id")
      .select(Sampling.scrubPii(col("text")).as("s")).as[String].collect()
    assert(out(0) == "mail <EMAIL> then <IP> then <PHONE>")
    assert(out(1) == "v1.2.3 released, 12-34 items, meet @ noon")
  }

  test("shuffleOrder addresses are deterministic, dense, and partition-independent") {
    val a = Sampling.shuffleOrder(docs, "doc_id")
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val b = Sampling.shuffleOrder(docs.repartition(11), "doc_id")
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(a.sameElements(b))
    assert(a.map(_._2).distinct.sorted.sameElements(0L until 16L)) // all 16 shards hit at n=500
    // positions are dense 1..k within every shard — a reader can range-scan
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length))
    }
  }

  test("weightedTopK is deterministic and partition-independent") {
    val a = Sampling.weightedTopK(docs, "doc_id", col("n_chars"), 50)
      .select("doc_id").collect().map(_.getLong(0))
    val b = Sampling.weightedTopK(docs.repartition(13), "doc_id", col("n_chars"), 50)
      .select("doc_id").collect().map(_.getLong(0))
    assert(a.sameElements(b))
    assert(a.distinct.length == 50) // without replacement
  }

  test("weightedTopK keys are monotone in the weight for a fixed draw") {
    import spark.implicits._
    // same doc_id (same u), increasing weight → strictly increasing key
    val df = Seq((7L, 10L), (7L, 100L), (7L, 1000L)).toDF("doc_id", "w")
    val keys = Sampling.weightedTopK(df, "doc_id", col("w"), 3)
      .orderBy("w").select("es_key").as[Double].collect()
    assert(keys(0) < keys(1) && keys(1) < keys(2))
    assert(keys.forall(k => k > 0.0 && k <= 1.0))
  }

  test("weightedTopK favors heavy rows: inclusion tracks the weight") {
    import spark.implicits._
    // 1000 light rows (w=1) + 20 heavy rows (w=500): heavy rows carry
    // ~91% of total weight, so a k=20 E-S draw must be dominated by
    // them — a uniform sampler would include ~0.4 heavy rows.
    val rows = (1L to 1000L).map(i => (i, 1L)) ++
      (2001L to 2020L).map(i => (i, 500L))
    val picked = Sampling.weightedTopK(rows.toDF("doc_id", "w"), "doc_id", col("w"), 20)
      .select("doc_id").as[Long].collect()
    assert(picked.count(_ >= 2001L) >= 12)
  }

  test("weightedTopK fails loudly on zero, negative, NULL, and NaN weights") {
    import spark.implicits._
    // each would otherwise corrupt the draw SILENTLY: 0 → never
    // sampled, <0 → dominates, NULL → key NULL (sorts last), NaN →
    // key NaN (sorts FIRST under desc, occupying every slot)
    for (w <- Seq(0.0, -3.0, Double.NaN)) {
      val df = Seq((1L, 5.0), (2L, w)).toDF("doc_id", "w")
      val e = intercept[Exception] {
        Sampling.weightedTopK(df, "doc_id", col("w"), 2).collect()
      }
      assert(e.getMessage.contains("weightedTopK"), s"w=$w: ${e.getMessage}")
    }
    val withNull = Seq((1L, Some(5.0)), (2L, None)).toDF("doc_id", "w")
    val e = intercept[Exception] {
      Sampling.weightedTopK(withNull, "doc_id", col("w"), 2).collect()
    }
    assert(e.getMessage.contains("weightedTopK"))
  }

  test("temperatureDownsample keeps the smallest source whole and flattens larger ones") {
    import spark.implicits._
    // small: 50 docs; big: 5000 docs → keep-rate sqrt(1/100) = 0.1
    val docs = ((0L until 50L).map(i => (i, "small")) ++
      (1000L until 6000L).map(i => (i, "big"))).toDF("doc_id", "source")
    val kept = Sampling.temperatureDownsample(docs, "doc_id", "source")
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(kept("small") == 50L, "rate-1.0 source must keep every row")
    // md5 keep decisions at rate 0.1 over 5000 ids: expect ~500, allow
    // generous binomial slack — the point is flattened, not exact
    assert(kept("big") > 350 && kept("big") < 650, s"big kept ${kept("big")}")
    // deterministic: same rows kept on a different partitioning
    val again = Sampling.temperatureDownsample(docs.repartition(7), "doc_id", "source")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val first = Sampling.temperatureDownsample(docs, "doc_id", "source")
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    assert(again == first)
    intercept[IllegalArgumentException] {
      Sampling.temperatureDownsample(
        Seq.empty[(Long, String)].toDF("doc_id", "source"),
        "doc_id", "source")
    }
  }
}
