package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** Lloyd k-means contracts: planted clusters are recovered, ties and
  * emptied clusters follow the documented deterministic rules, the
  * result is partition-count-invariant, and corrupt embeddings fail
  * loudly instead of wrapping the fixed-point arithmetic.
  */
class KMeansSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  // three well-separated 2-d blobs; ids interleaved across blobs so the
  // lowest-id init starts with all three seeds in DIFFERENT blobs only
  // for the recovery test's planted geometry, not by luck of ordering
  private def blobs = Seq(
    (0L, Seq(0.00f, 0.00f)), (1L, Seq(2.00f, 2.00f)), (2L, Seq(-2.00f, 2.00f)),
    (3L, Seq(0.05f, 0.01f)), (4L, Seq(2.05f, 1.98f)), (5L, Seq(-2.04f, 2.03f)),
    (6L, Seq(0.02f, -0.04f)), (7L, Seq(1.97f, 2.04f)), (8L, Seq(-1.98f, 1.96f)),
    (9L, Seq(-0.03f, 0.03f)), (10L, Seq(2.02f, 2.02f)), (11L, Seq(-2.01f, 2.01f))
  ).toDF("vec_id", "embedding")

  test("planted blobs are recovered: same blob ⇒ same cluster, k distinct clusters") {
    val got = KMeans.fit(blobs, "vec_id", "embedding", k = 3, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byBlob = got.keys.groupBy(_ % 3).view.mapValues(_.map(got).toSet).toMap
    byBlob.foreach { case (b, cs) =>
      assert(cs.size == 1, s"blob $b split across clusters $cs")
    }
    assert(byBlob.values.flatten.toSet.size == 3, "blobs must land in distinct clusters")
  }

  test("equidistant point breaks ties to the lowest centroid index") {
    // two seeds at ±1; the third point sits exactly between them and
    // never moves either mean enough to break its own symmetry
    val df = Seq(
      (0L, Seq(-1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = KMeans.fit(df, "vec_id", "embedding", k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(2L) == 0, s"tie must go to cluster 0, got ${got(2L)}")
  }

  test("an emptied cluster keeps its previous centroid (and can win it back)") {
    // both seeds identical ⇒ round 1 ties EVERY point into cluster 0,
    // so cluster 1 empties and keeps its exact-(1,1) centroid. The two
    // off-center points then pull cluster 0's mean off (1,1) — and the
    // KEPT centroid, still exactly on (1,1), wins the exact-(1,1)
    // points back in the final assignment. A dropped-or-corrupted
    // empty centroid (NaN/zero) could never re-capture anything.
    val df = Seq(
      (0L, Seq(1.0f, 1.0f)), (1L, Seq(1.0f, 1.0f)), (2L, Seq(1.1f, 0.9f)),
      (3L, Seq(0.9f, 1.1f))
    ).toDF("vec_id", "embedding")
    val got = KMeans.fit(df, "vec_id", "embedding", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(0L) == 1 && got(1L) == 1,
      s"exact-(1,1) points must return to the kept centroid: $got")
    assert(got(2L) == 0 && got(3L) == 0,
      s"off-center points stay with the moved mean: $got")
  }

  test("assignments are partition-count invariant") {
    val base = blobs
    val a = KMeans.fit(base.repartition(3), "vec_id", "embedding", k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val b = KMeans.fit(base.repartition(11), "vec_id", "embedding", k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("streaming ingest routes across ≥2 micro-batches exactly like batch assignment") {
    val tmp = java.nio.file.Files.createTempDirectory("kmspec").toString
    val srcDir = s"$tmp/src"; val outDir = s"$tmp/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val cents = KMeans.fitCentroids(blobs, "vec_id", "embedding", k = 3, iters = 3)
    // two files → maxFilesPerTrigger=1 forces two micro-batches
    blobs.filter($"vec_id" % 2 === 0).coalesce(1).write.parquet(s"$srcDir/a")
    blobs.filter($"vec_id" % 2 =!= 0).coalesce(1).write.parquet(s"$srcDir/b")
    val stream = spark.readStream.schema(blobs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$srcDir/*")
    val nBatches = graft.streaming.StreamPipeline.kmeansIngest(
      spark, stream, outDir, cents, "vec_id", "embedding")
    assert(nBatches >= 2, s"expected >=2 micro-batches, got $nBatches")
    // the maintained store is base (none yet) + committed staged batches
    val streamed = KMeans.readShards(spark, outDir)
      .select($"vec_id", $"cluster".cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val direct = KMeans.assignWith(blobs, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(streamed == direct)
  }

  test("training frees its checkpoint and keeps a caller's cache() it first materialized") {
    // lazy: the training's own checkpoint is the first job to read it
    val em = blobs.cache()
    try {
      val (cents, live) = CacheScopeSpec.persistedBy(spark) {
        CacheScope.withScope(KMeans.fitCentroids(em, "vec_id", "embedding", k = 3, iters = 2))
      }
      assert(cents.length == 3)
      // the caller's cache blocks survive training; nothing else does
      assert(live == Set(CacheScopeSpec.cacheRdd(em)))
    } finally { em.unpersist(); () }
  }

  test("a one-group training E-step has no exchange on the point side") {
    // k-means is the one-group case of the grouped Lloyd program: its
    // k·d-long model is driver metadata, so it is broadcast and the
    // points stream through the join where they are.
    // With one group a shuffle on the group key would send every point
    // to one partition.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin}
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.functions.{col, lit}
    def joins(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => joins(a.inputPlan)
        case s: InMemoryTableScanExec => joins(s.relation.cachedPlan)
        case j: HashJoin => Seq(j)
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => Seq(j)
        case _ => Nil
      }
    val pts = blobs.select(col("vec_id").as("id"),
      KMeans.quantCol(col("embedding")).as("q"), lit(0).as("grp"))
    val js = joins(KMeans.lloyd(pts, Seq(0 -> 3), bc = true, iters = 2).queryExecution.executedPlan)
    assert(js.size == 2, s"expected one E-step join per round:\n${js.mkString("\n")}")
    js.foreach {
      case j: BroadcastHashJoinExec =>
        assert(j.buildSide == BuildRight, s"model is not the build side:\n$j")
        val shuffles = j.left.collect { case e: ShuffleExchangeLike => e }
        assert(shuffles.isEmpty, s"exchange on the point side:\n$j")
      case j => fail(s"E-step join is not a broadcast:\n$j")
    }
  }

  test("null components and null vectors fail loudly, not by quantizing to null") {
    // a null would otherwise propagate through every distance and let
    // array_min silently assign the row while dragging its centroid
    // coordinate toward zero in the M-step
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
    val nullComp = spark.sql(
      "SELECT 0L AS vec_id, array(CAST(NULL AS FLOAT), CAST(0.1 AS FLOAT)) AS embedding " +
        "UNION ALL SELECT 1L, array(CAST(0.2 AS FLOAT), CAST(0.3 AS FLOAT))")
    val e1 = intercept[Exception] {
      KMeans.fit(nullComp, "vec_id", "embedding", k = 1, iters = 1).collect()
    }
    assert(messages(e1).exists(_.contains("KMeans")), s"unexpected error: $e1")
    val nullVec = spark.sql(
      "SELECT 0L AS vec_id, CAST(NULL AS ARRAY<FLOAT>) AS embedding " +
        "UNION ALL SELECT 1L, array(CAST(0.2 AS FLOAT), CAST(0.3 AS FLOAT))")
    val e2 = intercept[Exception] {
      KMeans.fit(nullVec, "vec_id", "embedding", k = 1, iters = 1).collect()
    }
    assert(messages(e2).exists(_.contains("KMeans")), s"unexpected error: $e2")
  }

  test("|component| ≥ Shift fails loudly, not by silent wraparound") {
    val df = Seq((0L, Seq(0.0f, 99.0f)), (1L, Seq(0.1f, 0.2f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      KMeans.fit(df, "vec_id", "embedding", k = 1, iters = 1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => String.valueOf(x.getMessage) +: messages(x.getCause))
    assert(messages(e).exists(_.contains("KMeans")), s"unexpected error: $e")
  }
}
