package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The multi-writer/reader generation protocol: readers that resolved
  * the old generation finish correctly across a mid-read compaction
  * publish; the old generation survives exactly until the GC age gate;
  * uncommitted debris ages out; commits are totally ordered.
  */
class GenerationStoreSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def tmpRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/store"

  test("a reader holding the old generation finishes correctly across a swap") {
    val root = tmpRoot("genstore_midread")
    // generation 1: the fragmented pre-compaction layout (8 files)
    GenerationStore.publish(spark, root) { dir =>
      (1L to 100L).toDF("v").repartition(8).write.parquet(dir)
    }
    val p1 = GenerationStore.currentGenDir(spark, root).get
    // reader resolves ONCE, starts its (lazy) read of the old gen
    val reader = spark.read.parquet(p1).agg(sum(col("v")))
    // compaction lands mid-read: fold to 1 file, publish as a NEW gen
    val p2 = GenerationStore.publish(spark, root) { dir =>
      spark.read.parquet(p1).coalesce(1).write.parquet(dir)
    }
    assert(GenerationStore.currentGenDir(spark, root).contains(p2))
    // GC with a large age gate: the superseded generation SURVIVES
    val deleted = GenerationStore.gc(spark, root, minAgeMs = 1000L * 3600)
    assert(deleted.isEmpty)
    // the in-flight reader completes against the old, intact dir
    assert(reader.collect()(0).getLong(0) == 5050L)
    // new readers resolve the compacted generation and agree
    val p2read = spark.read.parquet(
      GenerationStore.currentGenDir(spark, root).get)
    assert(p2read.agg(sum(col("v"))).collect()(0).getLong(0) == 5050L)
    assert(Compaction.parquetFileCount(spark, p2) == 1L)
  }

  test("the age gate: superseded generations delete only once old enough") {
    val root = tmpRoot("genstore_age")
    val p1 = GenerationStore.publish(spark, root) { dir =>
      Seq(1L).toDF("v").coalesce(1).write.parquet(dir)
    }
    Thread.sleep(5) // distinct supersede mtime
    val p2 = GenerationStore.publish(spark, root) { dir =>
      Seq(2L).toDF("v").coalesce(1).write.parquet(dir)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // not old enough: survives
    assert(GenerationStore.gc(spark, root, minAgeMs = 1000L * 3600).isEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(p1)))
    // past the gate (now injected far in the future): gen1 goes,
    // current stays
    val deleted = GenerationStore.gc(spark, root, minAgeMs = 1000L,
      nowMs = System.currentTimeMillis() + 10_000L)
    assert(deleted.length == 1 && deleted.head.endsWith(
      p1.substring(p1.lastIndexOf('/'))))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(p1)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(p2)))
    assert(GenerationStore.currentGenDir(spark, root).contains(p2))
    // the dead manifest entry is gone too; resolution still works
    assert(spark.read.parquet(p2).collect()(0).getLong(0) == 2L)
  }

  test("uncommitted generation debris ages out; young debris survives") {
    val root = tmpRoot("genstore_debris")
    GenerationStore.publish(spark, root) { dir =>
      Seq(1L).toDF("v").coalesce(1).write.parquet(dir)
    }
    // a crashed publish: data written, never committed
    val debris = s"$root/generations/gen_0000000000000_dead"
    Seq(9L).toDF("v").coalesce(1).write.parquet(debris)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // invisible to readers
    assert(!GenerationStore.currentGenDir(spark, root).get.contains("dead"))
    // young: survives the gate
    assert(GenerationStore.gc(spark, root, minAgeMs = 1000L * 3600).isEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(debris)))
    // old: collected
    val deleted = GenerationStore.gc(spark, root, minAgeMs = 1000L,
      nowMs = System.currentTimeMillis() + 10_000L)
    assert(deleted.exists(_.contains("dead")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(debris)))
  }

  test("BM25 serves through the protocol: ingest, compact-as-publish, GC") {
    val root = tmpRoot("genstore_bm25")
    val docs = Seq(
      (0L, "alpha beta gamma"), (1L, "alpha alpha delta"),
      (2L, "beta beta beta"), (3L, "gamma delta epsilon"),
      (4L, "alpha epsilon"), (5L, "delta delta gamma"),
      (6L, "epsilon beta alpha"), (7L, "gamma gamma alpha beta")
    ).toDF("doc_id", "text")
    // generation 0: index over the even half, committed atomically
    val g0 = GenerationStore.publish(spark, root) { dir =>
      Bm25.ensureIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", dir)
    }
    // append-only staged ingest INTO the committed generation (the
    // sanctioned relaxation: per-batch _COMMITTED markers)
    Bm25.ingestIntoIndex(spark, g0,
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    assert(Bm25.committedBatchDirs(spark, g0).length == 1)
    // a long-running reader resolves the pre-compaction generation
    val held = GenerationStore.currentGenDir(spark, root).get
    val heldQ = spark.read.parquet(Bm25.storePaths(spark, held, "tf"): _*)
      .filter(col("doc_id") < 2)
      .select(col("doc_id").as("qid"), col("tok")).distinct()
    val heldScores = Bm25.topK(spark, held, heldQ, 3) // lazy: mid-read
    // compaction = publish a folded generation; nothing renamed/deleted
    val cur = Compaction.compactBm25ToGeneration(spark, root)
    assert(cur != held)
    assert(GenerationStore.gc(spark, root, minAgeMs = 1000L * 3600).isEmpty)
    // the in-flight reader finishes against the intact old generation
    val heldRows = heldScores.collect()
    assert(heldRows.nonEmpty)
    // the compacted generation has no staged batches left to fold
    assert(Bm25.committedBatchDirs(spark, cur).isEmpty)
    // and must score EXACTLY as a from-scratch build over all docs
    val freshDir = tmpRoot("genstore_bm25_fresh")
    Bm25.ensureIndex(docs, "doc_id", "text", freshDir)
    def serve(dir: String) = {
      val q = spark.read.parquet(Bm25.storePaths(spark, dir, "tf"): _*)
        .filter(col("doc_id") < 2)
        .select(col("doc_id").as("qid"), col("tok")).distinct()
      Bm25.topK(spark, dir, q, 3).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSeq
    }
    assert(serve(cur) == serve(freshDir))
    assert(heldRows.map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
      r.getLong(3), r.getDouble(4))).toSeq == serve(freshDir))
    // past the age gate the superseded generation is collected; the
    // current one survives
    val deleted = GenerationStore.gc(spark, root, minAgeMs = 1000L,
      nowMs = System.currentTimeMillis() + 10_000L)
    assert(deleted.exists(d => held.endsWith(
      d.substring(d.lastIndexOf('/')))))
    assert(GenerationStore.currentGenDir(spark, root).contains(cur))
  }

  test("manifest stays O(live generations) across hundreds of publishes with gc on a cadence") {
    // VERDICT r17 #7: the protocol's last unbounded-metadata question.
    // 240 publishes with gc every 10 (minAge 0 — everything superseded
    // is immediately collectable): after the final gc the manifest
    // must hold entries only for LIVE generations (here: the current
    // one), never one per historical publish — resolve cost is
    // O(live), not O(total publishes ever).
    val root = tmpRoot("genstore_manifest_growth")
    val mdir = new java.io.File(s"$root/manifest")
    val gdir = new java.io.File(s"$root/generations")
    var maxBetweenGc = 0
    for (i <- 1 to 240) {
      GenerationStore.publish(spark, root) { dir =>
        Seq(i).toDF("v").coalesce(1).write.parquet(dir)
      }
      if (i % 10 == 0) {
        GenerationStore.gc(spark, root, minAgeMs = 0L)
        val n = mdir.list().length
        maxBetweenGc = math.max(maxBetweenGc, n)
        assert(n <= 2,
          s"after gc at publish $i the manifest holds $n entries — " +
            "dead pointers are accumulating")
        assert(gdir.list().length <= 2,
          s"superseded generations surviving a minAge=0 gc at publish $i")
      }
    }
    // between gc passes the manifest grows only by the publishes since
    // the last pass (the cadence bound), and the store still resolves
    assert(mdir.list().length <= 11)
    val cur = GenerationStore.currentGenDir(spark, root).get
    assert(spark.read.parquet(cur).collect().map(_.getInt(0)).toSeq == Seq(240))
  }

  test("a zero-length manifest claim: skipped for resolution, counted for allocation, GC'd past the gate") {
    val root = tmpRoot("genstore_claim")
    val p1 = GenerationStore.publish(spark, root) { dir =>
      Seq(1L).toDF("v").coalesce(1).write.parquet(dir)
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a commit that crashed between the exclusive create and the
    // content write: a zero-length claim at the next seq
    val claim = new org.apache.hadoop.fs.Path(s"$root/manifest", "m_0000000001")
    fs.create(claim, false).close()
    // readers skip it — resolution falls back to the committed gen
    assert(GenerationStore.currentGenDir(spark, root).contains(p1))
    // allocation counts it — the next commit lands ABOVE the claim
    val p2 = GenerationStore.publish(spark, root) { dir =>
      Seq(2L).toDF("v").coalesce(1).write.parquet(dir)
    }
    assert(GenerationStore.currentGenDir(spark, root).contains(p2))
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/manifest"))
      .map(_.getPath.getName).sorted
    assert(names.toSeq == Seq("m_0000000000", "m_0000000001", "m_0000000002"))
    // young claim survives the gate; an aged one is collected
    GenerationStore.gc(spark, root, minAgeMs = 1000L * 3600)
    assert(fs.exists(claim))
    GenerationStore.gc(spark, root, minAgeMs = 1000L,
      nowMs = System.currentTimeMillis() + 10_000L)
    assert(!fs.exists(claim))
    assert(GenerationStore.currentGenDir(spark, root).contains(p2))
  }

  test("claimSeq is exclusive: the second claimant of a seq gets null") {
    val root = tmpRoot("genstore_excl")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/manifest"))
    val first = GenerationStore.claimSeq(fs, root, 7L)
    assert(first != null)
    first.write("gen_x".getBytes("UTF-8")); first.close()
    // taken with content: the loser's create fails and returns null
    assert(GenerationStore.claimSeq(fs, root, 7L) == null)
    // a zero-length claim (crashed commit) also holds its seq
    val c2 = GenerationStore.claimSeq(fs, root, 8L)
    assert(c2 != null); c2.close()
    assert(GenerationStore.claimSeq(fs, root, 8L) == null)
  }

  test("gc with zero committed entries still collects aged debris and claims") {
    val root = tmpRoot("genstore_firstcrash")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a first-ever publish that crashed: data written, claim created,
    // content never written — no committed entry exists anywhere
    val debris = s"$root/generations/gen_0000000000000_crash"
    Seq(9L).toDF("v").coalesce(1).write.parquet(debris)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/manifest"))
    GenerationStore.claimSeq(fs, root, 0L).close()
    assert(GenerationStore.currentGenDir(spark, root).isEmpty)
    // young: both survive
    assert(GenerationStore.gc(spark, root, minAgeMs = 1000L * 3600).isEmpty)
    assert(fs.exists(new org.apache.hadoop.fs.Path(debris)))
    // aged: both collected, even though entries() is empty
    val deleted = GenerationStore.gc(spark, root, minAgeMs = 1000L,
      nowMs = System.currentTimeMillis() + 10_000L)
    assert(deleted.exists(_.contains("crash")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(debris)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/manifest/m_0000000000")))
  }

  test("commit refuses a generation whose data dir is missing") {
    val root = tmpRoot("genstore_dangling")
    intercept[IllegalArgumentException] {
      GenerationStore.commit(spark, root, "gen_never_built")
    }
  }

  test("two racing writers: all commits land, totally ordered, none lost or clobbered") {
    val root = tmpRoot("genstore_race")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pre-materialize every generation (the build side is not under
    // test); the RACE is on the commit protocol itself: two threads
    // claiming manifest sequences concurrently, plus a concurrent gc
    // pass that must neither crash nor delete anything young
    val perWriter = 6
    val gens = (0 until 2).map(w =>
      (0 until perWriter).map(i => s"gen_w${w}_$i"))
    gens.flatten.foreach { g =>
      Seq(1L).toDF("v").coalesce(1).write.parquet(s"$root/generations/$g")
    }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        try gens(w).foreach(g => GenerationStore.commit(spark, root, g))
        catch { case t: Throwable => errs.add(t) }
      })
    } :+ new Thread(() => {
      try (1 to 5).foreach { _ =>
        GenerationStore.gc(spark, root, minAgeMs = 1000L * 3600); ()
      } catch { case t: Throwable => errs.add(t) }
    })
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent commit/gc threw: ${errs.peek()}")
    // every commit landed exactly once, on consecutive seqs
    val mdir = new org.apache.hadoop.fs.Path(s"$root/manifest")
    val entries = fs.listStatus(mdir).map(_.getPath).filter(
      _.getName.startsWith("m_")).sortBy(_.getName).toSeq
    assert(entries.length == 2 * perWriter)
    assert(entries.map(_.getName) ==
      (0 until 2 * perWriter).map(i => f"m_$i%010d"))
    val contents = entries.map { p =>
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    // no lost or duplicated commit, and each writer's own commits
    // appear in its submission order (each thread commits serially)
    assert(contents.sorted == gens.flatten.sorted)
    for (w <- 0 until 2)
      assert(contents.filter(_.startsWith(s"gen_w$w")) == gens(w),
        s"writer $w's commits reordered: $contents")
    // the current generation resolves to the globally last commit
    assert(GenerationStore.currentGenDir(spark, root).get
      .endsWith(contents.last))
    // gc afterwards: everything but the current generation ages out
    val deleted = GenerationStore.gc(spark, root, minAgeMs = 1000L,
      nowMs = System.currentTimeMillis() + 10_000L)
    assert(deleted.length == 2 * perWriter - 1)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/generations/${contents.last}")))
  }

  test("span store serves through the protocol: staged ingest, fold-as-publish, GC") {
    val root = tmpRoot("genstore_spans")
    val docs = Seq(
      (1L, "alpha beta 4111111111111111 gamma"),
      (2L, "delta user2@example.com epsilon"),
      (3L, "tel 555-0142 host 10.1.2.34"),
      (4L, "plain words only here")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma shared run")).toDF("doc_id", "text")
    val g0 = GenerationStore.publish(spark, root) { dir =>
      Attributes.ensureSpanAttributes(
        docs.filter(col("doc_id") <= 2), bench, dir)
    }
    Attributes.ingestIntoSpanAttributes(g0,
      docs.filter(col("doc_id") > 2), Attributes.benchGramSet(bench))
    assert(StagedBatches.committedDirs(spark, g0).length == 1)
    // a long-running reader resolves pre-fold and must finish intact
    val held = GenerationStore.currentGenDir(spark, root).get
    val heldSpans = Attributes.readSpans(spark, held) // lazy: mid-read
    val cur = Compaction.compactSpansToGeneration(spark, root)
    assert(cur != held)
    assert(GenerationStore.gc(spark, root, minAgeMs = 1000L * 3600).isEmpty)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("doc_id"), col("tag"), col("start")).collect().toSeq
    // folded generation has no staged batches and serves exactly the
    // from-scratch tag of the whole candidate set
    assert(StagedBatches.committedDirs(spark, cur).isEmpty)
    val freshDir = tmpRoot("genstore_spans_fresh")
    Attributes.ensureSpanAttributes(docs, bench, freshDir)
    assert(rows(Attributes.readSpans(spark, cur)) ==
      rows(spark.read.parquet(s"$freshDir/spans")))
    assert(rows(heldSpans) == rows(Attributes.readSpans(spark, cur)))
    // past the gate: superseded collected, current survives
    val deleted = GenerationStore.gc(spark, root, minAgeMs = 1000L,
      nowMs = System.currentTimeMillis() + 10_000L)
    assert(deleted.exists(d => held.endsWith(d.substring(d.lastIndexOf('/')))))
    assert(GenerationStore.currentGenDir(spark, root).contains(cur))
  }

  test("attrs store serves through the protocol: staged ingest, fold-as-publish") {
    val root = tmpRoot("genstore_attrs")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "short"), (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "plain words only here today")
    ).toDF("doc_id", "text")
    val g0 = GenerationStore.publish(spark, root) { dir =>
      Attributes.ensureAttributes(docs.filter(col("doc_id") <= 2), dir)
    }
    Attributes.ingestIntoAttributes(g0, docs.filter(col("doc_id") > 2))
    assert(StagedBatches.committedDirs(spark, g0).length == 1)
    val held = GenerationStore.currentGenDir(spark, root).get
    val cur = Compaction.compactAttrsToGeneration(spark, root)
    assert(cur != held)
    assert(StagedBatches.committedDirs(spark, cur).isEmpty)
    val freshDir = tmpRoot("genstore_attrs_fresh")
    Attributes.ensureAttributes(docs, freshDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("doc_id")).collect().toSeq
    assert(rows(Attributes.readAttrs(spark, cur)) ==
      rows(spark.read.parquet(s"$freshDir/attrs")))
    // the superseded generation still serves its resolved readers
    assert(rows(Attributes.readAttrs(spark, held)).nonEmpty)
  }

  test("commits are totally ordered; a seq collision retries, never clobbers") {
    val root = tmpRoot("genstore_order")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // two "writers" that both materialized their generation, then
    // commit back-to-back — the second must land ABOVE the first
    val gens = s"$root/generations"
    Seq(1L).toDF("v").coalesce(1).write.parquet(s"$gens/gen_a")
    Seq(2L).toDF("v").coalesce(1).write.parquet(s"$gens/gen_b")
    GenerationStore.commit(spark, root, "gen_a")
    GenerationStore.commit(spark, root, "gen_b")
    assert(GenerationStore.currentGenDir(spark, root).get.endsWith("gen_b"))
    // simulate the loser's retry: pre-create the next manifest seq as
    // a CONCURRENT winner would, then commit — the commit must skip
    // the taken seq and land above it, leaving the winner intact
    val mdir = s"$root/manifest"
    val winner = new org.apache.hadoop.fs.Path(mdir, "m_0000000002")
    val out = fs.create(winner, false)
    out.write("gen_a".getBytes("UTF-8")); out.close()
    GenerationStore.commit(spark, root, "gen_b")
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(mdir))
      .map(_.getPath.getName).filter(_.startsWith("m_")).sorted
    assert(entries.length == 4)
    assert(GenerationStore.currentGenDir(spark, root).get.endsWith("gen_b"))
    // the pre-taken seq's content was not clobbered
    val in = fs.open(winner)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(content == "gen_a")
  }
}
