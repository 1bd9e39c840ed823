package graft.ext

import org.apache.spark.sql.SparkSession

/** MULTI-writer / multi-reader generation protocol for the artifact
  * stores: a rewrite never touches a directory a reader may hold, and
  * concurrent publishers never clobber each other. It is the standard
  * manifest design (the public Iceberg/Delta-style commit discipline,
  * reduced to its core):
  *
  *  - DATA is immutable: every publish fully materializes a fresh
  *    generation directory `<root>/generations/<gen>` and never
  *    mutates or renames a published one.
  *  - COMMIT is one atomic EXCLUSIVE CREATE: a manifest entry
  *    `<root>/manifest/m_<seq10>` whose CONTENT is the generation
  *    name, claimed via [[claimSeq]] — NIO `Files.createFile`
  *    (guaranteed O_CREAT|O_EXCL) on the local filesystem, HDFS's own
  *    atomic `create(overwrite=false)` elsewhere — so two writers
  *    racing on one `seq` cannot clobber each other: the loser's
  *    create fails and it retries at the next seq. (Neither
  *    rename-to-new-name NOR Hadoop's local `create(overwrite=false)`
  *    is a safe claim on local disks: RawLocalFileSystem implements
  *    the former as clobbering rename(2) and the latter as a
  *    non-atomic exists() probe + plain open.) A zero-length entry is
  *    an in-flight or crashed commit:
  *    readers skip it when resolving, but sequence allocation counts
  *    it, so a crashed claim can never stall later commits. The
  *    manifest sequence is therefore a total order of commits;
  *    CURRENT = the highest RESOLVABLE seq (non-empty content naming
  *    an existing generation).
  *  - READERS resolve once per query ([[currentGenDir]]) and read that
  *    immutable directory for the query's whole lifetime — a publish
  *    or compaction landing mid-read is invisible to them.
  *  - GC is AGE-GATED ([[gc]]): a non-current generation is deleted
  *    only once its superseding commit is older than `minAgeMs`, so
  *    any reader that resolved before the supersede has at least that
  *    long to finish. Uncommitted generation debris (a crashed
  *    publish) ages out the same way, anchored on the NEWEST mtime in
  *    the directory tree — a live build touching files keeps renewing
  *    its lease, so a slow publish is not collected mid-build as long
  *    as no single write stalls past the gate; [[commit]] additionally
  *    verifies the generation still exists, so even that worst case
  *    fails the publish loudly instead of committing a dangling
  *    pointer.
  *
  * Immutability has one sanctioned relaxation: APPEND-ONLY extensions
  * of a committed generation that carry their own atomic commit
  * markers — the staged `batches/b_<key>/` dirs with per-batch
  * `_COMMITTED` files that [[StagedBatches.stage]] writes. A reader that resolved the
  * generation folds only the batches committed at its own listing
  * time; a batch landing mid-read is simply not folded (it is a
  * LATER state, exactly as a later generation would be), never a
  * torn one. Rewrites and deletes stay forbidden.
  *
  * Compaction is just another publish (read the current generation,
  * write the folded layout as a new one — every
  * [[Compaction]] entry point, e.g.
  * [[Compaction.compactBm25ToGeneration]]) — the old generation keeps
  * serving in-flight readers until the age gate passes. The cost is
  * space: both generations sit on disk until [[gc]] collects the old
  * one.
  *
  * Build-once artifacts (the BM25, trigram and IVF indexes, the
  * attribute and span relations, the tokenizer models) are publishes
  * as well: [[ensure]] serves the current generation while it was
  * built from the same source, and publishes a new one otherwise —
  * one protocol for every store, with no writer count to assume.
  *
  * MANIFEST GROWTH IS BOUNDED BY GC, not by the publish count: [[gc]]
  * deletes manifest entries whose generation no longer exists (dead
  * pointers below the oldest survivor) alongside the aged generations
  * themselves, so after any gc pass the manifest holds exactly one
  * entry per LIVE generation — and live generations are bounded by
  * publish-rate × minAgeMs plus the current one. A store that
  * publishes forever but gc's on its maintenance cadence (the
  * [[graft.streaming.StreamPipeline]] maintainers' shape) therefore
  * keeps [[currentGenDir]]'s resolve cost at O(live generations), a
  * small constant in steady state, NOT O(total publishes ever)
  * (pinned at a few hundred publishes in GenerationStoreSpec). Only a
  * store that NEVER runs gc accumulates entries linearly — run gc; no
  * separate manifest-compaction mechanism is needed. Sequence numbers
  * themselves never recycle while referenced ([[SeqWidth]] = 10 digits
  * outlives any realistic store: one publish per second for 300
  * years).
  */
object GenerationStore {

  /** Width of the zero-padded manifest sequence — ordering still
    * parses NUMERICALLY everywhere (the gen_ lesson from the carry
    * store); the pad is cosmetic for `ls`. */
  private val SeqWidth = 10

  private def fsFor(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestDir(root: String) = s"$root/manifest"
  private def generationsDir(root: String) = s"$root/generations"

  private def seqOf(name: String): Long = name.stripPrefix("m_").toLong

  /** Inverse of [[seqOf]] — the single definition of the manifest
    * naming contract. */
  private def mName(seq: Long): String = "m_" + s"%0${SeqWidth}d".format(seq)

  /** Highest allocated manifest sequence (committed or in-flight),
    * from file NAMES only — allocation never needs to read content. */
  private def maxSeq(fs: org.apache.hadoop.fs.FileSystem,
                     root: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(manifestDir(root))
    if (!fs.exists(p)) None
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("m_")).map(seqOf).maxOption
  }

  /** Create `path` EXCLUSIVELY: a stream to write the new file, or
    * null when it already exists. The one exclusive-create primitive of
    * the store protocols: manifest claims ([[claimSeq]]) and
    * staged-batch commits ([[StagedBatches]]) both go through it. On
    * HDFS `create(overwrite=false)` is the atomic primitive; on the
    * LOCAL filesystem it is NOT (RawLocalFileSystem implements it as a
    * non-atomic exists() probe + plain FileOutputStream), so the local
    * path goes through NIO `Files.createFile`, which is guaranteed
    * O_CREAT|O_EXCL. Any failure other than "already exists"
    * propagates — a permission or disk error must fail the commit
    * loudly, not masquerade as a collision. */
  private[ext] def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
                                   path: org.apache.hadoop.fs.Path)
      : java.io.OutputStream =
    if (fs.getScheme == "file") {
      val nio = java.nio.file.Paths.get(fs.makeQualified(path).toUri.getPath)
      try {
        java.nio.file.Files.createFile(nio)
        java.nio.file.Files.newOutputStream(nio,
          java.nio.file.StandardOpenOption.WRITE)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => null
      }
    } else {
      try fs.create(path, false)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => null }
    }

  /** Atomically claim manifest sequence `seq` ([[createExclusive]]):
    * returns a stream to write the entry content, or null when the seq
    * is already taken. */
  private[ext] def claimSeq(fs: org.apache.hadoop.fs.FileSystem,
                            root: String, seq: Long): java.io.OutputStream =
    createExclusive(fs, new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(manifestDir(root)), mName(seq)))

  /** (seq, content) of EVERY manifest file, ascending by seq — content
    * `""` marks an in-flight or crashed commit (see [[commit]]): it
    * claims its sequence number but is never resolvable. */
  private def rawEntries(spark: SparkSession,
                         root: String): Seq[(Long, String)] = {
    val (fs, p) = fsFor(spark, manifestDir(root))
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("m_"))
      .map { mp =>
        val in = fs.open(mp)
        val content =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        (seqOf(mp.getName), content)
      }.sortBy(_._1).toSeq
  }

  /** (seq, genName) pairs of the COMMITTED manifest entries (non-empty
    * content), ascending by seq. */
  private def entries(spark: SparkSession,
                      root: String): Seq[(Long, String)] =
    rawEntries(spark, root).filter(_._2.nonEmpty)

  /** The current generation's data directory, or None before the first
    * commit. Resolve ONCE per query and hold the returned path — it is
    * immutable for at least the GC age gate after being superseded.
    * Resolution additionally requires the named generation to EXIST,
    * so a torn manifest write (theoretical on local FS) or a dangling
    * pointer can only fall back to the previous generation, never to a
    * broken path. */
  def currentGenDir(spark: SparkSession, root: String): Option[String] = {
    val (fs, _) = fsFor(spark, root)
    entries(spark, root).reverseIterator
      .map { case (_, gen) => s"${generationsDir(root)}/$gen" }
      .find(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
  }

  /** Publish a new generation: `build` materializes the data under the
    * provided fresh directory (a parquet write does); the commit is
    * [[claimSeq]]'s exclusive create of the next manifest entry.
    * Returns the committed generation's data dir. Safe under
    * concurrent publishers — seq collisions retry; generation names
    * carry a random nonce so two builders never share a directory. */
  def publish(spark: SparkSession, root: String)
             (build: String => Unit): String = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val gen = s"gen_${System.currentTimeMillis()}_$nonce"
    val genDir = s"${generationsDir(root)}/$gen"
    // build creates the dir itself (a parquet write refuses an
    // existing path); its fresh timestamped+nonced name cannot collide
    build(genDir)
    commit(spark, root, gen)
    genDir
  }

  /** The age gate of the build-once stores: how long a superseded
    * generation stays readable. [[ensure]] collects with it, and so do
    * the store queries and stream maintainers. */
  val MinAgeMs: Long = 3600L * 1000

  /** Serve the build of `source` from the store at `root`: the current
    * generation when its one-line `_SOURCE` file equals `source`, else
    * a new generation [[publish]]ed from `build` (which writes into the
    * dir it is handed) with `_SOURCE` written after it, before the
    * commit. Collects aged generations ([[gc]], [[MinAgeMs]]) first.
    * A build that dies leaves uncommitted debris the age gate clears,
    * never a half-built generation; concurrent ensures each publish a
    * complete one; a reader keeps the dir it resolved for at least the
    * gate. Returns the dir to serve. */
  def ensure(spark: SparkSession, root: String, source: String)
            (build: String => Unit): String = {
    gc(spark, root, MinAgeMs)
    currentGenDir(spark, root).filter(sourceOf(spark, _).contains(source))
      .getOrElse(publish(spark, root) { dir =>
        build(dir)
        val (fs, p) = fsFor(spark, s"$dir/$SourceFile")
        val out = fs.create(p, true)
        try out.write(source.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      })
  }

  private val SourceFile = "_SOURCE"

  private def sourceOf(spark: SparkSession, genDir: String): Option[String] = {
    val (fs, p) = fsFor(spark, s"$genDir/$SourceFile")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }
  }

  /** [[ensure]] for the build-once store of `family` (a name carrying
    * the format version and every build parameter) over the corpus at
    * `corpusDir` — the one place the content-keyed stores are keyed.
    * The root is `<java.io.tmpdir>/<family>_<md5(corpus path)>`; the
    * source is the md5 of [[contentSig]], so a corpus regenerated at
    * the same path publishes a new generation instead of serving the
    * stale build. */
  private[ext] def ensureForCorpus(spark: SparkSession, family: String,
                                   corpusDir: String)
                                  (build: String => Unit): String =
    ensure(spark,
      s"${sys.props("java.io.tmpdir")}/${family}_${md5hex(corpusDir, 6)}",
      md5hex(contentSig(spark, corpusDir), 16))(build)

  private def md5hex(s: String, nBytes: Int): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .take(nBytes).map("%02x".format(_)).mkString

  /** The corpus's content signature: every file under `corpusDir`,
    * listed RECURSIVELY (nested part files rewritten in place must
    * change it), with its length and mtime. One driver-side metadata
    * listing, no data read. */
  private def contentSig(spark: SparkSession, corpusDir: String): String = {
    val (fs, p) = fsFor(spark, corpusDir)
    if (fs.exists(p)) {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val s = it.next()
        buf += s"${s.getPath}:${s.getLen}:${s.getModificationTime}"
      }
      buf.sorted.mkString("|")
    } else ""
  }

  /** Commit an already-materialized generation name. */
  private[ext] def commit(spark: SparkSession, root: String, gen: String): Unit = {
    val (fs, _) = fsFor(spark, root)
    val genPath = new org.apache.hadoop.fs.Path(s"${generationsDir(root)}/$gen")
    // a publish whose generation was GC'd mid-build (or that never
    // materialized) must fail HERE — committing would publish a
    // dangling pointer every reader trips over
    require(fs.exists(genPath),
      s"generation commit: data dir missing for '$gen' under $root")
    val mdir = new org.apache.hadoop.fs.Path(manifestDir(root))
    fs.mkdirs(mdir)
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 1000,
        s"generation commit: 1000 consecutive seq collisions under $root")
      // allocate above EVERY manifest file name, including zero-length
      // in-flight/crashed claims — else a crashed claim at the top seq
      // would collide forever; [[claimSeq]] is the atomic exclusive
      // create (losers get null and retry above the new maximum)
      val next = maxSeq(fs, root).map(_ + 1).getOrElse(0L)
      val out = claimSeq(fs, root, next)
      if (out != null) {
        val content = gen.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        try out.write(content)
        finally out.close()
        val mp = new org.apache.hadoop.fs.Path(mdir, mName(next))
        // re-stat the entry: a committer stalled past the GC age gate
        // between the exclusive create and the content write can have
        // its aged ZERO-LENGTH claim deleted under it — on a local FS
        // the write then lands on the unlinked inode and "succeeds"
        // silently. A lost commit must fail loudly, never pass.
        val len =
          try Some(fs.getFileStatus(mp).getLen)
          catch { case _: java.io.FileNotFoundException => None }
        require(len.contains(content.length.toLong),
          s"generation commit: manifest entry ${mName(next)} vanished or " +
          s"was truncated mid-commit under $root (committer stalled past " +
          "the GC age gate?) — the commit was lost, retry the publish")
        // the data dir can also be GC'd between the entry-point check
        // and the claim (same stall): re-check, and RETRACT the entry
        // rather than leave a dangling pointer as the current commit.
        // Safe to delete — [[currentGenDir]] requires the named
        // generation to exist, so no reader ever resolved this entry.
        if (!fs.exists(genPath)) {
          fs.delete(mp, false)
          sys.error(s"generation commit: data dir for '$gen' vanished " +
            s"mid-commit under $root — manifest entry retracted, the " +
            "publish was lost (committer stalled past the GC age gate?)")
        }
        done = true
      }
    }
  }

  /** Delete generations superseded for longer than `minAgeMs` (their
    * superseding commit's mtime is the age anchor), plus uncommitted
    * generation debris older than the gate (dir mtime anchor), plus
    * manifest entries older than the newest surviving generation's
    * commit. The CURRENT generation and anything younger than the gate
    * always survive — that is the reader contract. Returns the deleted
    * generation dirs. `nowMs` is injectable for specs. */
  def gc(spark: SparkSession, root: String, minAgeMs: Long,
         nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val (fs, _) = fsFor(spark, root)
    // ONE manifest snapshot drives the whole pass (no second read)
    val raw = rawEntries(spark, root)
    val es = raw.filter(_._2.nonEmpty)
    val mdir = new org.apache.hadoop.fs.Path(manifestDir(root))
    // commit mtimes by seq — entry k is superseded by entry k+1. An
    // entry can vanish between the rawEntries snapshot and this stat
    // (a concurrent gc pruning dead pointers): None, tolerated at the
    // use site, matching the FNF tolerance everywhere else in this
    // pass — never a crash of the whole pass.
    val mtimes: Map[Long, Option[Long]] = es.map { case (seq, _) =>
      seq -> (try Some(fs.getFileStatus(
          new org.apache.hadoop.fs.Path(mdir, mName(seq))).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None })
    }.toMap
    val currentSeqOpt = es.lastOption.map(_._1)
    val committed: Map[String, Long] = es.map(_.swap).toMap // gen -> seq (latest wins)
    val deletable = scala.collection.mutable.ArrayBuffer.empty[String]
    val gdir = new org.apache.hadoop.fs.Path(generationsDir(root))
    if (fs.exists(gdir)) fs.listStatus(gdir).foreach { st =>
      val gen = st.getPath.getName
      committed.get(gen) match {
        case Some(seq) if currentSeqOpt.contains(seq) => () // current: never
        case Some(seq) =>
          // superseded by the NEXT committed entry; age from its mtime.
          // A vanished superseding entry (concurrent gc) ⇒ skip this
          // generation conservatively — the next pass resolves it.
          val superSeq = es.map(_._1).find(_ > seq).get
          if (mtimes(superSeq).exists(nowMs - _ >= minAgeMs))
            deletable += st.getPath.toString
        case None =>
          // uncommitted debris: age from the NEWEST mtime anywhere in
          // the tree — a crashed publish stops writing and ages out,
          // while a live slow build keeps renewing its lease with
          // every file it writes (the dir's own mtime only refreshes
          // on direct-child creation, which a long parquet write
          // inside one subdir never does). A file vanishing mid-walk
          // IS a live build (its _temporary churn) — treat the dir as
          // freshly leased rather than crash the whole gc pass.
          val newest =
            try {
              var m = st.getModificationTime
              val it = fs.listFiles(st.getPath, true)
              while (it.hasNext) {
                m = math.max(m, it.next().getModificationTime)
              }
              m
            } catch { case _: java.io.FileNotFoundException => nowMs }
          if (nowMs - newest >= minAgeMs)
            deletable += st.getPath.toString
      }
    }
    deletable.foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(d), true))
    // manifest entries strictly below the oldest SURVIVING committed
    // generation are dead pointers — drop them (keep the current one
    // always; keep any entry whose generation still exists for
    // readers that resolved it)
    if (es.nonEmpty) {
      val currentSeq = currentSeqOpt.get
      val survivors = {
        val live = if (fs.exists(gdir))
          fs.listStatus(gdir).map(_.getPath.getName).toSet
        else Set.empty[String]
        es.filter { case (seq, gen) => seq == currentSeq || live.contains(gen) }
          .map(_._1).toSet
      }
      es.map(_._1).filterNot(survivors.contains).foreach { seq =>
        fs.delete(new org.apache.hadoop.fs.Path(mdir, mName(seq)), false)
      }
    }
    // zero-length manifest claims (a commit that crashed between the
    // exclusive create and the content write) are debris too once past
    // the gate — their seq is then free for reuse, which is harmless:
    // the claim never resolved for any reader. This runs even with NO
    // committed entry (a first-ever commit that crashed must still age
    // out, not pin its garbage forever).
    raw.filter(_._2.isEmpty).foreach { case (seq, _) =>
      val mp = new org.apache.hadoop.fs.Path(mdir, mName(seq))
      val aged =
        try nowMs - fs.getFileStatus(mp).getModificationTime >= minAgeMs
        catch { case _: java.io.FileNotFoundException => false }
      if (aged) fs.delete(mp, false)
    }
    deletable.toSeq
  }
}
