package graft.ext

/** Overlap INDEPENDENT Spark actions inside one operator (guide §2.6):
  * Spark's scheduler happily runs several jobs at once in one
  * application — actions are only sequential because driver code calls
  * them sequentially. The streaming store maintainers are the measured
  * case: a micro-batch's per-store sub-writes (tf ∥ df ∥ stats;
  * verdicts ∥ reps) are data-independent jobs of ~0.1-0.5 s fixed cost
  * each, and running them back-to-back leaves the executors idle
  * through every job's tail (PerfProbe round-20 before:
  * q_stream_genstore_bm25 = 62 sequential jobs, 69 tasks, wall 12.6 s
  * vs 8.8 s summed task time — the wall IS the job serialization).
  *
  * Contract: the thunks MUST be mutually independent (no thunk reads
  * what another writes) and must all complete before anything that
  * depends on them — the atomic commit marker of a staged batch stays
  * strictly AFTER the join, so the staged-batch crash contract is
  * unchanged: a failure in any thunk propagates (first error, others
  * are still awaited) and the batch is never committed.
  *
  * Threads are created per call (2-3 per micro-batch — negligible
  * against the jobs they run) and inherit the caller's inheritable
  * thread-locals, so SparkContext job descriptions/groups behave
  * exactly as on the calling thread. Each thunk's DataFrame plans and
  * runs under its own session's conf, whichever session the thread
  * inherited as active: a streaming maintainer's thunks run on the
  * caller's session ([[graft.streaming.StreamPipeline]] re-plans each
  * micro-batch there), and no thunk writes conf. Concurrent
  * first-materialization of a shared persisted relation is safe: the
  * BlockManager locks per block, one thread computes, the rest block
  * (ParJobsSpec counts one computation per row).
  */
private[graft] object ParJobs {

  /** Run the thunks concurrently; return when ALL have finished.
    * Throws the first failure (after all have stopped running). */
  def run(thunks: (() => Unit)*): Unit = {
    if (thunks.length <= 1) { thunks.foreach(_()); return }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = thunks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(
        () => try t() catch { case e: Throwable => errs.add(e); () },
        s"graft-parjobs-$i")
      th.setDaemon(true)
      th
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }
}
