package graft.ext

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Scoped release for the library's shared-core caches — the loan
  * pattern that finishes the CACHE CONTRACT story on
  * [[Bpe.encodeIdsWithVocab]] / [[Packing.packSequences]] /
  * [[Unigram.wordPieceRelation]]: those entry points persist a small
  * relation that feeds MULTIPLE returned/consumed subtrees (the
  * measured 2× win their scaladocs quote) and hand back plans that stay
  * LAZY over it, so they cannot unpersist before returning. Wrapping
  * the call+materialization in [[withScope]] releases every relation
  * the core persisted inside the scope the moment the body returns:
  *
  * {{{
  * val packed = CacheScope.withScope {
  *   val toks = Bpe.encodeIds(docs, "doc_id", "text", k = 64)
  *   Packing.packSequences(toks, "doc_id", 2048)
  *     .write.parquet(out)              // materialize INSIDE the scope
  * }
  * // catalog cache is empty here — nothing outlives the scope
  * }}}
  *
  * Semantics of escaping plans: a DataFrame returned OUT of a scope
  * stays valid — Spark recomputes unpersisted relations — it only loses
  * the reuse speedup, so a scope can never corrupt a result, only
  * forfeit caching. Scopes nest (each releases exactly what was
  * registered while it was innermost) and are thread-confined (the
  * thread that opens the scope is the thread whose core calls register
  * into it — Spark jobs launched inside the body all run under the
  * calling thread's scope because registration happens at PLAN
  * construction, not at execution).
  *
  * Callers that deliberately hold a frozen relation across many
  * encodes (the train-once / encode-forever services) simply call the
  * core OUTSIDE any scope: registration is then a no-op and the
  * documented session-lifetime contract (release via
  * `spark.catalog.clearCache()`) applies unchanged — Bench/Verify do
  * both (scope per query + clearCache backstop).
  */
object CacheScope {

  private val scopes =
    new ThreadLocal[List[scala.collection.mutable.ListBuffer[Dataset[_]]]] {
      override def initialValue(): List[scala.collection.mutable.ListBuffer[Dataset[_]]] = Nil
    }

  /** Run `body`, then unpersist every relation the library core
    * persisted (and [[register]]ed) while `body` was the innermost
    * scope on this thread. Materialize results inside the body to keep
    * the cache reuse; plans escaping the scope recompute correctly. */
  def withScope[T](body: => T): T = {
    val buf = scala.collection.mutable.ListBuffer.empty[Dataset[_]]
    scopes.set(buf :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      // Plan-keyed ownership: Spark's CacheManager dedups IDENTICAL
      // plans, so unpersisting an inner registration would also wipe
      // an enclosing scope's cache of the same relation (live since
      // round 19: two models trained over the same corpus register
      // the same wordCounts plan). A dataset whose canonicalized plan
      // is still registered in an enclosing active scope is left for
      // that scope to release. Comparison is on the ANALYZED plan —
      // the CacheManager's own key (sameResult over analyzed plans):
      // two registrations whose RAW logical plans differ but analyze
      // to the same result still collide in the cache (ADVICE r19).
      val outerPlans = scopes.get.iterator.flatten
        .map(_.queryExecution.analyzed.canonicalized).toSet
      buf.foreach { ds =>
        if (!outerPlans.contains(ds.queryExecution.analyzed.canonicalized))
          ds.unpersist()
        ()
      }
    }
  }

  /** Core-side hook: record a just-persisted relation in the innermost
    * active scope (no-op without one — the scaladoc'd session-lifetime
    * contract then applies). Returns `ds` for call-site chaining. */
  private[graft] def register[T](ds: Dataset[T]): Dataset[T] = {
    scopes.get.headOption.foreach(_ += ds)
    ds
  }

  /** Free the blocks behind an eager `localCheckpoint` — the trainers'
    * per-iteration lineage cut. Dataset.unpersist does not free them
    * (a checkpointed RDD is not in the CacheManager), so without this
    * they linger until driver GC. The RDD comes from the checkpoint's
    * OWN plan: an eager checkpoint collapses to one LogicalRDD over
    * exactly that RDD. A before/after diff of the context-global
    * persistent-RDD map would also free whatever was persisted
    * meanwhile — a caller's `cache()` first materialized by the
    * training (its CacheManager entry then silently recomputes on
    * every read), or another thread's checkpoint, whose only copy it
    * destroys. `ckpt` must not be read afterwards. */
  private[graft] def releaseCheckpoint(ckpt: Dataset[_]): Unit =
    ckpt.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false); ()
      case p => throw new IllegalArgumentException(
        s"releaseCheckpoint: not an eager checkpoint (plan root ${p.nodeName})")
    }

  /** Relations registered in the innermost scope so far — spec hook. */
  private[graft] def activeRelations: Seq[Dataset[_]] =
    scopes.get.headOption.map(_.toSeq).getOrElse(Seq.empty)
}
