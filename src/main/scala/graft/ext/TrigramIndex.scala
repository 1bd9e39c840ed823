package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted character-trigram substring index — the Zoekt/code-search
  * posting trick promoted to the repo's build-once / probe-many serving
  * pattern ([[Bm25]], [[Ivf]]): a literal pattern can only occur in a
  * document that contains EVERY one of the pattern's trigrams, so the
  * candidate set is a df-bounded posting intersection and the exact
  * `contains()` verify runs on candidates alone.
  *
  * The inline form rebuilt the (g, doc_id) posting relation — a full
  * explode+distinct over the corpus text — on EVERY probe; correct,
  * but serve-many pays the whole build each time. Here the postings
  * persist once per corpus (content-signature-keyed dir, `_BUILT`
  * guard, stale-sibling GC — exactly the [[Bm25.ensureIndex]] shape),
  * REPARTITIONED BY gram and sorted within partitions so each parquet
  * file covers a gram range and a probe's `isin` filter prunes most
  * files at the scan via row-group min/max on `g`.
  *
  * SINGLE-WRITER assumption: same as [[Bm25.ensureIndex]] — no lock
  * between the `_BUILT` probe, sibling GC, and build; concurrent
  * builders need external serialization or temp-dir + atomic rename.
  */
object TrigramIndex {

  /** Deterministic index location: corpus path + content signature
    * (a regenerated corpus keys to a NEW dir, never a stale reuse). */
  def indexDirFor(corpusDir: String,
                  root: String = sys.props("java.io.tmpdir")): String =
    s"$root/${Ivf.indexPrefix("graft_tri_v1", corpusDir)}_${Ivf.md5hex(Ivf.contentSig(corpusDir), 8)}"

  /** Build the posting relation on disk; `_BUILT`-guarded no-op when
    * it already exists. One explode+distinct pass over the corpus —
    * the cost every inline probe used to pay. */
  def ensureIndex(docs: DataFrame, idCol: String, textCol: String,
                  dir: String): Unit =
    ArtifactDir.ensure(docs.sparkSession, dir,
      "^(graft_tri_v1_[0-9a-f]+_).*".r) {
      docs.selectExpr(s"$idCol AS doc_id",
          s"explode(if(length($textCol) >= 3, " +
            s"transform(sequence(1, length($textCol) - 2), " +
            s"i -> substring($textCol, i, 3)), array())) AS g")
        .distinct()
        .select(col("g"), col("doc_id"))
        // write width from source bytes (Compaction's file-size policy)
        .repartition(Compaction.writerWidth(docs), col("g"))
        .sortWithinPartitions(col("g"), col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/postings")
    }

  /** Candidate doc ids for a literal `pattern` (≥3 chars): documents
    * containing ALL of the pattern's distinct trigrams. Touches only
    * the gram-range-pruned posting files — never the corpus text; the
    * caller joins text back for the exact verify on candidates alone. */
  def candidates(spark: SparkSession, dir: String, pattern: String): DataFrame = {
    require(pattern.length >= 3,
      s"trigram prefilter needs a pattern of >= 3 chars, got '$pattern'")
    val grams = pattern.sliding(3).toSeq.distinct
    spark.read.parquet(s"$dir/postings")
      .filter(col("g").isin(grams: _*))
      .groupBy(col("doc_id")).agg(count_distinct(col("g")).as("ng"))
      .filter(col("ng") === grams.length)
  }
}
