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
  * persist once per corpus content (a generation of the build-once
  * store, [[indexFor]] — the [[Bm25.indexFor]] shape), REPARTITIONED BY
  * gram and sorted within partitions so each parquet file covers a
  * gram range and a probe's `isin` filter prunes most files at the
  * scan via row-group min/max on `g`.
  */
object TrigramIndex {

  /** The posting index of `docs` (`doc_id`, `text`), the corpus at
    * `corpusDir`, served from its build-once store
    * ([[GenerationStore.ensureForCorpus]]). Returns the generation dir
    * to serve. */
  def indexFor(docs: DataFrame, corpusDir: String): String =
    GenerationStore.ensureForCorpus(docs.sparkSession, "graft_tri_v1",
      corpusDir)(ensureIndex(docs, "doc_id", "text", _))

  /** Build the posting relation into `dir`: one explode+distinct pass
    * over the corpus — the cost every inline probe used to pay. */
  def ensureIndex(docs: DataFrame, idCol: String, textCol: String,
                  dir: String): Unit =
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
