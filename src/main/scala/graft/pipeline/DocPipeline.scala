package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Sentiment, Udfs}

/** The reference's 16-processor flow (SURVEY.md §0, §3.3) as ONE lazily
  * planned DataFrame DAG:
  *
  *   ListFile+FetchFile → ExtractMediaMetadata → ExtractTextProcessor →
  *   SplitText → ExtractText(regex) → NLP/CoreNLP → AttributesToJSON →
  *   QueryRecord routes → sinks
  *
  * Where NiFi hops a queue between 16 independently-scheduled
  * processors, this whole per-record path is shuffle-free narrow
  * transforms — partition-parallel across the cluster, with shuffles
  * only where we choose them (merge policy / partitioned writes).
  */
object DocPipeline {

  /** ListFile's gating config (56409-tika.xml:2302-2344). */
  final case class IngestConfig(
      pathGlobFilter: Option[String] = None, // File Filter=[^\.].* ≈ non-hidden
      minFileSize: Long = 0L,                // Minimum File Size=50 B
      minFileAgeSec: Long = 0L,              // Minimum File Age=30 sec
      recursive: Boolean = true)

  /** ExtractTextProcessor's properties (ExtractTextProcessor.java:75-94). */
  final case class ExtractConfig(maxTextLength: Int = -1, htmlOutput: Boolean = false)

  /** S1+S2 ListFile+FetchFile: the binaryFile source couples list+fetch
    * and yields (path, modificationTime, length, content).
    *
    * The scan is coalesced to [[scanWidth]] partitions. binaryFile
    * packs files into scan partitions charging
    * `spark.sql.files.openCostInBytes` (4 MB) per file on top of its
    * bytes, so a corpus of small documents becomes one partition per
    * ~32 files: 1,800 documents of 5.8 MB in all made 57 partitions,
    * and every later job of the flow inherited 57 tasks. Coalescing is
    * narrow (no shuffle), keeps filters on `path`, `length` and
    * `modificationTime` pushed into the scan, and is a no-op when the
    * scan already has fewer partitions. */
  def ingest(spark: SparkSession, dir: String, cfg: IngestConfig = IngestConfig()): DataFrame = {
    var reader = spark.read.format("binaryFile")
    cfg.pathGlobFilter.foreach(g => reader = reader.option("pathGlobFilter", g))
    reader = reader.option("recursiveFileLookup", cfg.recursive.toString)
    var df = reader.load(dir)
    if (cfg.minFileSize > 0) df = df.filter(col("length") >= cfg.minFileSize)
    if (cfg.minFileAgeSec > 0)
      df = df.filter(col("modificationTime") <=
        (current_timestamp() - expr(s"INTERVAL ${cfg.minFileAgeSec} SECOND")))
    df.coalesce(scanWidth(df))
  }

  /** Partitions for a document scan: two tasks per core (the 2–3 per
    * core of Spark's tuning guide; at one per core the largest-first
    * file packing leaves a straggler), or one per
    * `spark.sql.files.maxPartitionBytes` of listed bytes once the
    * corpus is large enough for its bytes, not its file count, to set
    * the width. The bytes are the relation's plan statistics, which
    * for a file scan are the listed file sizes. */
  private def scanWidth(df: DataFrame): Int = {
    val spark = df.sparkSession
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val split = BigInt(spark.sessionState.conf.filesMaxPartitionBytes)
    val byBytes = ((bytes + split - 1) / split).min(1 << 20).toInt
    math.max(2 * spark.sparkContext.defaultParallelism, byBytes)
  }

  /** T1–T5: metadata + text extraction; one UDF call per document, all
    * derived columns from the single struct result.
    *
    * The struct comes out of a generator (`inline` over a one-element
    * array), not a projected alias. Spark pushes a filter through a
    * projection by substituting the alias, so with a projected struct
    * `successFailure`'s `error IS NULL` landed below the projection as
    * a second `extract_doc` call and every document was extracted
    * twice. A filter on a generator's output stays above the
    * generator, while filters on `path`, `filename` or `length` still
    * pass below it to the scan. The UDF stays deterministic: marking it
    * nondeterministic would stop every pushdown through this step. */
  def enrich(docs: DataFrame, cfg: ExtractConfig = ExtractConfig()): DataFrame = {
    docs
      .withColumn("filename", element_at(split(col("path"), "/"), -1))
      .withColumn("meta", Udfs.extract_metadata(col("content"), col("filename")))
      .select(
        col("path"), col("filename"), col("length"), col("modificationTime"),
        col("meta"),
        inline(array(Udfs.extract_doc(col("content"), col("filename"),
          lit(cfg.maxTextLength), lit(cfg.htmlOutput))))
          .as(Seq("text", "mime_type", "orig_mime_type", "error")))
  }

  /** Q2: the wasError route split (ExtractTextProcessor.java:201-202). */
  def successFailure(enriched: DataFrame): (DataFrame, DataFrame) =
    (enriched.filter(col("error").isNull), enriched.filter(col("error").isNotNull))

  /** G1 SplitText (Line Split Count=1, Remove Trailing Newlines=true) +
    * G2 ExtractText regex `(^.*$)` → sentence (56409-tika.xml:2063). */
  def toLines(enriched: DataFrame, textCol: String = "text"): DataFrame =
    enriched
      .select(col("*"), posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .filter(length(trim(col("line"))) > 0)
      .withColumn("sentence", regexp_extract(col("line"), "(^.*$)", 1))

  /** N1+N2: entity + sentiment tagging over the sentence attribute. */
  def tag(lines: DataFrame): DataFrame =
    lines
      .withColumn("entities", Udfs.extractEntities(col("sentence")))
      .withColumn("sentiment", Sentiment.sentimentCol(col("sentence")))

  /** T8 AttributesToJSON (Destination=flowfile-content): the record's
    * attribute set serialized as a JSON object column. */
  def toJsonRecords(tagged: DataFrame, cols: Seq[String]): DataFrame =
    tagged.withColumn("json", to_json(struct(cols.map(col): _*)))

  /** A2 InferAvroSchema: infer the record schema from a sample of the
    * JSON column and emit the AVRO SCHEMA DOCUMENT the template stores
    * in `inferred.avro.schema` — record name `PDF`, pretty JSON
    * (56409-tika.xml:1611-1646, `25 records analyzed`). */
  def inferSchema(json: DataFrame, jsonCol: String = "json", sample: Int = 25,
                  recordName: String = "PDF"): String =
    AvroIo.inferAvroSchema(json, jsonCol, recordName, sample)

  /** The Spark-DDL form of the same inference (engine-side convenience,
    * not the template contract). */
  def inferSchemaDdl(json: DataFrame, jsonCol: String = "json", sample: Int = 25): String = {
    val spark = json.sparkSession
    import spark.implicits._
    val ds = json.select(col(jsonCol)).limit(sample).as[String]
    spark.read.json(ds).schema.toDDL
  }
}
