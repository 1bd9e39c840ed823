package graft

import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions

/** The one place a Spark session is configured. Every main and every
  * spec builds its session here, so a query plans under the same conf
  * in Bench, Verify, the probes and the tests:
  *  - `local[cores]`, with one shuffle partition per core;
  *  - UTC session time zone;
  *  - `parquet.nanosAsLong`: events.parquet carries TIMESTAMP(NANOS),
  *    which Spark has no type for, so it reads as Long nanos since the
  *    epoch and the queries convert;
  *  - AQE on, UI off;
  *  - `GraftExtensions`, which only inject SQL functions (no plan
  *    rules), so Column-API plans are the same with or without them.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)

  def local(cores: Int): SparkSession = builder(cores).getOrCreate()

  /** A new session of `spark`'s context with `conf` set on it before
    * anything plans there — for work that needs other conf (a stream's
    * state width) without writing the conf that concurrent queries on
    * `spark` plan under. It shares the context, the cache and the
    * extensions; its SQL conf starts from the context's (this
    * builder's), not from runtime changes made on `spark`. */
  def derived(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.sessionState.conf.setConfString(k, v) }
    s
  }
}
