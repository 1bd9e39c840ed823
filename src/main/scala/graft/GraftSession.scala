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
}
