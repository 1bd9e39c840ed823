package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: builds the one session, generates the
  * workload's inputs from the seed, runs it for the given seconds and
  * writes every raw sample (latencies, spans, listener totals, oracle
  * verdicts) to one JSON file. run.py turns that file into metrics.
  *
  * Usage: Main --workload <docs_flow|curate|stream_serve> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <file>
  *   [--scale <full|smoke>] [--testdata <sfDir>]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, out: Path, smoke: Boolean, testdata: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, m.get("scale").contains("smoke"),
      m.getOrElse("testdata", ""))
  }

  val Cores: Int = Runtime.getRuntime.availableProcessors

  /** Set-up runs this many times per run; `setup_s` takes the median. */
  val SetupReps = 3

  /** The benchmark's one session builder: local[nproc], shuffle width =
    * nproc, AQE on, UTC, no UI, every scratch directory inside the
    * work dir. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    Files.createDirectories(a.work)
    val workload: Workload = a.workload match {
      case "docs_flow"    => new DocsFlow
      case "curate"       => new Curate
      case "stream_serve" => new StreamServe
      case w              => sys.error(s"unknown workload $w")
    }
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, a)
    spark.sparkContext.addSparkListener(ctx.sparkStats)
    spark.streams.addListener(ctx.streamStats)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "cores" -> Cores)
    try {
      val reps = (1 to (if (a.smoke) 1 else SetupReps)).map { r =>
        val s0 = System.nanoTime()
        ctx.asOp("setup")(workload.setup(ctx, r))
        (System.nanoTime() - s0) / 1e9
      }
      out("setup") = Map("session_s" -> sessionS, "reps_s" -> reps)
      ctx.asOp("check")(workload.warmAndCheck(ctx))
      out("weather_before") = Probes.weather(ctx)
      val snap0 = ctx.sparkSnapshot()
      val w0 = System.nanoTime()
      workload.measure(ctx, w0 + (a.seconds * 1e9).toLong)
      val windowS = (System.nanoTime() - w0) / 1e9
      val snap1 = ctx.sparkSnapshot()
      ctx.asOp("check")(workload.finalCheck(ctx))
      out("window_s") = windowS
      out("spark_window") = snap1.map { case (op, m) =>
        op -> SparkStats.diff(m, snap0.getOrElse(op, Map.empty)) }
      if (a.trace) ctx.asOp("probe")(workload.probeLayers(ctx))
      out("weather_after") = Probes.weather(ctx)
    } catch {
      case e: Throwable =>
        ctx.rec.attempt()
        ctx.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally {
      out("conf") = ctx.confRecord
      out("peak_rss_mb") = Probes.peakRssMb()
      out ++= ctx.rec.toMap
      out("spans") = ctx.tracer.spans.map(s =>
        Seq(s.id, s.parent, s.name, s.startNs, s.endNs))
      out("counters") = ctx.tracer.counterMap
      out("stream_batches") = ctx.streamStats.all.map(b => Map(
        "query" -> b.queryId, "batch" -> b.batchId, "rows" -> b.rows,
        "start_ms" -> b.startMs, "durations" -> b.durations))
      Files.write(a.out, Json.write(out).getBytes("UTF-8"))
      spark.stop()
    }
  }
}

/** One workload: set-up (timed, repeated), an untimed warm-up that is
  * also oracle-checked, the timed window, a final check, and the traced
  * probes of the layers it exercises. */
trait Workload {
  def setup(ctx: Ctx, rep: Int): Unit
  def warmAndCheck(ctx: Ctx): Unit
  def measure(ctx: Ctx, deadlineNs: Long): Unit
  def finalCheck(ctx: Ctx): Unit
  /** Per-layer probes run after the window in a traced run. */
  def probeLayers(ctx: Ctx): Unit
}

/** Samples, operation counts and failures of one run. */
final class Recorder {
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Any]]
  private val values = mutable.LinkedHashMap.empty[String, Any]

  def attempt(): Unit = synchronized { attempted += 1 }
  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (failures.length < 20) failures += msg
  }
  def sample(key: String, v: Any): Unit = synchronized {
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  }
  def value(key: String, v: Any): Unit = synchronized { values(key) = v }
  def toMap: Map[String, Any] = synchronized(Map(
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toList,
    "samples" -> samples.map { case (k, v) => k -> v.toList }.toMap,
    "values" -> values.toMap))
}

final class Ctx(val spark: SparkSession, val args: Main.Args) {
  val tracer = new Tracer(args.trace)
  val sparkStats = new SparkStats
  val streamStats = new StreamStats
  val rec = new Recorder
  def work: Path = args.work
  def seed: Long = args.seed

  def fail(msg: String): Unit = rec.fail(msg)

  /** Tag every job this thread starts inside `f` with `op`. */
  def asOp[A](op: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SparkStats.OpKey)
    sc.setLocalProperty(SparkStats.OpKey, op)
    try f finally sc.setLocalProperty(SparkStats.OpKey, prev)
  }

  /** One counted operation: an exception is a failure, never fatal. */
  def attempt[A](what: String)(f: => A): Option[A] = {
    rec.attempt()
    try Some(f) catch {
      case e: Throwable =>
        rec.fail(s"$what: ${e.toString.take(300)}")
        None
    }
  }

  /** A boolean oracle verdict counted as one operation. */
  def check(what: String)(ok: => Boolean): Unit = {
    rec.attempt()
    val v = try ok catch { case e: Throwable => rec.fail(s"$what: $e"); return }
    if (!v) rec.fail(s"oracle mismatch: $what")
  }

  def sparkSnapshot(): Map[String, Map[String, Double]] = {
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    sparkStats.snapshot
  }

  /** The session conf before and after every pass; a pass that leaves
    * the session conf different is counted in `conf_changed`. */
  def confGuard[A](f: => A): A = {
    val before = spark.conf.getAll
    try f finally {
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))
      rec.sample("conf_changed", changed)
    }
  }

  def confRecord: Map[String, Any] = {
    val c = spark.conf.getAll
    Map("master" -> spark.sparkContext.master,
      "shuffle_partitions" -> c.getOrElse("spark.sql.shuffle.partitions", ""),
      "aqe" -> c.getOrElse("spark.sql.adaptive.enabled", ""),
      "time_zone" -> c.getOrElse("spark.sql.session.timeZone", ""),
      "ui" -> spark.sparkContext.getConf.get("spark.ui.enabled", ""),
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version)
  }

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Enough JSON for the raw-results file: maps, sequences, strings,
  * numbers, booleans. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, v), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(v)
        }
        sb += '}'
      case xs: Iterable[_] =>
        sb += '['
        xs.iterator.zipWithIndex.foreach { case (y, i) => if (i > 0) sb += ','; go(y) }
        sb += ']'
      case p: Product => go(p.productIterator.toList)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
