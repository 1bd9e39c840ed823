package perfbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans and counters for the traced run. A span is
  * (id, parent, name, start, end); the parent is the innermost open
  * span on the same thread. Span names are `layer.what`, so self time
  * per layer is a group-by on the prefix (done by stats.py). With
  * `enabled` false every call is a pass-through: the untraced runs
  * record nothing. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

  private val nextId = new AtomicInteger(1)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  /** Whether spans on this thread are recorded right now (a traced run
    * alternates traced and untraced operations). */
  private val on = new ThreadLocal[Boolean] { override def initialValue(): Boolean = true }

  def recording: Boolean = enabled && on.get

  def withRecording[A](flag: Boolean)(f: => A): A = {
    val prev = on.get
    on.set(flag)
    try f finally on.set(prev)
  }

  def span[A](name: String)(f: => A): A =
    if (!recording) f
    else {
      val id = nextId.getAndIncrement()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(open.get.tail)
        done.synchronized { done += Span(id, parent, name, t0, t1) }
      }
    }

  def set(name: String, v: Double): Unit =
    if (enabled) counters.synchronized { counters(name) = v }

  def spans: Seq[Span] = done.synchronized(done.toList)
  def counterMap: Map[String, Double] = counters.synchronized(counters.toMap)
}

/** Spark scheduler totals, split by the `perfbench.op` local property
  * the benchmark sets on each of its threads (streaming jobs carry the
  * engine's query-id property instead and count as "stream"). */
final class SparkStats extends SparkListener {
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var spillBytes = 0L
    def toMap: Map[String, Double] = Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "task_s" -> taskMs / 1e3, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_write_mb" -> shuffleWriteBytes / 1048576.0,
      "spill_mb" -> spillBytes / 1048576.0)
  }
  private val byOp = mutable.Map.empty[String, Totals]
  private val stageOp = mutable.Map.empty[Int, String]

  private def opOf(props: java.util.Properties): String =
    if (props == null) "other"
    else if (props.getProperty("sql.streaming.queryId") != null) "stream"
    else Option(props.getProperty(SparkStats.OpKey)).getOrElse("other")

  private def totals(op: String): Totals = byOp.getOrElseUpdate(op, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    totals(op).jobs += 1
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals(stageOp.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageOp.getOrElse(e.stageId, "other"))
    t.tasks += 1
    if (e.taskInfo != null) t.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: Map[String, Map[String, Double]] = synchronized {
    byOp.map { case (k, v) => k -> v.toMap }.toMap
  }
}

object SparkStats {
  val OpKey = "perfbench.op"

  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Every micro-batch progress report of every streaming query. */
final class StreamStats extends StreamingQueryListener {
  final case class Batch(queryId: String, batchId: Long, rows: Long,
                         startMs: Long, durations: Map[String, Long])
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs
      val ds = d.keySet.toArray.map(_.toString).map(k => k -> d.get(k).longValue).toMap
      synchronized { batches += Batch(p.id.toString, p.batchId, p.numInputRows, start, ds) }
    }
  }

  def all: Seq[Batch] = synchronized(batches.toList)
}
