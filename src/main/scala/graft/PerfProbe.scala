package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement aid (guide §1): run queries through the noop sink with a
  * listener counting jobs/stages/tasks and summed task time, so wall
  * time splits into scheduled work vs driver-side gaps. Not part of the
  * driver contract; Bench stays the official record. */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0)
    // optional per-job breakdown (SPARK_GRAFT_PROBE_JOBS=N prints the
    // top-N jobs by summed task time with their callsites)
    val topJobs = sys.env.get("SPARK_GRAFT_PROBE_JOBS").map(_.toInt).getOrElse(0)
    // optional per-stage skew view (SPARK_GRAFT_PROBE_STAGES=N prints
    // the top-N stages by summed task time with max/median task)
    val topStages = sys.env.get("SPARK_GRAFT_PROBE_STAGES").map(_.toInt).getOrElse(0)
    val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, scala.collection.mutable.ArrayBuffer[Long]]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val stageCpuMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val stageGcMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val stageDeserMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (topJobs > 0) {
          j.stageIds.foreach(sid => jobOfStage.put(sid, j.jobId))
          jobSite.put(j.jobId,
            Option(j.properties).map(_.getProperty("callSite.short", "?")).getOrElse("?"))
        }
        ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        if (topStages > 0) stageName.put(s.stageInfo.stageId, s.stageInfo.name)
        ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) {
          taskMs.addAndGet(t.taskInfo.duration)
          if (topJobs > 0) Option(jobOfStage.get(t.stageId)).foreach { jid =>
            jobTaskMs.computeIfAbsent(jid, _ => new java.util.concurrent.atomic.AtomicLong(0))
              .addAndGet(t.taskInfo.duration)
            jobTasks.computeIfAbsent(jid, _ => new java.util.concurrent.atomic.AtomicLong(0))
              .incrementAndGet()
          }
          if (topStages > 0) {
            val buf = stageTaskMs.computeIfAbsent(t.stageId,
              _ => scala.collection.mutable.ArrayBuffer.empty[Long])
            buf.synchronized { buf += t.taskInfo.duration; () }
            if (t.taskMetrics != null) {
              val c = stageCpuMs.computeIfAbsent(t.stageId,
                _ => new java.util.concurrent.atomic.AtomicLong(0))
              c.addAndGet(t.taskMetrics.executorCpuTime / 1000000L)
              val g = stageGcMs.computeIfAbsent(t.stageId,
                _ => new java.util.concurrent.atomic.AtomicLong(0))
              g.addAndGet(t.taskMetrics.jvmGCTime)
              val dsr = stageDeserMs.computeIfAbsent(t.stageId,
                _ => new java.util.concurrent.atomic.AtomicLong(0))
              dsr.addAndGet(t.taskMetrics.executorDeserializeTime)
            }
          }
        }
        ()
      }
    })
    for (name <- args) {
      // warm once (parquet footer caches, codegen) so the probe reads
      // steady-state, like Bench's median does
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"$name WARM-FAIL: ${e.getMessage}") }
      spark.catalog.clearCache()
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      jobOfStage.clear(); jobSite.clear(); jobTaskMs.clear(); jobTasks.clear()
      stageTaskMs.clear(); stageName.clear()
      stageCpuMs.clear(); stageGcMs.clear(); stageDeserMs.clear()
      // `compiles=`: classes the timed pass generated and compiled; a
      // warm pass that compiles again pays Janino before its jobs run
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      try graft.ext.CacheScope.withScope {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable => println(s"$name FAIL: ${e.getMessage}") }
      val wallS = (System.nanoTime() - t0) / 1e9
      println(f"PROBE $name%-32s wall=$wallS%7.2fs jobs=${jobs.get}%4d stages=${stages.get}%5d tasks=${tasks.get}%6d taskTime=${taskMs.get / 1000.0}%8.1fs compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0}%4d")
      if (topJobs > 0) {
        import scala.jdk.CollectionConverters._
        jobTaskMs.asScala.toSeq.sortBy(-_._2.get).take(topJobs).foreach {
          case (jid, ms) =>
            val n = Option(jobTasks.get(jid)).map(_.get).getOrElse(0L)
            println(f"  JOB $jid%4d taskTime=${ms.get / 1000.0}%8.2fs tasks=$n%5d  ${jobSite.getOrDefault(jid, "?")}")
        }
      }
      if (topStages > 0) {
        import scala.jdk.CollectionConverters._
        stageTaskMs.asScala.toSeq.sortBy(-_._2.sum).take(topStages).foreach {
          case (sid, buf) =>
            val ts = buf.sorted
            def g(m: java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]) =
              Option(m.get(sid)).map(_.get / 1000.0).getOrElse(0.0)
            println(f"  STAGE $sid%4d sum=${ts.sum / 1000.0}%7.2fs cpu=${g(stageCpuMs)}%7.2fs gc=${g(stageGcMs)}%5.2fs deser=${g(stageDeserMs)}%5.2fs n=${ts.length}%4d max=${ts.last / 1000.0}%6.2fs med=${ts(ts.length / 2) / 1000.0}%6.2fs  ${stageName.getOrDefault(sid, "?").take(70)}")
        }
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
