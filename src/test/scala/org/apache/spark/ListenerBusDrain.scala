package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Listener events arrive asynchronously: a spec that counts jobs with
  * a listener drains the bus first, so every job it ran is counted.
  * `listenerBus` is package-private to Spark, hence this package. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Final-stage names of the jobs `f` runs, one per job. */
  def jobsOf(sc: SparkContext)(f: => Unit): Seq[String] = {
    val names = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        names.add(j.stageInfos.maxBy(_.stageId).name); ()
      }
    }
    drain(sc)
    sc.addSparkListener(l)
    try { f; drain(sc) } finally sc.removeSparkListener(l)
    names.asScala.toSeq
  }
}
