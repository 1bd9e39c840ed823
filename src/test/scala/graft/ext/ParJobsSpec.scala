package graft.ext

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** `ParJobs`' shared-cache claim: thunks that first-materialize one
  * persisted relation together compute each of its rows once — the
  * BlockManager write-locks a block while one task computes it, and a
  * concurrent task for the same block waits and reads it.
  */
class ParJobsSpec extends AnyFunSuite with SparkSuite {

  test("concurrent first reads of a persisted relation compute each row once") {
    val evals = spark.sparkContext.longAccumulator("parjobs_row_evals")
    // ~0.1 s per partition, so the three jobs' tasks for one partition overlap
    val counted = udf { (id: Long) => Thread.sleep(2); evals.add(1); id }
      .asNondeterministic()
    val n = 400L
    val rel = spark.range(0, n, 1, 8).select(counted(col("id")).as("id")).persist()
    try {
      val sums = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      ParJobs.run(Seq.fill(3)(() => {
        sums.add(rel.agg(sum(col("id"))).head().getLong(0)); ()
      }): _*)
      assert(sums.asScala.toSeq == Seq.fill(3)(n * (n - 1) / 2))
      assert(evals.sum == n, s"$n rows computed ${evals.sum} times by 3 concurrent readers")
    } finally { rel.unpersist(); () }
  }
}
