package graft

import java.nio.file.Files
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The session every spec runs on: `GraftSession` at 4 cores, with the
  * warehouse in a temp dir so no spec writes under the working
  * directory. All specs share one forked JVM and so one session, which
  * is identical whichever spec happens to create it.
  *
  * A suite fails if it leaves the session's conf different from how it
  * found it (every changed key is named): a spec that needs other conf
  * restores it or works on `spark.newSession()`.
  */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  protected lazy val spark: SparkSession = GraftSession.builder(4)
    .config("spark.sql.warehouse.dir", SparkSuite.warehouse)
    .getOrCreate()

  private var confAtStart = Map.empty[String, String]

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    confAtStart = spark.conf.getAll
  }

  override protected def afterAll(): Unit = {
    val now = spark.conf.getAll
    val changed = (confAtStart.keySet ++ now.keySet).toSeq.sorted
      .filter(k => confAtStart.get(k) != now.get(k))
      .map(k => s"$k: ${confAtStart.getOrElse(k, "<unset>")} -> ${now.getOrElse(k, "<unset>")}")
    try assert(changed.isEmpty,
      s"$suiteName leaked session conf: ${changed.mkString("; ")}")
    finally super.afterAll()
  }
}

object SparkSuite {
  /** One per JVM (the warehouse is a static conf), removed at exit. */
  private lazy val warehouse: String = {
    val d = Files.createTempDirectory("graft_warehouse").toFile
    sys.addShutdownHook(JavaUtils.deleteRecursively(d))
    d.getAbsolutePath
  }
}
