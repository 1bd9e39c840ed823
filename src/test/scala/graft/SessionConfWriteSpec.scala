package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Shared Spark state is written in one named place only. A conf write
  * on a shared session reaches every query planned there meanwhile, on
  * any thread; work that needs other conf runs on
  * `GraftSession.derived`'s session of its own. A before/after diff of
  * the context's persistent-RDD map frees whatever any thread persisted
  * inside the window; a checkpoint is freed from its own plan
  * (`CacheScope.releaseCheckpoint`). */
class SessionConfWriteSpec extends AnyFunSuite {

  /** (pattern, the one file and `def` it may appear in, or None for
    * nowhere in `src/main`). */
  private val Allowed = Seq(
    ("""conf\s*\.\s*(set|unset)\s*\(""".r, None),
    ("""getPersistentRDDs\s*\.\s*keySet""".r, None),
    ("""setConfString\s*\(""".r, Some(("GraftSession.scala", "derived"))))

  private def sources(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  for ((write, site) <- Allowed)
    test(s"src/main matches ${write.regex} " +
      site.fold("nowhere")(s => s"only in ${s._2}")) {
      val hits = sources("src/main").flatMap { p =>
        val text = Files.readString(p)
        write.findAllMatchIn(text).map(m => (p.getFileName.toString, text, m.start))
      }
      site match {
        case None =>
          assert(hits.isEmpty, hits.map { case (name, _, at) => s"$name at offset $at" }
            .mkString(s"${write.regex} in src/main: ", ", ", ""))
        case Some((file, fn)) =>
          // the allowed entry must still be live: remove it when its site goes
          assert(hits.nonEmpty, s"no ${write.regex} left in src/main: drop the $fn entry")
          hits.foreach { case (name, text, at) =>
            val start = text.indexOf(s"def $fn")
            val end = Some(text.indexOf("\n  def ", start + 1)).filter(_ >= 0)
              .getOrElse(text.length)
            assert(name == file && start >= 0 && at > start && at < end,
              s"$name writes session conf at offset $at outside $file's $fn")
          }
      }
    }
}
