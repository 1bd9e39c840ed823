package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Session conf is written in two named places only. A conf write on a
  * shared session reaches every query planned there meanwhile, on any
  * thread; work that needs other conf runs on
  * `GraftSession.derived`'s session of its own. */
class SessionConfWriteSpec extends AnyFunSuite {

  /** (write pattern, the one file and `def` it may appear in). The
    * first entry goes when `LongVecSum.withGroupBudget` goes. */
  private val Allowed = Seq(
    ("""conf\s*\.\s*(set|unset)\s*\(""".r, "LongVecSumExpression.scala", "withGroupBudget"),
    ("""setConfString\s*\(""".r, "GraftSession.scala", "derived"))

  private def sources(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  for ((write, file, fn) <- Allowed)
    test(s"src/main matches ${write.regex} only in $fn") {
      val hits = sources("src/main").flatMap { p =>
        val text = Files.readString(p)
        write.findAllMatchIn(text).map(m => (p.getFileName.toString, text, m.start))
      }
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
