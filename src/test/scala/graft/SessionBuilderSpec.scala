package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every session is built through `GraftSession`: a second builder
  * chain would bring back a session with its own conf. */
class SessionBuilderSpec extends AnyFunSuite {
  private val Builder = """SparkSession\s*\.\s*builder""".r

  private def sources(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("GraftSession.scala holds the only session builder chain") {
    val hits = (sources("src/main") ++ sources("src/test"))
      .filter(p => Builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.getFileName.toString)
    assert(hits == Seq("GraftSession.scala"))
  }
}
