package graft

import java.nio.file.{Files, Paths}

/** The reference processor's own test fixtures (simple.pdf, simple.doc,
  * simple.docx, big.pdf; FIXTURES.md §1), read from the NiFi
  * ExtractText checkout in `reference/` beside this repository.
  *
  * A `def`, resolved at each use: a missing checkout fails only the
  * queries and tests that read the fixtures, each with this one cause,
  * and never the initialisation of a query module.
  */
object Fixtures {
  def dir: String = {
    val p = Paths.get("..", "reference", "nifi-extracttext-processors",
      "src", "test", "resources").toAbsolutePath.normalize
    if (!Files.isDirectory(p))
      throw new IllegalStateException(s"reference fixtures missing: no " +
        s"nifi-extracttext-processors checkout at $p")
    p.toString
  }
}
