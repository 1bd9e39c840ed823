package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** LuhnRedact semantics: checksum gate, run-length bounds, multiple
  * runs per text, and interpreted/codegen lockstep.
  */
class LuhnRedactSpec extends AnyFunSuite with SparkSuite {
  private def redact(s: String): String =
    LuhnRedact.redact(org.apache.spark.unsafe.types.UTF8String.fromString(s))
      .toString

  test("valid cards redact; checksum near-misses survive") {
    assert(redact("pay 4111111111111111 now") == "pay [CARD] now")
    assert(redact("pay 4111111111111112 now") == "pay 4111111111111112 now")
    assert(redact("x 5555555555554444 y 6011000990139424 z")
      == "x [CARD] y [CARD] z")
  }

  test("length bounds: 12-digit and 20-digit runs never redact") {
    assert(redact("n 123456789012 m") == "n 123456789012 m") // 12 < MinLen
    // a 20-digit run stays even if a 16-digit prefix would validate
    val twenty = "41111111111111110000"
    assert(redact(s"n $twenty m") == s"n $twenty m")
    assert(redact("") == "")
    assert(redact("no digits at all") == "no digits at all")
  }

  test("column form matches the scala form on a generated batch") {
    import spark.implicits._
    val rows = (0 until 64).map { i =>
      s"t$i pay ${if (i % 2 == 0) "4012888888881881" else "4012888888881882"} end"
    }
    val got = rows.toDF("t")
      .select(LuhnRedact.luhn_redact(col("t")).as("r"))
      .collect().map(_.getString(0))
    assert(got.sameElements(rows.map(redact)))
    assert(got.count(_.contains("[CARD]")) == 32)
  }

  test("sql registration works via luhn_redact(text)") {
    LuhnRedact.register(spark)
    val r = spark.sql("SELECT luhn_redact('c 4111111111111111 d') AS r")
      .collect()(0).getString(0)
    assert(r == "c [CARD] d")
  }
}
