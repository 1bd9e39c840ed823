package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** The frozen-temperature-recipe re-freeze policy: drift within the
  * bound keeps the frozen thresholds untouched; drift beyond it
  * re-freezes (a NEW recipe version) with the full per-source audit —
  * including sources that appeared or vanished since the freeze.
  */
class TemperatureRefreshSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def corpus(perSource: (String, Int)*) =
    perSource.flatMap { case (s, n) =>
      (1 to n).map(i => (s"$s-$i", s))
    }.toDF("doc_id", "source")

  test("no drift: frozen recipe survives, audit shows zero drift") {
    val df = corpus("web" -> 64, "code" -> 16, "wiki" -> 4)
    val frozen = Sampling.temperatureThresholds(df, "source")
    val (use, refreshed, audit) =
      Sampling.refreshTemperatureThresholds(df, "source", frozen,
        maxDrift = 0.01)
    assert(!refreshed)
    assert(use == frozen)
    assert(audit.length == 3 && audit.forall(_.drift == 0.0))
    assert(audit.forall(a => a.frozenHex == a.currentHex))
  }

  test("drift beyond the bound re-freezes to the current distribution") {
    val before = corpus("web" -> 64, "code" -> 16, "wiki" -> 4)
    val frozen = Sampling.temperatureThresholds(before, "source")
    // the distribution flips: wiki explodes, web shrinks
    val after = corpus("web" -> 8, "code" -> 16, "wiki" -> 64)
    val (use, refreshed, audit) =
      Sampling.refreshTemperatureThresholds(after, "source", frozen,
        maxDrift = 0.05)
    assert(refreshed)
    // order is presentational (the when-chain is keyed); compare as maps
    assert(use.toMap == Sampling.temperatureThresholds(after, "source").toMap)
    assert(use.toMap != frozen.toMap)
    // both tables present per source for the recipe-version audit
    assert(audit.forall(a => a.frozenHex != null && a.currentHex != null))
    assert(audit.exists(_.drift > 0.05))
  }

  test("a NEW source counts its whole current rate as drift (frozen kept nothing)") {
    val before = corpus("web" -> 64, "code" -> 16)
    val frozen = Sampling.temperatureThresholds(before, "source")
    val after = corpus("web" -> 64, "code" -> 16, "books" -> 16)
    val (_, refreshed, audit) =
      Sampling.refreshTemperatureThresholds(after, "source", frozen,
        maxDrift = 0.5)
    val books = audit.find(_.source == "books").get
    assert(books.frozenHex == null && books.currentHex != null)
    assert(books.drift == 1.0) // 16 == new n_min → rate 1.0, from 0
    assert(refreshed)
  }

  test("a VANISHED source reports zero drift (its threshold matches no rows)") {
    val before = corpus("web" -> 64, "code" -> 16)
    val frozen = Sampling.temperatureThresholds(before, "source")
    val after = corpus("web" -> 64)
    val (_, _, audit) =
      Sampling.refreshTemperatureThresholds(after, "source", frozen,
        maxDrift = 0.9)
    val code = audit.find(_.source == "code").get
    assert(code.currentHex == null && code.drift == 0.0)
  }

  test("within-bound refresh keeps frozen even when counts moved a little") {
    val before = corpus("web" -> 64, "code" -> 16)
    val frozen = Sampling.temperatureThresholds(before, "source")
    val after = corpus("web" -> 66, "code" -> 16)
    val (use, refreshed, _) =
      Sampling.refreshTemperatureThresholds(after, "source", frozen,
        maxDrift = 0.05)
    assert(!refreshed && use == frozen)
  }
}
