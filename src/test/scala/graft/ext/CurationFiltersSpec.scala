package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Branch-coverage contracts for the Gopher / C4 rule-set filters: each
  * planted fixture page must trip EXACTLY the rule it was built for (the
  * oracle pins the full output hash; this pins the intent per branch).
  */
class CurationFiltersSpec extends AnyFunSuite with SparkSuite {
  private def gopherRows = {
    import spark.implicits._
    val df = CurationFilters.gopherPlanted.toDF("doc_id", "text")
    CurationFilters.gopherFrame(df, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
  }

  test("gopher planted page -1 passes every rule") {
    val r = gopherRows(-1L)
    assert(r.getAs[Boolean]("keep"))
    assert(r.getAs[Int]("n_words") >= 50)
    assert(r.getAs[Int]("stop_hits") >= 2)
  }

  test("gopher branch pages each fail, for the built-in reason") {
    val rows = gopherRows
    assert(!rows(-2L).getAs[Boolean]("keep") && rows(-2L).getAs[Int]("n_words") < 50)
    assert(!rows(-3L).getAs[Boolean]("keep") && rows(-3L).getAs[Double]("mean_wlen") > 10)
    assert(!rows(-4L).getAs[Boolean]("keep") && rows(-4L).getAs[Double]("symbol_ratio") > 0.1)
    assert(!rows(-5L).getAs[Boolean]("keep") && rows(-5L).getAs[Double]("frac_bullet") >= 0.9)
    assert(!rows(-6L).getAs[Boolean]("keep") && rows(-6L).getAs[Double]("frac_ellipsis") >= 0.3)
    assert(!rows(-7L).getAs[Boolean]("keep") && rows(-7L).getAs[Double]("frac_alpha") < 0.8)
    assert(!rows(-8L).getAs[Boolean]("keep") && rows(-8L).getAs[Int]("stop_hits") < 2)
  }

  test("gopher branch pages fail ONLY their own rule (word-count aside)") {
    val rows = gopherRows
    // -5 bullet page: every non-bullet measure is inside its window
    val b = rows(-5L)
    assert(b.getAs[Int]("n_words") >= 50 && b.getAs[Double]("frac_alpha") >= 0.8 &&
      b.getAs[Double]("symbol_ratio") <= 0.1 && b.getAs[Int]("stop_hits") >= 2)
    // -7 alpha page: word count passes so alpha is the only trip
    val a = rows(-7L)
    assert(a.getAs[Int]("n_words") >= 50 && a.getAs[Int]("stop_hits") >= 2 &&
      a.getAs[Double]("mean_wlen") <= 10)
  }

  test("c4 planted verdicts: keep, lorem, brace, short-lines, two-lines, quotes") {
    import spark.implicits._
    val df = CurationFilters.c4Planted.toDF("doc_id", "text")
    val rows = CurationFilters.c4Frame(df, "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(-11L).getAs[Boolean]("keep") && rows(-11L).getAs[Int]("n_kept") == 3)
    assert(!rows(-12L).getAs[Boolean]("keep") && rows(-12L).getAs[Boolean]("has_lorem"))
    assert(!rows(-13L).getAs[Boolean]("keep") && rows(-13L).getAs[Boolean]("has_brace"))
    assert(!rows(-14L).getAs[Boolean]("keep") && rows(-14L).getAs[Int]("n_kept") == 0)
    assert(!rows(-15L).getAs[Boolean]("keep") && rows(-15L).getAs[Int]("n_kept") == 2)
    assert(rows(-16L).getAs[Boolean]("keep")) // quote-terminated lines count
  }

  test("corpus-health analytics: slopes negative, KL non-negative and small") {
    val sf = "/root/testdata/sf0.001"
    val slopes = graft.queries.CurationQueries.queries("q_zipf_slope")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2))
    assert(slopes.nonEmpty && slopes.forall(_._2 < 0.0),
      "rank-frequency slope must be negative for every source")
    // the synthetic vocabulary is near-uniform, NOT Zipfian — the
    // health metric must say so (a natural corpus sits near −1)
    assert(slopes.forall(s => s._2 > -0.6), s"flat corpus misread: ${slopes.toSeq}")
    val kl = graft.queries.CurationQueries.queries("q_source_kl")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2))
    // Gibbs: KL(p||q) ≥ 0; same-generator sources must sit near zero
    assert(kl.forall(_._2 >= 0.0))
    assert(kl.forall(_._2 < 0.1), s"same-distribution source drifted: ${kl.toSeq}")
  }

  test("the real corpus flows through both filters without planted noise") {
    val docs = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
    val g = CurationFilters.gopherFrame(docs, "text")
    assert(g.count() == docs.count())
    // single-line unpunctuated corpus: C4 retains nothing, keeps nothing
    val c = CurationFilters.c4Frame(docs, "text")
    assert(c.filter(col("keep")).count() == 0)
    // the synthetic corpus carries only "the" from the required-stop
    // list, so the faithful distinct-presence rule (≥2 of the eight)
    // rejects every real page — while the measures themselves vary
    assert(g.filter(col("keep")).count() == 0)
    assert(g.filter(col("stop_hits") > 1).count() == 0)
    assert(g.filter(col("n_words") >= 50).count() > 0)
    assert(g.filter(col("n_words") < 50).count() > 0)
  }

  test("linear classifier gate: features, weights, and the integer gate") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma"), // 3 unigrams + 2 bigrams = 5 feats
      (2L, "solo"),             // 1 token: unigrams only, NO bigram
      (3L, ""),                 // empty: zero feats, keep=false
      (4L, null.asInstanceOf[String])) // NULL text = empty
      .toDF("doc_id", "text")
    val out = LinearGate.scoreFrame(df, "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getInt(1)).toSeq == Seq(5, 1, 0, 0))
    assert(!out(2).getBoolean(3) && !out(3).getBoolean(3))
    // driver-side replay of the md5-bucket → weight → Σw/N algebra
    def bucket(g: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).take(4)
        .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
      h % LinearGate.Buckets
    }
    val feats = Seq("alpha", "beta", "gamma", "alpha_beta", "beta_gamma")
    val s = feats.map(g => LinearGate.weightOf(bucket(g))).sum
    assert(out(0).getBoolean(3) == (s > LinearGate.Threshold * 5))
    assert(out(0).getDouble(2) ==
      math.floor(s.toDouble / 5 * 1e4 + 0.5) / 1e4)
    // the corpus splits: a one-sided gate would be a vacuous filter
    val corpus = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
    val scored = LinearGate.scoreFrame(corpus, "text")
    assert(scored.filter(col("keep")).count() > 0)
    assert(scored.filter(!col("keep")).count() > 0)
  }

  test("Aho–Corasick: dictionary suffixes, overlaps, and the frame") {
    import spark.implicits._
    // the classic example: "ushers" must hit she, he (inside "she"),
    // and hers — dictionary-suffix links, not just trie walks
    val auto = KeywordTag.build(Seq("he", "she", "his", "hers"))
    assert(auto.countAll("ushers", 4).toSeq == Seq(1L, 1L, 0L, 1L))
    // self-overlapping occurrences ALL count: "aaaa" holds three "aa"
    assert(KeywordTag.build(Seq("aa")).countAll("aaaa", 1).toSeq == Seq(3L))
    // no match states
    assert(auto.countAll("zzz", 4).toSeq == Seq(0L, 0L, 0L, 0L))
    // the frame: null text is empty, counts align with patterns
    val df = Seq((1L, Some("she sells hers")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
    val out = KeywordTag.tagFrame(df, "doc_id", "text",
      Seq("he", "she", "his", "hers")).orderBy("doc_id").collect()
    assert(out(0).getLong(1) == 4L) // he=2 (in she, hers), she=1, hers=1
    assert(out(0).getInt(2) == 3)   // three distinct terms hit
    assert(out(0).getSeq[Long](3) == Seq(2L, 1L, 0L, 1L))
    assert(out(1).getLong(1) == 0L && out(1).getInt(2) == 0)
  }

  test("a Dolma re-mix reads persisted attributes — no tagger re-runs") {
    val d = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"))
    val dir = Attributes.attributesFor(docs, d)
    val mixed = Attributes.mixed(spark, dir, docs,
      col("quality_q4") >= 5000L)
    val plan = mixed.queryExecution.executedPlan.toString
    // the tag pass is all interpreted lambdas (filter/transform/
    // aggregate) — a mix that re-tagged would show them; reading the
    // artifact shows a plain parquet scan of the attrs dir instead
    assert(!plan.toLowerCase.contains("lambdafunction"),
      s"tagger lambdas in a mix plan:\n$plan")
    assert(plan.contains("graft_attrs_v1"), "mix does not read the artifact")
    // and the attributes agree with a fresh tagging of the same corpus
    val fresh = Attributes.tagFrame(docs).orderBy("doc_id").collect()
    val stored = spark.read.parquet(s"$dir/attrs").orderBy("doc_id").collect()
    assert(fresh.sameElements(stored))
  }
}
