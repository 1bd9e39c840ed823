package graft
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.01"
    val qs = if (args.nonEmpty) args.toSeq
      else Seq("q_agg_pricing", "q_join_revenue_by_nation", "q_filter_topn")
    for (q <- qs) {
      println(s"========== $q ==========")
      SparkEntry.queries(q)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
