package graft

/** Plan-inspection main: prints the formatted physical plan of the named
  * queries (default: the scan/join-heavy headliners) — the plan-audit
  * loop the build brief mandates (check pushdown, broadcast choices,
  * WholeStageCodegen spans). Usage:
  * `runMain graft.Explain [sfDir] [queryName...]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.tail.toSeq
      else Seq("q1_pricing_summary", "q2_selective_filter", "q5_nation_revenue", "q3_revenue_by_segment")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
