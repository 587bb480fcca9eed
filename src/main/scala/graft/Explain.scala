package graft

/** Plan-inspection tool: prints the formatted physical plan for the
  * named queries (or a default set of scan/join-shaped ones). Used to
  * keep the plans honest — pushed filters, pruned schemas, broadcast
  * joins, whole-stage-codegen spans. See NOTES.md for the audit.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q02_revenue_filter", "q04_revenue_by_nation",
        "q06_top_order_per_cust", "q25_events_hourly", "q30_cosine_topk")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
