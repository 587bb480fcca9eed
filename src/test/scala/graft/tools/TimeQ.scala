package graft.tools

import graft.SparkEntry

/** Focused per-query measurement harness for the optimization rounds:
  * times the NAMED queries under exactly Bench's session
  * ([[graft.GraftSession]], catalog stats, star warehouse warm, JIT
  * pre-pass at sf0.001) so single-query numbers line up with
  * the committed sweep, and optionally dumps `explain("formatted")`
  * for each to `$SPARK_GRAFT_PLANS_DIR/<q>_<tag>.txt` (default
  * plans/r16). Each run also counts its Janino compiles (the
  * `CodegenMetrics.METRIC_COMPILATION_TIME` count before and after),
  * printed next to the wall times: a query that mints new generated
  * classes on every call shows up there, not in its own wall time
  * alone (it evicts the other queries' classes from the cache).
  *
  * Run: sbt "Test/runMain graft.tools.TimeQ [--plans tag] <q...>"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *      SPARK_GRAFT_CPUS (default 4).
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (planTag, names0) =
      if (args.length >= 2 && args(0) == "--plans") (Some(args(1)), args.drop(2).toSeq)
      else (None, args.toSeq)
    val names = if (names0.nonEmpty) names0 else Seq("q04_revenue_by_nation")
    val spark = graft.GraftSession()
    if (!sys.env.get("SPARK_GRAFT_CATALOG").contains("off"))
      graft.ops.Statistics.registerForQueries(spark, sfDir)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    graft.queries.StarQueries.warehouse(spark)
    // JIT pre-pass over just the named queries at the small SF
    val prepassDir = {
      val sib = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sib.isDirectory) sib.getPath else "/root/testdata/sf0.001"
    }
    if (!sys.env.get("SPARK_GRAFT_PREPASS").contains("off"))
      names.foreach { n =>
        try SparkEntry.queries(n)(spark, prepassDir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[timeq] prepass $n failed: ${e.getMessage}") }
        graft.ops.Dedup.releaseSketchCaches()
      }
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    /** (wall seconds, Janino compiles) of one run of `n`. */
    def once(n: String): (Double, Long) = {
      spark.sparkContext.setJobDescription(n)
      val c0 = compiles.getCount
      val t0 = System.nanoTime()
      val el =
        try {
          SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[timeq] $n failed: ${e.getMessage}"); -1.0 }
      graft.ops.Dedup.releaseSketchCaches()
      (el, compiles.getCount - c0)
    }
    names.foreach { n =>
      val (cold, coldCompiles) = once(n)
      val warm = Seq.fill(3)(once(n))
      val runs = warm.map(_._1).sorted
      println(f"[timeq] $n%-34s cold=$cold%8.3f warm=${runs(1)}%8.3f min=${runs(0)}%8.3f max=${runs(2)}%8.3f" +
        s" compiles cold=$coldCompiles warm=${warm.map(_._2).mkString("/")}")
      planTag.foreach { tag =>
        val dir = java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r16"))
        java.nio.file.Files.createDirectories(dir)
        val txt = SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(dir.resolve(s"${n}_$tag.txt"),
          txt.getBytes("UTF-8"))
        graft.ops.Dedup.releaseSketchCaches()
      }
    }
    spark.stop()
  }
}
