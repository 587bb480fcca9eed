package graft.tools

/** Empty-input sweep: run every registered query against ZERO-ROW
  * copies of the testdata tables and report anything that throws.
  * The contract being probed: on an empty corpus every query returns
  * an empty (or well-defined constant) result — no NPE from a
  * driver-side head(), no division-by-zero surprise, no crash in a
  * collect-based prefix pass. At 100 TB "empty" really means "this
  * partition filter matched nothing today", so an engine that panics
  * on zero rows is an engine that pages someone at 3 a.m.
  *
  * Run: sbt "Test/runMain graft.tools.EmptySweep"
  * Prints one line per failure (name + exception class + message
  * head) and a final tally; exit code 1 if any query failed.
  */
object EmptySweep {
  def main(args: Array[String]): Unit = {
    val srcSf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val emptyDir = if (args.length > 1) args(1) else "/tmp/graft_empty_sf"
    val spark = graft.GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"$srcSf/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$emptyDir/$t.parquet")
    }
    val failures = scala.collection.mutable.ArrayBuffer[(String, Throwable)]()
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      try {
        val n = graft.SparkEntry.queries(name)(spark, emptyDir).count()
        println(f"ok    $name%-42s rows=$n")
      } catch {
        case e: Throwable =>
          failures += name -> e
          println(s"FAIL  $name  ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
      }
    }
    println(s"== ${names.size - failures.size} ok, ${failures.size} failed ==")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
