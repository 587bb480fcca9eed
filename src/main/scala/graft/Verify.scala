package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Local-iteration filter: comma-separated query names. The driver
    // never sets it, so the recorded gate always runs the full catalog.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        // a misspelled name must fail loudly, not "verify" zero queries
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty,
          s"SPARK_GRAFT_ONLY names not in the catalog: ${unknown.toSeq.sorted.mkString(", ")}")
        SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      graft.ops.Dedup.releaseSketchCaches()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // With SPARK_GRAFT_ONLY set, only the selected twins are listed, so
    // tools/compare.py gates just those; a full run lists every twin.
    val json = SparkEntry.oracleSql.iterator
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
