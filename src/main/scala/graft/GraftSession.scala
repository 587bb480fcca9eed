package graft

import org.apache.spark.sql.SparkSession

/** The one place the shipped session config lives. Every entry point
  * (Bench, Verify, Explain, the demos, the test-side tools) and the
  * test suites build their session here, so what is tested is what
  * ships:
  *  - [[graft.plans.GraftExtensions]] (the engine's optimizer rules);
  *  - `local[cores]` with shuffle partitions = cores;
  *  - UTC session zone: event-time normalization and every date the
  *    oracles compare are instant-preserving only under UTC;
  *  - ANSI off: the reference's semantics are coerce-to-null (pandas
  *    `errors='coerce'`), which Spark 4's ANSI default would throw on;
  *  - `nanosAsLong`: events.parquet may store TIMESTAMP(NANOS), which
  *    `Tables.normalizeEventTs` reads back from the int64 form;
  *  - CBO and join reorder on: inert for path reads (no catalog
  *    stats), and what the catalog-stats path of
  *    [[graft.ops.Statistics]] plans with;
  *  - UI off, log level WARN.
  *
  * Idempotent: the first call builds the session and later calls
  * return it (their arguments are not re-applied) until it is stopped.
  * `cores` and `warehouseDir` are deployment settings, not semantics. */
object GraftSession {

  private var current: Option[SparkSession] = None

  /** `cores` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def apply(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt),
            warehouseDir: Option[String] = None): SparkSession = synchronized {
    current.filterNot(_.sparkContext.isStopped).getOrElse {
      val builder = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.ui.enabled", "false")
      warehouseDir.foreach(builder.config("spark.sql.warehouse.dir", _))
      val s = builder.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      current = Some(s)
      s
    }
  }
}
