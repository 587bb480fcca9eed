package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.flights.{FlightPipeline, StarWarehouse, Validation}
import graft.queries.Kpi
import graft.streaming.{StreamingIngest, StreamingStarBuild}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One run of one workload: set up, measure closed-loop passes (a fixed
  * number of flight rounds, or catalog passes for the given number of
  * seconds), check every output, print the result.
  *
  *   perfbench.Main PLAN_FILE WORK_DIR SEED SECONDS TRACE
  *
  * PLAN_FILE holds `key=value` lines (the workload's frozen parameters)
  * and, for the catalog workload, one
  * `query=name<TAB>group<TAB>rows<TAB>digest<TAB>unstable` line per query.
  * A single client thread runs one operation at a time.
  * With TRACE=1 the passes alternate between untraced and traced, and the
  * traced ones report per-layer metrics. */
object Main {
  val Cores = 4

  final case class Query(name: String, group: String, rows: Long, hash: String, unstable: Boolean)

  /** One operation: one path's flight round, or a catalog query with
    * its group. */
  final case class Op(seconds: Double, ok: Boolean, group: String = "")

  /** Flight rounds grow the workload's state, so the window is a fixed
    * number of rounds: every commit times the same rounds. */
  val FlightRounds = 2
  /** Catalog passes repeat the same work, so the window runs whole passes
    * until the given seconds have passed, and at least this many. */
  val CatalogMinPasses = 3
  /** ANALYZE, the repeatable part of the catalog set-up, runs this many
    * times and its median counts. */
  val AnalyzeReps = 2
  /** The catalog group whose operations op_p50_s is taken over: the
    * driver-bound queries. Over both groups the median would land on one
    * lean query. */
  val P50Group = "catalog_multijob"

  final case class Pass(wallS: Double, cpuS: Double, ops: Seq[Op], traced: Boolean,
                        oldGenMb: Double, stats: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val Array(planFile, workDir, seedS, secondsS, traceS) = args
    val plan = Files.readAllLines(Paths.get(planFile), UTF_8).asScala
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
    val conf = plan.filter(_._1 != "query").toMap
    val queries = plan.filter(_._1 == "query").map { case (_, v) =>
      val Array(n, g, rows, h, u) = v.split("\t")
      Query(n, g, rows.toLong, h, u == "1")
    }.toIndexedSeq
    val seed = seedS.toLong
    val bench = new Bench(conf, queries, new File(workDir).getAbsoluteFile, seed,
      secondsS.toDouble, traceS == "1")
    val out = try bench.run() finally bench.stop()
    println(out)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest whole percentile with at least ten samples above it, its
    * value (nearest rank) and the sample count; the maximum when there
    * are too few samples for any. */
  def tail(xs: Seq[Double]): (Int, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (100, s.last, n)
    else {
      val p = (100 * (n - 10)) / n
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      (p, s(rank - 1), n)
    }
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case other => json(other.toString)
  }
}

final class Bench(conf: Map[String, String], queries: IndexedSeq[Main.Query], work: File,
                  seed: Long, seconds: Double, trace: Boolean) {
  import Main._

  private val kind = conf("kind")
  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private val failures = mutable.ArrayBuffer[String]()
  private val gates = mutable.ArrayBuffer[Map[String, Any]]()
  private var checkFailures = 0

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$Cores]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def start(): Unit = {
    spark = session()
    tracer = new Tracer(spark)
  }

  private def fail(what: String, e: Throwable): Unit = {
    val msg = s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    System.err.println(s"[perfbench] FAILED $msg")
    if (failures.size < 20) failures += msg
  }

  private def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Old-generation occupancy right after a full collection. */
  private def oldGenAfterGcMb(): Double = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val bytes =
      if (pools.nonEmpty)
        pools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
      else Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory
    bytes / 1048576.0
  }

  // ---- workload plumbing ----------------------------------------------

  private lazy val flightParams = FlightParams(
    conf("rows_per_round").toInt, conf("date_spread_days").toInt,
    conf("invalid_share").toDouble, conf("redelivered_share").toDouble)

  private def freshDir(name: String): File = {
    val d = new File(work, name)
    deleteTree(d)
    d.mkdirs()
    d
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(treeBytes).sum
    else if (f.isFile) f.length() else 0L

  private def dataFiles(f: File): Set[(String, Long)] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSet.flatMap(dataFiles)
    else if (f.getName.endsWith(".parquet")) Set(f.getPath -> f.lastModified())
    else Set.empty

  /** One pass: the workload's unit of work (the catalog list once, or one
    * flight round), with its CPU time and the old generation after it. */
  private def pass(traced: Boolean): Pass = {
    if (traced) tracer.attach() else tracer.detach()
    tracer.clear()
    val stats = mutable.Map[String, Double]().withDefaultValue(0.0)
    val cpu0 = cpuSeconds()
    val t0 = System.nanoTime()
    val ops = if (kind == "catalog") catalogPass() else flightRound(stats)
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds() - cpu0
    tracer.detach()
    if (traced) layerStats(stats)
    Pass(wall, cpu, ops, traced, oldGenAfterGcMb(), stats.toMap)
  }

  // ---- flight workloads -------------------------------------------------

  private def kpis(wh: StarWarehouse): (Array[Row], Array[Row]) = {
    val k1 = Kpi.avgFareByAirline(wh).collect()
    val k2 = Kpi.bookingsByAirline(wh).collect()
    Kpi.seasonalFares(wh).collect()
    Kpi.topRoutes(wh).collect()
    Kpi.fareTrend(wh).collect()
    (k1, k2)
  }

  /** The round's output checks: staging and fact row counts, K-2 counts
    * and K-1 exact averages against the generator's expectations. */
  private def check(what: String, c: Validation.Counts, k1: Array[Row], k2: Array[Row],
                    exp: FlightExpected): Boolean = {
    val bookings = k2.map(r => r.getString(0) -> r.getLong(1)).toMap
    val avgOk = k1.forall { r =>
      val a = r.getString(0)
      val n = exp.bookings.getOrElse(a, 0L)
      n > 0 && r.getLong(3) == n &&
        math.abs(r.getDouble(1) - exp.totalFareCents(a) / 100.0 / n) < 0.005 &&
        math.abs(r.getDouble(2) - exp.baseFareCents(a) / 100.0 / n) < 0.005
    } && k1.length == exp.bookings.size
    val ok = c.staging == exp.distinctRows && c.fact == exp.distinctValidRows &&
      bookings == exp.bookings && avgOk
    if (!ok) {
      checkFailures += 1
      System.err.println(s"[perfbench] check failed in $what: staging=${c.staging} " +
        s"(expected ${exp.distinctRows}) fact=${c.fact} (expected ${exp.distinctValidRows}) " +
        s"k2=$bookings expected=${exp.bookings} k1ok=$avgOk")
    }
    ok
  }

  /** The flight workload's state: one root with the batch DAG's growing
    * CSV and warehouse, and the streaming path's input directory,
    * staging, warehouse and checkpoints. Both paths read the same
    * seeded rows; the streaming files also re-deliver earlier rows. */
  private final class Flights {
    val root: File = freshDir("flight")
    val batchIn = new File(root, "batch/input")
    val streamIn = new File(root, "stream/input")
    batchIn.mkdirs()
    streamIn.mkdirs()
    val csv = new File(batchIn, "flights.csv")
    Files.write(csv.toPath, (FlightGen.Header + "\n").getBytes(UTF_8))
    val batchGen = new FlightGen(seed, flightParams.copy(redeliveredShare = 0.0))
    val streamGen = new FlightGen(seed, flightParams)
    val pipeline = new FlightPipeline(spark, s"$root/batch", retries = 0)
    val streamRoot = s"$root/stream"
    val streamWh = new StarWarehouse(spark, s"$streamRoot/analytics")
    var round = 0
    var staged = 0L
  }

  private var flights: Flights = _

  /** One round: the next seeded chunk through the batch DAG, then through
    * the streaming path; two operations. */
  private def flightRound(stats: mutable.Map[String, Double]): Seq[Op] = {
    val f = flights
    f.round += 1
    val r = f.round
    Seq(batchRound(f, r, stats), streamRound(f, r, stats))
  }

  private def timedOp(what: String, group: String = "")(body: => Boolean): Op = {
    val t0 = System.nanoTime()
    val ok = try body catch { case e: Throwable => fail(what, e); false }
    Op((System.nanoTime() - t0) / 1e9, ok, group)
  }

  private def batchRound(f: Flights, r: Int, stats: mutable.Map[String, Double]): Op = {
    val (lines, exp) = f.batchGen.nextChunk()
    Files.write(f.csv.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8),
      StandardOpenOption.APPEND)
    stats("rows") += lines.size
    timedOp(s"batch round $r") {
      val p = f.pipeline
      val c =
        if (!tracer.enabled) p.run(f.csv.getPath)
        else {
          // The stage entry points FlightPipeline.run calls, one span each.
          val ing = tracer.span("flights.ingest")(p.ingestStage.ingest(f.csv.getPath))
          stats("ingest_scanned") += ing.rowsScanned
          stats("ingest_loaded") += ing.rowsLoaded
          val before = dataFiles(new File(s"${f.root}/batch/analytics"))
          tracer.span("flights.transform")(p.warehouse.transform(p.ingestStage.staging))
          stats("transform_files_written") +=
            (dataFiles(new File(s"${f.root}/batch/analytics")) -- before).size
          tracer.span("flights.validate") {
            val c = tracer.span("Validation.counts")(Validation.counts(
              spark, f.csv.getPath, p.ingestStage.stagingPath, p.warehouse.factPath))
            tracer.span("Validation.validate")(Validation.validate(c))
            c
          }
        }
      recordGates("batch", r, c, c.source)
      val (k1, k2) = tracer.span("queries.Kpi")(kpis(p.warehouse))
      if (tracer.enabled)
        stats("kpi_fact_files") += dataFiles(new File(p.warehouse.factPath)).size
      check(s"batch round $r", c, k1, k2, exp)
    }
  }

  private def streamRound(f: Flights, r: Int, stats: mutable.Map[String, Double]): Op = {
    val (lines, exp) = f.streamGen.nextChunk()
    val tmp = new File(f.root, s"round-$r.tmp")
    Files.write(tmp.toPath, lines.mkString(FlightGen.Header + "\n", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp.toPath, new File(f.streamIn, s"round-$r.csv").toPath,
      StandardCopyOption.ATOMIC_MOVE)
    stats("rows") += lines.size
    val wh = f.streamWh
    timedOp(s"stream round $r") {
      val ingest = tracer.span("streaming.StreamingIngest") {
        val q = StreamingIngest.start(spark, f.streamIn.getPath, s"${f.streamRoot}/staging",
          s"${f.streamRoot}/checkpoints/ingest")
        q.awaitTermination()
        q
      }
      val before = dataFiles(new File(wh.factPath))
      tracer.span("streaming.StreamingStarBuild") {
        StreamingStarBuild.start(spark, s"${f.streamRoot}/staging", s"${f.streamRoot}/analytics",
          s"${f.streamRoot}/checkpoints/star").awaitTermination()
      }
      val c = tracer.span("flights.validate") {
        val raw = tracer.span("Validation.counts")(
          Validation.counts(spark, f.streamIn.getPath, s"${f.streamRoot}/staging", wh.factPath))
        // Re-delivered rows are dropped by design, so the gates compare
        // against the distinct rows delivered.
        val dedup = raw.copy(source = exp.distinctRows)
        recordGates("stream", r, dedup, raw.source)
        tracer.span("Validation.validate")(Validation.validate(dedup))
        dedup
      }
      if (tracer.enabled) {
        val inRows = ingest.recentProgress.map(_.numInputRows).sum.toDouble
        stats("ingest_input_rows") += inRows
        stats("ingest_dropped_rows") += inRows - (c.staging - f.staged)
        stats("ingest_state_rows") += ingest.recentProgress.lastOption
          .flatMap(_.stateOperators.headOption).map(_.numRowsTotal.toDouble).getOrElse(0.0)
        stats("star_files_written") += (dataFiles(new File(wh.factPath)) -- before).size
      }
      f.staged = c.staging
      val (k1, k2) = tracer.span("queries.Kpi")(kpis(wh))
      if (tracer.enabled) stats("kpi_fact_files") += dataFiles(new File(wh.factPath)).size
      check(s"stream round $r", c, k1, k2, exp)
    }
  }

  private def recordGates(path: String, round: Int, c: Validation.Counts, delivered: Long): Unit =
    gates += Map("path" -> path, "round" -> round, "delivered_rows" -> delivered,
        "source" -> c.source, "staging" -> c.staging, "fact" -> c.fact,
        "gate_exact_staging" -> (c.source == c.staging),
        "gate_fact_loss_1pct" -> (c.source - c.fact <= c.source * 0.01))

  // ---- catalog workloads ------------------------------------------------

  private lazy val catalogDir = conf("catalog_dir")
  private lazy val registry = graft.SparkEntry.queries
  private lazy val order = new scala.util.Random(seed).shuffle(queries)

  /** One pass over the query list, each query as graft.Bench.once runs it. */
  private def catalogPass(): Seq[Op] =
    order.map { q =>
      timedOp(q.name, q.group) {
        try tracer.span(q.name) {
          val df = tracer.span("construct")(registry(q.name)(spark, catalogDir))
          tracer.span("action")(df.write.format("noop").mode("overwrite").save())
          true
        } finally graft.ops.Dedup.releaseSketchCaches()
      }
    }

  /** Order-insensitive digest of a result: row count and wrapping sums
    * of two row hashes. Map-typed columns are hashed through their JSON
    * form, since Spark does not hash maps. */
  def digest(df: DataFrame): (Long, String) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val r =
      if (cols.isEmpty) named.agg(count(lit(1)), lit(0L), lit(0L)).head()
      else named.select(xxhash64(cols: _*).as("h1"), hash(cols: _*).cast("long").as("h2"))
        .agg(count(lit(1)), coalesce(sum("h1"), lit(0L)), coalesce(sum("h2"), lit(0L))).head()
    (r.getLong(0), f"${r.getLong(0)}%d:${r.getLong(1)}%016x:${r.getLong(2)}%016x")
  }

  /** The catalog output check: every query's digest against the frozen
    * one (row count only for queries recorded as unstable). */
  private def checkCatalog(): Unit = queries.foreach { q =>
    try {
      val (rows, h) = digest(registry(q.name)(spark, catalogDir))
      val ok = if (q.unstable) rows == q.rows else h == q.hash
      if (!ok) {
        checkFailures += 1
        System.err.println(s"[perfbench] output check failed for ${q.name}: $h, frozen ${q.hash}")
      }
    } catch { case e: Throwable => checkFailures += 1; fail(s"check ${q.name}", e) }
    finally graft.ops.Dedup.releaseSketchCaches()
  }

  // ---- set-up, window, report -----------------------------------------

  private def timeS(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  /** Session start, the inputs, then the warm-up: the catalog output
    * check, which runs every query once, or the first flight round. The
    * catalog inputs are ANALYZE of its tables, run AnalyzeReps times (the
    * median counts); the flight inputs are a fresh root with new
    * generators, made once, since making them again measures nothing. */
  private def setup(): (Double, Seq[Double]) = {
    val session = timeS(start())
    val reps =
      if (kind == "catalog") (1 to AnalyzeReps).map(_ => timeS {
        // registerForQueries, restricted to the tables the queries read
        graft.ops.Statistics.analyzeTables(spark, catalogDir,
          conf("analyze_tables").split(",").toSeq)
        spark.conf.set(graft.Tables.catalogDirKey, catalogDir)
      })
      else Seq(timeS { flights = new Flights })
    val warm = timeS { if (kind == "catalog") checkCatalog() else pass(traced = false) }
    System.err.println(f"[perfbench] setup: session $session%.2f s, " +
      f"inputs ${reps.mkString(" ")} s, warm-up $warm%.2f s")
    (session + median(reps) + warm, reps)
  }

  def run(): String = {
    if (kind == "probe") return new Probe(this).run(conf, work)
    val (setupS, reps) = setup()
    // A traced run alternates untraced and traced passes, starting
    // untraced, and runs one pass more.
    val minPasses = (if (kind == "flight") FlightRounds else CatalogMinPasses) +
      (if (trace) 1 else 0)
    val passes = mutable.ArrayBuffer[Pass]()
    val w0 = System.nanoTime()
    while (passes.size < minPasses ||
      (kind == "catalog" && (System.nanoTime() - w0) / 1e9 < seconds))
      passes += pass(traced = trace && passes.size % 2 == 1)
    val stored =
      if (flights == null) 0.0
      else {
        val in = treeBytes(flights.batchIn) + treeBytes(flights.streamIn)
        (treeBytes(flights.root) - in).toDouble / in
      }
    report(setupS, reps, stored, passes.toSeq)
  }

  private def report(setupS: Double, reps: Seq[Double], stored: Double,
                     passes: Seq[Pass]): String = {
    val plain = passes.filterNot(_.traced)
    val ops = passes.flatMap(_.ops)
    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val times = plain.flatMap(_.ops.map(_.seconds))
    val wall = median(plain.map(_.wallS))
    val (tailP, tailV, tailN) = tail(times)
    val perPass = plain.head.ops.size
    val isFlight = kind == "flight"
    val groupP50 = plain.flatMap(_.ops).groupBy(_.group).map { case (g, os) =>
      (if (g.isEmpty) "all" else g) -> median(os.map(_.seconds))
    }
    val p50 = if (isFlight) median(times) else groupP50(P50Group)
    val rowsPerPass = plain.head.stats.getOrElse("rows", 0.0)
    val throughput = if (isFlight) rowsPerPass / wall else perPass / wall
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wall, "s"),
      ("op_p50_s", p50, "s"),
      ("throughput_per_s", throughput, "1/s"),
      ("cpu_s", median(plain.map(_.cpuS)), "s"),
      ("peak_mem_mb", passes.map(_.oldGenMb).max, "MB"))
    val tracedPasses = passes.filter(_.traced)
    val layers =
      if (!trace) Seq.empty
      else {
        Layers.keys.map(k =>
          (k, median(tracedPasses.map(_.stats.getOrElse(k, 0.0))), Layers.unit(k))) ++
          Seq(("flights.stored_bytes_per_input_byte", stored, "ratio"),
            ("trace.overhead_s", median(tracedPasses.map(_.wallS)) - wall, "s"))
      }
    val details = Map(
      "workload" -> conf("workload"), "seed" -> seed, "passes" -> passes.size,
      "ops_per_pass" -> perPass, "setup_input_runs_s" -> reps,
      "op_p50_s_by_group" -> groupP50,
      "op_tail_s" -> tailV, "op_tail_percentile" -> tailP, "op_samples" -> tailN,
      "rows_per_s" -> (if (isFlight) throughput else 0.0),
      "queries_per_s" -> (if (isFlight) 0.0 else throughput),
      "failed_frac" -> failed.toDouble / attempted,
      "stored_bytes_per_input_byte" -> stored,
      "check_failures" -> checkFailures, "gates" -> gates.toSeq, "failures" -> failures.toSeq,
      "pass_wall_s" -> passes.map(_.wallS))
    println("DETAILS " + json(details))
    val metrics = (if (trace) layers else e2e).map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u)
    }.toMap
    json(Map("correct" -> (checkFailures == 0 && failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics))
  }

  // ---- per-layer metrics of a traced pass ------------------------------

  private def layerStats(stats: mutable.Map[String, Double]): Unit = {
    def sum(spans: Seq[Span])(f: Span => Double): Double = spans.map(f).sum
    val mb = 1048576.0
    val ops =
      if (kind == "catalog") queries.flatMap(q => tracer.find(q.name))
      else tracer.roots.toSeq
    val all = new Counters
    ops.foreach(s => all += s.total)
    val opSeconds = sum(ops)(_.seconds)
    stats("exec.jobs") = all.jobs
    stats("exec.tasks") = all.tasks
    stats("exec.task_s") = all.taskMs / 1000.0
    stats("exec.core_util") = if (opSeconds > 0) all.taskMs / 1000.0 / (opSeconds * Cores) else 0
    stats("exec.scan_mb") = all.scanBytes / mb
    stats("exec.shuffle_mb") = all.shuffleBytes / mb
    stats("exec.spill_mb") = all.spillBytes / mb
    stats("exec.result_mb") = all.resultBytes / mb
    val construct = tracer.find("construct")
    val action = tracer.find("action")
    stats("driver.construct_s") = sum(construct)(_.seconds)
    stats("driver.construct_jobs") = sum(construct)(_.total.jobs.toDouble)
    stats("exec.action_s") = sum(action)(_.seconds)
    stats("catalyst.plan_s") =
      (if (kind == "catalog") sum(action)(_.total.planMs.toDouble)
       else sum(ops)(_.total.planMs.toDouble)) / 1000.0
    if (kind == "catalog") {
      def owner(name: String, names: String => Boolean): Unit = {
        val spans = queries.filter(q => names(q.name)).flatMap(q => tracer.find(q.name))
        stats(s"$name.busy_s") = sum(spans)(_.seconds)
        stats(s"$name.jobs") = sum(spans)(_.total.jobs.toDouble)
      }
      Modules.owners.foreach { case (module, names) => owner(module, names) }
      queries.map(_.group).distinct.foreach(g =>
        owner(g, n => queries.exists(q => q.name == n && q.group == g)))
    }
    else {
      def layer(name: String, prefix: String): Seq[Span] = {
        val spans = tracer.find(name)
        stats(s"$prefix.busy_s") = sum(spans)(_.seconds)
        stats(s"$prefix.jobs") = sum(spans)(_.total.jobs.toDouble)
        stats(s"$prefix.tasks") = sum(spans)(_.total.tasks.toDouble)
        stats(s"$prefix.mb_written") = sum(spans)(_.total.writtenBytes / mb)
        spans
      }
      layer("flights.ingest", "flights.ingest")
      layer("flights.transform", "flights.transform")
      layer("flights.validate", "flights.validate")
      layer("queries.Kpi", "queries.Kpi")
      layer("streaming.StreamingIngest", "streaming.StreamingIngest")
      layer("streaming.StreamingStarBuild", "streaming.StreamingStarBuild")
      stats("flights.ingest.rows_loaded_ratio") =
        if (stats("ingest_scanned") > 0) stats("ingest_loaded") / stats("ingest_scanned") else 0
      stats("flights.transform.files_written") = stats("transform_files_written")
      stats("queries.Kpi.fact_files") = stats("kpi_fact_files")
      stats("streaming.StreamingIngest.state_rows") = stats("ingest_state_rows")
      stats("streaming.StreamingIngest.rows_dropped_ratio") =
        if (stats("ingest_input_rows") > 0)
          stats("ingest_dropped_rows") / stats("ingest_input_rows")
        else 0
      stats("streaming.StreamingStarBuild.files_written") = stats("star_files_written")
    }
  }

  // ---- used by the probe ---------------------------------------------

  private[perfbench] def probeSession(): (SparkSession, Tracer) = {
    start(); tracer.attach(); (spark, tracer)
  }
}

/** Every per-layer metric a traced run reports; a layer a workload does
  * not use reads 0. */
object Layers {
  val Groups: Seq[String] = Seq("catalog_multijob", "catalog_lean")

  val keys: Seq[String] = Seq(
    "driver.construct_s", "driver.construct_jobs", "catalyst.plan_s",
    "exec.action_s", "exec.jobs", "exec.tasks", "exec.task_s", "exec.core_util",
    "exec.scan_mb", "exec.shuffle_mb", "exec.spill_mb", "exec.result_mb") ++
    (Groups ++ Modules.owners.map(_._1)).flatMap(m => Seq(s"$m.busy_s", s"$m.jobs")) ++ Seq(
    "flights.ingest.busy_s", "flights.ingest.jobs", "flights.ingest.tasks",
    "flights.ingest.rows_loaded_ratio",
    "flights.transform.busy_s", "flights.transform.jobs", "flights.transform.tasks",
    "flights.transform.files_written", "flights.transform.mb_written",
    "flights.validate.busy_s", "flights.validate.tasks",
    "queries.Kpi.busy_s", "queries.Kpi.tasks", "queries.Kpi.fact_files",
    "streaming.StreamingIngest.busy_s", "streaming.StreamingIngest.state_rows",
    "streaming.StreamingIngest.rows_dropped_ratio",
    "streaming.StreamingStarBuild.busy_s", "streaming.StreamingStarBuild.jobs",
    "streaming.StreamingStarBuild.files_written")

  def unit(key: String): String =
    if (key.endsWith("_s")) "s"
    else if (key.endsWith("_mb") || key.endsWith("mb_written")) "MB"
    else if (Seq("ratio", "util", "per_input_byte").exists(key.endsWith)) "ratio"
    else "count"
}

/** Which engine module registers each catalog query. */
object Modules {
  val owners: Seq[(String, Set[String])] = Seq(
    "queries.Core" -> graft.queries.Core.queries.keySet,
    "queries.Stats" -> graft.queries.Stats.queries.keySet,
    "queries.Cohorts" -> graft.queries.Cohorts.queries.keySet,
    "queries.Drift" -> graft.queries.Drift.queries.keySet,
    "ops.TextAnalysis" -> graft.ops.TextAnalysis.queries.keySet,
    "ops.EventTime" -> graft.ops.EventTime.queries.keySet,
    "ops.Similarity" -> graft.ops.Similarity.queries.keySet,
    "ops.Dedup" -> graft.ops.Dedup.queries.keySet,
    "ops.Multimodal" -> graft.ops.Multimodal.queries.keySet,
    "ops.Curation" -> graft.ops.Curation.queries.keySet,
    "ops.Assembly" -> graft.ops.Assembly.queries.keySet,
    "ops.Bpe" -> graft.ops.Bpe.queries.keySet,
    "ops.Boilerplate" -> graft.ops.Boilerplate.queries.keySet,
    "ops.Layout" -> graft.ops.Layout.queries.keySet,
    "ops.BloomJoin" -> graft.ops.BloomJoin.queries.keySet,
    "ops.Scd" -> graft.ops.Scd.queries.keySet,
    "ops.Expectations" -> graft.ops.Expectations.queries.keySet,
    "ops.Graphs" -> graft.ops.Graphs.queries.keySet,
    "ops.RangeJoin" -> graft.ops.RangeJoin.queries.keySet,
    "ops.PartitionedFacts" -> graft.ops.PartitionedFacts.queries.keySet,
    "ops.Bucketing" -> graft.ops.Bucketing.queries.keySet,
    "ops.Cdc" -> graft.ops.Cdc.queries.keySet,
    "ops.Privacy" -> graft.ops.Privacy.queries.keySet,
    "ops.MatView" -> graft.ops.MatView.queries.keySet,
    "ops.PostingsIndex" -> graft.ops.PostingsIndex.queries.keySet)

  def of(query: String): String = owners.find(_._2(query)).map(_._1).getOrElse("other")
}

/** Measures every catalog query outside `SparkEntry.constQueries` once
  * cold and once warm, with job counts and the construction share, plus
  * its result digest. The catalog query lists are selected from this
  * table (see choose_queries.py). */
final class Probe(bench: Bench) {
  def run(conf: Map[String, String], work: File): String = {
    val dir = conf("catalog_dir")
    val (spark, tracer) = bench.probeSession()
    graft.ops.Statistics.registerForQueries(spark, dir)
    val names = graft.SparkEntry.queries.keys.toSeq
      .filterNot(graft.SparkEntry.constQueries).sorted
    // The catalog tables each query reads, from the analyzed plans of every
    // query execution it runs (construction included).
    val read = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        qe.analyzed.foreach {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            r.catalogTable.foreach(t => read.add(t.identifier.table.stripPrefix("stats_")))
            r.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.foreach(p => read.add(p.getName.stripSuffix(".parquet")))
              case _ =>
            }
          case _ =>
        }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
    val lines = names.map { name =>
      val fn = graft.SparkEntry.queries(name)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      read.clear()
      def once(): (Double, Double, Long, Long) = {
        tracer.clear()
        try {
          val (_, op) = tracer.timed(name) {
            val df = tracer.span("construct")(fn(spark, dir))
            tracer.span("action")(df.write.format("noop").mode("overwrite").save())
          }
          val c = tracer.find("construct").head
          (op.seconds, c.seconds, op.total.jobs, c.total.jobs)
        } catch { case e: Throwable =>
          System.err.println(s"[probe] $name failed: $e"); (-1.0, -1.0, -1L, -1L)
        } finally graft.ops.Dedup.releaseSketchCaches()
      }
      val cold = once()
      val warm = once()
      val (rows, h) =
        try bench.digest(fn(spark, dir))
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name digest failed: $e"); (-1L, "failed")
        }
        finally graft.ops.Dedup.releaseSketchCaches()
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val tables = read.asScala.toSeq.filter(graft.ops.Statistics.testdataTables.contains).sorted
      System.err.println(s"[probe] $name cold=${cold._1} warm=${warm._1} jobs=${warm._3}")
      Seq(name, Modules.of(name), cold._1, warm._1, warm._2, warm._3, warm._4, rows, h,
        tables.mkString(",")).mkString("\t")
    }
    Files.write(new File(conf("probe_out")).toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Main.json(Map("correct" -> true, "attempted" -> lines.size, "failed" -> 0, "metrics" -> Map()))
  }
}
