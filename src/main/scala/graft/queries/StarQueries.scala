package graft.queries

import java.nio.file.Files

import graft.flights.{FlightIngest, StarWarehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference pipeline ITSELF under the DuckDB oracle (VERDICT r1
  * "Next round #1"): these queries run the real ingest -> star-build
  * machinery — [[FlightIngest.ingest]] on the fixture CSV, then
  * [[StarWarehouse.transform]] into a scratch warehouse — and expose
  * the results in natural-key form so the oracle can replay the whole
  * of ingestion.py + transformation.py + project_report.md:88-115 from
  * the same CSV with plain SQL:
  *
  *  - q47: the 13-column fact projection (T-1..T-13 end-to-end),
  *    surrogate keys re-mapped to natural keys so append-order ids
  *    don't leak into the hash compare
  *  - q48..q52: K-1..K-5 exactly as [[Kpi]] serves them from the
  *    warehouse (star joins against the dims, not a cleaning shortcut)
  *
  * Key-normalization contract: title-cased display strings (T-2) are
  * emitted as lower(x) — DuckDB cannot express pandas str.title(), but
  * title-casing only changes letter case, so lower(title(trim(x))) ==
  * lower(trim(x)) and the comparison loses nothing except the casing
  * itself (which CleaningSpec/TitleCase tests pin on the Scala side).
  *
  * The warehouse is built once per JVM (all six queries and repeated
  * Bench iterations reuse it); the build goes through the REAL
  * incremental-ingest path including the hash ledger, intra-batch
  * dedup, dim upserts and the fact write.
  */
object StarQueries {
  type Q = (SparkSession, String) => DataFrame

  private val lock = new Object
  @volatile private var builtRoot: String = _

  private def built(s: SparkSession): String = {
    lock.synchronized {
      if (builtRoot == null) {
        val root = Files.createTempDirectory("graft-star-oracle").toString
        val ingest = new FlightIngest(s, root)
        ingest.ingest(Flights.fixturePath)
        val wh = new StarWarehouse(s, s"$root/warehouse")
        wh.transform(ingest.staging)
        builtRoot = root
      }
    }
    builtRoot
  }

  /** Build (once) and open the fixture-backed warehouse. */
  def warehouse(s: SparkSession): StarWarehouse =
    new StarWarehouse(s, s"${built(s)}/warehouse")

  /** The ingest-produced staging table behind [[warehouse]]. */
  def staging(s: SparkSession): DataFrame =
    new FlightIngest(s, built(s)).staging

  /** Fact rows with surrogate keys resolved back to natural keys via
    * the dims (airports joined twice under role aliases, as in T-11). */
  private def factNatural(wh: StarWarehouse): DataFrame = {
    val airlines = broadcast(wh.dimAirlines)
    val src = broadcast(wh.dimAirports.select(
      col("airport_id").as("source_airport_id"),
      col("airport_code").as("source_code")))
    val dst = broadcast(wh.dimAirports.select(
      col("airport_id").as("destination_airport_id"),
      col("airport_code").as("destination_code")))
    wh.fact
      .join(airlines, Seq("airline_id"))
      .join(src, Seq("source_airport_id"))
      .join(dst, Seq("destination_airport_id"))
  }

  /** T-1..T-13: the full fact projection in natural keys. */
  private val q47: Q = (s, _) => {
    factNatural(warehouse(s)).select(
        lower(col("airline_name")).as("airline_key"),
        col("source_code"),
        col("destination_code"),
        date_format(col("departure_date_id"), "yyyy-MM-dd").as("departure_date"),
        lower(col("aircraft_type")).as("aircraft_type_key"),
        lower(col("class")).as("class_key"),
        col("stopovers"),
        lower(col("booking_source")).as("booking_source_key"),
        col("duration_hours"),
        col("days_before_departure"),
        col("base_fare"),
        col("tax_surcharge"),
        col("total_fare"))
      .orderBy(col("airline_key"), col("departure_date"), col("source_code"),
        col("destination_code"), col("total_fare"))
  }

  /** K-1 in its warehouse form. */
  private val q48: Q = (s, _) =>
    Kpi.avgFareByAirline(warehouse(s))
      .select(lower(col("airline_name")).as("airline_key"),
        col("avg_total_fare"), col("avg_base_fare"), col("n_flights"))
      .orderBy(col("airline_key"))

  /** K-2 in its warehouse form. */
  private val q49: Q = (s, _) =>
    Kpi.bookingsByAirline(warehouse(s))
      .select(lower(col("airline_name")).as("airline_key"), col("n_bookings"))
      .orderBy(col("n_bookings").desc, col("airline_key"))

  /** K-3 in its warehouse form — the query that exercises the T-8b/c
    * seasonality derivation through dim_date. */
  private val q50: Q = (s, _) =>
    Kpi.seasonalFares(warehouse(s))

  /** K-4 in its warehouse form (top-k with pinned tie-break). */
  private val q51: Q = (s, _) =>
    Kpi.topRoutes(warehouse(s), k = 10)

  /** K-5 in its warehouse form. */
  private val q52: Q = (s, _) =>
    Kpi.fareTrend(warehouse(s))
      .select(date_format(col("departure_date_id"), "yyyy-MM-dd").as("departure_date"),
        col("avg_total_fare"), col("n_flights"))
      .orderBy(col("departure_date"))

  /** V-1/V-2 count accounting as data: source file rows, deduped
    * staging rows, post-cleaning valid rows, and committed fact rows —
    * the inputs to the reference's validation gates (V-3 equality and
    * V-4 tolerance remain assertions in [[graft.flights.Validation]]). */
  private val q53: Q = (s, _) => {
    val wh = warehouse(s)
    val stg = staging(s)
    def metric(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(name).as("metric"), col("n_rows"))
    metric("source_rows", s.read.text(Flights.fixturePath))
      .withColumn("n_rows", col("n_rows") - 1) // header
      .unionByName(metric("staging_rows", stg))
      .unionByName(metric("valid_rows", graft.flights.Cleaning.clean(stg)))
      .unionByName(metric("fact_rows", wh.fact))
      .orderBy(col("metric"))
  }

  // ---- unified staging view (q85) ------------------------------------

  @volatile private var unifiedDirs: Seq[String] = _

  /** Build-once pair of staging roots with OVERLAPPING content: the
    * batch path ingests the small fixture, the streaming path drains
    * the append fixture (a superset). Exercises both writers' layouts
    * under one reader. */
  private def unifiedRoots(s: SparkSession): Seq[String] = lock.synchronized {
    if (unifiedDirs == null) {
      val broot = Files.createTempDirectory("graft-unified-batch").toString
      val csv = s"$broot/flights.csv"
      java.nio.file.Files.copy(java.nio.file.Paths.get(Flights.fixturePath),
        java.nio.file.Paths.get(csv))
      new FlightIngest(s, broot).ingest(csv)
      val sroot = Files.createTempDirectory("graft-unified-stream").toString
      val in = s"$sroot/in"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(Flights.appendFixturePath),
        java.nio.file.Paths.get(s"$in/a.csv"))
      graft.streaming.StreamingIngest
        .start(s, in, s"$sroot/staging", s"$sroot/ckpt").awaitTermination()
      unifiedDirs = Seq(s"$broot/staging", s"$sroot/staging")
    }
    unifiedDirs
  }

  /** q85: the unified staging view ([[graft.flights.StagingReader]])
    * over one batch-written and one stream-written root whose sources
    * OVERLAP — the backfill-beside-stream deployment. Cross-source
    * dedup collapses the overlap (content-hash exact, the I-10 hash),
    * and the rollup proves the merged corpus is the append fixture's
    * distinct row set. The DuckDB twin is DISTINCT * over the union
    * of both CSVs — the two ingest pipelines plus the unified reader
    * must together equal one plain relational dedup. */
  val q85: Q = (s, _) =>
    graft.flights.StagingReader.read(s, unifiedRoots(s), dedupAcrossSources = true)
      .groupBy(lower(trim(col("airline"))).as("airline_key"))
      .agg(count(lit(1)).as("n_rows"),
        // concat (not concat_ws): NULL-propagating like the twin's
        // `Source || '|' || Destination`, so a null endpoint drops out
        // of countDistinct in BOTH engines instead of only one
        countDistinct(concat(col("source_code"), lit("|"),
          col("destination_code"))).as("n_routes"))
      .orderBy(col("airline_key"))

  val queries: Map[String, Q] = Map(
    "q85_unified_staging" -> q85,
    "q47_star_fact_rows" -> q47,
    "q48_kpi_fares_by_airline" -> q48,
    "q49_kpi_bookings_by_airline" -> q49,
    "q50_kpi_seasonal_fares" -> q50,
    "q51_kpi_top_routes" -> q51,
    "q52_kpi_fare_trend" -> q52,
    "q53_validation_report" -> q53,
  )

  // ---- DuckDB twins --------------------------------------------------
  // The SQL replays the PIPELINE, not the queries: DISTINCT over the
  // raw CSV (the ingest ledger's intra-batch dedup — identical row <=>
  // identical hash), T-2..T-7 cleaning, the T-5 validity filter, and
  // the T-12 FK null-drop (a fact row survives iff airline, both
  // airport codes and the departure date parse are non-null — the dims
  // are built from the same batch, so FK resolution can only miss on
  // null keys).

  private val fixture = Flights.fixturePath

  private val sqlPipeline =
    s"""WITH raw AS (
       |  SELECT DISTINCT * FROM read_csv('$fixture', header=true, all_varchar=true)
       |), cleaned AS (
       |  SELECT
       |    "Airline" AS airline,
       |    "Source" AS source_code,
       |    "Destination" AS destination_code,
       |    try_cast("Departure Date & Time" AS TIMESTAMP) AS departure_dt,
       |    (CASE
       |      WHEN "Stopovers" IS NULL THEN 0
       |      WHEN contains(lower(trim("Stopovers")), 'direct') OR contains(lower(trim("Stopovers")), 'non-stop') THEN 0
       |      WHEN contains(lower(trim("Stopovers")), 'stop')
       |        THEN coalesce(try_cast(regexp_replace(lower(trim("Stopovers")), '[^0-9]', '', 'g') AS INTEGER), 0)
       |      ELSE 0
       |    END) AS stopovers,
       |    "Aircraft Type" AS aircraft_type,
       |    "Class" AS class_name,
       |    "Booking Source" AS booking_source,
       |    round(coalesce(try_cast("Duration (hrs)" AS DOUBLE), 0), 2) AS duration_hours,
       |    round(coalesce(try_cast("Base Fare (BDT)" AS DOUBLE), 0), 2) AS base_fare,
       |    round(coalesce(try_cast("Tax & Surcharge (BDT)" AS DOUBLE), 0), 2) AS tax_surcharge,
       |    round(coalesce(try_cast("Total Fare (BDT)" AS DOUBLE), 0), 2) AS total_fare,
       |    nullif(trim("Seasonality"), '') AS seasonality,
       |    try_cast("Days Before Departure" AS INTEGER) AS days_before_departure
       |  FROM raw
       |), valid AS (
       |  SELECT * FROM cleaned WHERE total_fare > 0 AND duration_hours > 0
       |), factrows AS (
       |  SELECT * FROM valid
       |  WHERE airline IS NOT NULL AND source_code IS NOT NULL
       |    AND destination_code IS NOT NULL AND departure_dt IS NOT NULL
       |)""".stripMargin

  val oracle: Map[String, String] = Map(
    // both ingest pipelines + StagingReader's cross-source dedup must
    // equal one DISTINCT * over the unioned raw CSVs (all string-typed
    // on both engines, so equality is exact)
    "q85_unified_staging" ->
      s"""WITH u AS (
         |  SELECT * FROM read_csv('${Flights.fixturePath}',
         |    header=true, all_varchar=true)
         |  UNION ALL
         |  SELECT * FROM read_csv('${Flights.appendFixturePath}',
         |    header=true, all_varchar=true)
         |), d AS (SELECT DISTINCT * FROM u)
         |SELECT lower(trim(Airline)) AS airline_key,
         |  count(*) AS n_rows,
         |  count(DISTINCT Source || '|' || Destination) AS n_routes
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q47_star_fact_rows" ->
      s"""$sqlPipeline
         |SELECT lower(trim(airline)) AS airline_key,
         |  source_code, destination_code,
         |  strftime(CAST(departure_dt AS DATE), '%Y-%m-%d') AS departure_date,
         |  lower(trim(aircraft_type)) AS aircraft_type_key,
         |  lower(trim(class_name)) AS class_key,
         |  stopovers,
         |  lower(trim(booking_source)) AS booking_source_key,
         |  duration_hours, days_before_departure,
         |  base_fare, tax_surcharge, total_fare
         |FROM factrows""".stripMargin,
    "q48_kpi_fares_by_airline" ->
      s"""$sqlPipeline
         |SELECT lower(trim(airline)) AS airline_key,
         |  ${Qx.sqlDavg("total_fare", rescale = 2)} AS avg_total_fare,
         |  ${Qx.sqlDavg("base_fare", rescale = 2)} AS avg_base_fare,
         |  count(*) AS n_flights
         |FROM factrows GROUP BY 1""".stripMargin,
    "q49_kpi_bookings_by_airline" ->
      s"""$sqlPipeline
         |SELECT lower(trim(airline)) AS airline_key, count(*) AS n_bookings
         |FROM factrows GROUP BY 1""".stripMargin,
    "q50_kpi_seasonal_fares" ->
      s"""$sqlPipeline
         |, dimdate AS (
         |  SELECT CAST(departure_dt AS DATE) AS date_id,
         |    coalesce(max(seasonality), 'Normal') AS seasonality
         |  FROM valid WHERE departure_dt IS NOT NULL GROUP BY 1
         |)
         |SELECT dd.seasonality,
         |  ${Qx.sqlDavg("f.total_fare", rescale = 2)} AS avg_total_fare,
         |  count(*) AS n_flights
         |FROM factrows f
         |JOIN dimdate dd ON CAST(f.departure_dt AS DATE) = dd.date_id
         |GROUP BY 1""".stripMargin,
    "q51_kpi_top_routes" ->
      s"""$sqlPipeline
         |SELECT source_code AS source_airport,
         |  destination_code AS destination_airport,
         |  count(*) AS n_flights
         |FROM factrows GROUP BY 1, 2
         |ORDER BY n_flights DESC, source_airport, destination_airport
         |LIMIT 10""".stripMargin,
    "q52_kpi_fare_trend" ->
      s"""$sqlPipeline
         |SELECT strftime(CAST(departure_dt AS DATE), '%Y-%m-%d') AS departure_date,
         |  ${Qx.sqlDavg("total_fare", rescale = 2)} AS avg_total_fare,
         |  count(*) AS n_flights
         |FROM factrows GROUP BY 1""".stripMargin,
    "q53_validation_report" ->
      s"""$sqlPipeline
         |, raw0 AS (SELECT * FROM read_csv('$fixture', header=true, all_varchar=true))
         |SELECT 'source_rows' AS metric, count(*) AS n_rows FROM raw0
         |UNION ALL SELECT 'staging_rows', count(*) FROM raw
         |UNION ALL SELECT 'valid_rows', count(*) FROM valid
         |UNION ALL SELECT 'fact_rows', count(*) FROM factrows""".stripMargin,
  )
}
