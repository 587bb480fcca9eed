package graft.queries

import graft.SparkTestBase
import graft.flights.{FlightSchemas, StarWarehouse}
import org.apache.spark.sql.functions._

class KpiSpec extends SparkTestBase {
  private lazy val wh: StarWarehouse = {
    val w = new StarWarehouse(spark, tmpDir("kpi"))
    val staging = FlightSchemas.renameToStaging(
      spark.read.schema(FlightSchemas.rawCsv).option("header", true)
        .csv(resource("flights_small.csv")))
    w.transform(staging)
    w
  }

  test("K-1: per-airline fare averages cover both fare definitions") {
    val rows = Kpi.avgFareByAirline(wh).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Double]("avg_total_fare") > r.getAs[Double]("avg_base_fare"))
    }
  }

  test("K-2: booking counts sum to the fact row count") {
    val total = Kpi.bookingsByAirline(wh).agg(sum("n_bookings")).head().getLong(0)
    assert(total == wh.fact.count())
  }

  test("K-3: every fact row lands in a seasonality bucket") {
    val total = Kpi.seasonalFares(wh).agg(sum("n_flights")).head().getLong(0)
    assert(total == wh.fact.count())
    val seasons = Kpi.seasonalFares(wh).select("seasonality").collect().map(_.getString(0))
    assert(seasons.contains("Winter"))
  }

  test("K-4: top routes are ordered with deterministic tie-break") {
    val routes = Kpi.topRoutes(wh, k = 5).collect()
    assert(routes.nonEmpty && routes.length <= 5)
    val counts = routes.map(_.getAs[Long]("n_flights"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
  }

  test("K-5: fare trend has one row per departure date") {
    val trend = Kpi.fareTrend(wh)
    assert(trend.count() == wh.fact.select("departure_date_id").distinct().count())
  }

  test("K-1..K-5 return identical rows at 1, 4 and 32 shuffle partitions") {
    def all(): Seq[Seq[org.apache.spark.sql.Row]] =
      Seq(Kpi.avgFareByAirline(wh), Kpi.bookingsByAirline(wh), Kpi.seasonalFares(wh),
        Kpi.topRoutes(wh), Kpi.fareTrend(wh)).map(_.collect().toSeq)
    wh.fact.count() // build the warehouse under the shipped conf
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.get(k))
    try {
      // no adaptive coalescing, so each count is the partition count the
      // aggregates really run with
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val results = Seq(1, 4, 32).map { n =>
        spark.conf.set("spark.sql.shuffle.partitions", n.toString)
        all()
      }
      assert(results.forall(_ == results.head))
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("sorted KPIs run no range-partitioning jobs") {
    wh.fact.count() // build the warehouse outside the counted window
    // fact scan + aggregate map stage, result stage, plus the dim
    // broadcast for K-1; a global orderBy cost 5 and 4 jobs (sampling
    // job and range-exchange map stage)
    assert(jobsIn(Kpi.avgFareByAirline(wh).collect()) == 3)
    assert(jobsIn(Kpi.fareTrend(wh).collect()) == 2)
  }
}
