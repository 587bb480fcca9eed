package graft.flights

import graft.queries.Kpi

/** End-to-end demo driver: one DAG run (ingest -> transform ->
  * validate) over a CSV, then the K-1..K-5 KPI surface — the flow a
  * user of the reference pipeline runs daily.
  *
  * Usage: runMain graft.flights.FlightDemo <csvPath> <warehouseRoot>
  */
object FlightDemo {
  def main(args: Array[String]): Unit = {
    val csv = args.headOption.getOrElse("src/test/resources/flights_clean.csv")
    val root = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("flight_wh").toString
    val spark = graft.GraftSession()

    val pipeline = new FlightPipeline(spark, root)
    val counts = pipeline.run(csv)
    println(s"[demo] validated: source=${counts.source} staging=${counts.staging} fact=${counts.fact}")

    val wh = pipeline.warehouse
    println("[demo] K-1 avg fare by airline:")
    Kpi.avgFareByAirline(wh).show(truncate = false)
    println("[demo] K-2 bookings by airline:")
    Kpi.bookingsByAirline(wh).show(truncate = false)
    println("[demo] K-3 seasonal fares:")
    Kpi.seasonalFares(wh).show(truncate = false)
    println("[demo] K-4 top routes:")
    Kpi.topRoutes(wh, 5).show(truncate = false)
    println("[demo] K-5 fare trend (first 10 days):")
    Kpi.fareTrend(wh).show(10, truncate = false)

    // Filter-pushdown proof: the date bounds reach the parquet scan as
    // pushed data filters.
    val ranged = wh.factForDateRange("2024-01-05", "2024-01-07")
    val physical = ranged.queryExecution.executedPlan.toString
    val pushed = physical.linesIterator.collectFirst {
      case l if l.contains("PushedFilters") => l.substring(l.indexOf("PushedFilters"))
    }.getOrElse("")
    println(s"[demo] date-range scan rows=${ranged.count()}")
    println(s"[demo] $pushed")
    spark.stop()
  }
}
