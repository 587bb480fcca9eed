package graft.queries

import graft.flights.StarWarehouse
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The KPI surface the star schema exists to serve (SURVEY.md §2.4,
  * K-1..K-5; project_report.md:88-115) as first-class queries over a
  * [[StarWarehouse]]. The dims are broadcast — they are always small
  * relative to the fact, so each KPI is one fact scan + hash
  * aggregation, no shuffle on the join side.
  *
  * Averages go through [[Qx.davg]] (exact decimal sum / exact count):
  * deterministic under any partitioning AND replayable bit-identically
  * by the DuckDB oracle (see [[StarQueries]]), where a plain double
  * avg would drift with aggregation order.
  *
  * K-1 intentionally returns BOTH avg(total_fare) and avg(base_fare):
  * the report's prose and its dashboard disagree (SURVEY §1.2), so the
  * engine serves both.
  *
  * K-1, K-2, K-3 and K-5 sort their grouped result in ONE partition
  * ([[sortedInOne]]): the groups never outnumber a dimension's rows
  * (airlines, seasonality labels of dim_date, dates of dim_date), so
  * the sort runs in the final aggregate's task. A global `orderBy`
  * would plan a range exchange, a sampling job plus a map stage, to
  * sort a few dozen rows. K-4 keeps `orderBy` + `limit`, which plans a
  * take-ordered with no exchange of its own.
  */
object Kpi {
  /** Sort a grouped result that is bounded by a dimension's row count
    * in one partition, with no range exchange (see the object doc). */
  private def sortedInOne(grouped: DataFrame, order: Column*): DataFrame =
    grouped.coalesce(1).orderBy(order: _*)

  /** K-1: average fare by airline. */
  def avgFareByAirline(wh: StarWarehouse): DataFrame =
    sortedInOne(
      wh.fact.join(broadcast(wh.dimAirlines), Seq("airline_id"))
        .groupBy(col("airline_name"))
        .agg(
          Qx.davg(col("total_fare"), rescale = 2).as("avg_total_fare"),
          Qx.davg(col("base_fare"), rescale = 2).as("avg_base_fare"),
          count(lit(1)).as("n_flights")),
      col("airline_name"))

  /** K-2: booking demand by airline. */
  def bookingsByAirline(wh: StarWarehouse): DataFrame =
    sortedInOne(
      wh.fact.join(broadcast(wh.dimAirlines), Seq("airline_id"))
        .groupBy(col("airline_name"))
        .agg(count(lit(1)).as("n_bookings")),
      col("n_bookings").desc, col("airline_name"))

  /** K-3: seasonal fare variation via dim_date.seasonality. */
  def seasonalFares(wh: StarWarehouse): DataFrame = {
    val fact = wh.fact
    val dates = wh.dimDate
    sortedInOne(
      fact.join(broadcast(dates), fact("departure_date_id") === dates("date_id"))
        .groupBy(col("seasonality"))
        .agg(Qx.davg(col("total_fare"), rescale = 2).as("avg_total_fare"),
          count(lit(1)).as("n_flights")),
      col("seasonality"))
  }

  /** K-4: most popular routes (top-k), airport dim joined twice under
    * role aliases. */
  def topRoutes(wh: StarWarehouse, k: Int = 10): DataFrame = {
    val src = broadcast(wh.dimAirports
      .select(col("airport_id").as("source_airport_id"),
        col("airport_code").as("source_airport")))
    val dst = broadcast(wh.dimAirports
      .select(col("airport_id").as("destination_airport_id"),
        col("airport_code").as("destination_airport")))
    wh.fact.join(src, Seq("source_airport_id"))
      .join(dst, Seq("destination_airport_id"))
      .groupBy(col("source_airport"), col("destination_airport"))
      .agg(count(lit(1)).as("n_flights"))
      .orderBy(col("n_flights").desc, col("source_airport"), col("destination_airport"))
      .limit(k)
  }

  /** K-5: fare trend over departure date. */
  def fareTrend(wh: StarWarehouse): DataFrame =
    sortedInOne(
      wh.fact.groupBy(col("departure_date_id"))
        .agg(Qx.davg(col("total_fare"), rescale = 2).as("avg_total_fare"),
          count(lit(1)).as("n_flights")),
      col("departure_date_id"))
}
