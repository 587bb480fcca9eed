package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.flights.StarWarehouse
import graft.queries.Kpi

/** The full streaming pipeline, end to end: CSV files land in a
  * directory -> StreamingIngest stages them (checkpointed, hash-
  * deduped) -> StreamingStarBuild upserts dims and appends fact
  * increments -> KPIs serve from the warehouse. Run it twice and the
  * checkpoints make the second pass a no-op — the streaming
  * equivalent of the reference's idempotent daily DAG.
  *
  * Usage: runMain graft.streaming.StreamingPipelineDemo <csv> [root]
  */
object StreamingPipelineDemo {
  def main(args: Array[String]): Unit = {
    val csv = args.headOption.getOrElse("src/test/resources/flights_clean.csv")
    val root = if (args.length > 1) args(1)
      else Files.createTempDirectory("stream_wh").toString
    val spark = graft.GraftSession()

    val in = s"$root/incoming"
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(csv), Paths.get(s"$in/${Paths.get(csv).getFileName}"),
      StandardCopyOption.REPLACE_EXISTING)

    StreamingIngest.start(spark, in, s"$root/staging", s"$root/ckpt_ingest")
      .awaitTermination()
    println(s"[stream-pipeline] staged rows: " +
      spark.read.parquet(s"$root/staging").count())

    StreamingStarBuild.start(spark, s"$root/staging", s"$root/wh", s"$root/ckpt_star")
      .awaitTermination()
    val wh = new StarWarehouse(spark, s"$root/wh")
    println(s"[stream-pipeline] fact rows: ${wh.fact.count()}")
    println("[stream-pipeline] K-1 over the streamed warehouse:")
    Kpi.avgFareByAirline(wh).show(truncate = false)
    spark.stop()
  }
}
