package graft.streaming

import org.apache.spark.sql.streaming.Trigger

/** Streaming demo entry: drain the events table as a file-source
  * stream through the watermarked hourly aggregation and print what
  * landed — the Structured Streaming counterpart of q25.
  *
  * Usage: runMain graft.streaming.EventStreamDemo [sfDir]
  */
object EventStreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession()

    val q = EventStreams.hourlyCounts(EventStreams.eventsStream(spark, sfDir))
      .writeStream.format("memory").queryName("stream_demo")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("stream_demo")
    println(s"[stream-demo] finalized windows: ${out.count()}")
    out.orderBy("window_start", "event_type").show(5, truncate = false)
    spark.stop()
  }
}
