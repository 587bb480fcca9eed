package graft.streaming

import graft.ops.ExtremeBufferStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming exact-extremes maintenance (the 20th pipeline): event
  * batches arrive as parquet files carrying an `op` column (`add` /
  * `retract`), and every micro-batch folds one signed k-deep
  * extreme-buffer round into the [[graft.ops.ExtremeBufferStore]] —
  * q220's exact raw-domain min/max running continuously, so the
  * dashboard's extreme readings stay correct THROUGH deletions
  * (sensor recalls, erasure waves, late corrections) at O(batch) per
  * trigger. This is the streaming tier the raw-domain carve-out used
  * to force to a rescan: a retraction that annihilates the current
  * extreme promotes the next buffered value exactly, and only a wave
  * deeper than the buffer makes the SERVED view raise its loud rescan
  * declaration — the pipeline itself keeps committing (state stays
  * consistent; the declaration is a read-side contract). RECOVERY
  * from a declared rescan is a store REBUILD — a FRESH path whose
  * bootstrap round re-buffers the surviving raw slice, after which a
  * new stream (fresh checkpoint, `roundOffset` past the bootstrap)
  * continues from there. An in-place "re-bootstrap round" on the same
  * store is NOT a recovery: bounds only widen under the max-merge
  * (no inverse), so the declaration cannot clear, and appending the
  * live values again would double-count them
  * ([[graft.ops.ExtremeBufferStore]]'s contract; the
  * StreamingExtremesSpec recovery scenario drives raise → rebuild →
  * exact serving end-to-end).
  *
  * No streaming state store: the signed (group, side, value, n) +
  * bound-marker monoid is the state, persisted as idempotent parquet
  * rounds keyed on the deterministic batchId (StreamingExtremesSpec
  * pins stream/batch parity, exact promotion under a retraction
  * trigger, and replay). An unknown op fails the batch loudly. */
object StreamingExtremes {
  /** Parquet batch schema — the events value slice + op. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("op", StringType)))

  /** One micro-batch: net signed extreme-buffer state committed as
    * round `roundOffset + batchId` — one batch may legitimately
    * interleave adds and retractions (the CDC shape), folded in a
    * single pass. Deterministic in (batch, batchId). */
  def processBatch(batch: DataFrame, batchId: Long, storePath: String,
                   roundOffset: Long = 0L): Unit = {
    val signed = batch.select(col("event_type"), col("value"),
      RoundStream.sign(col("op"), "extremes").as("sign"))
    new ExtremeBufferStore(batch.sparkSession, storePath)
      .appendSignedRound(signed, roundOffset + batchId)
  }

  /** Drain everything currently in `eventsDir` into the buffer store. */
  def start(spark: SparkSession, eventsDir: String, storePath: String,
            checkpointDir: String, roundOffset: Long = 0L): StreamingQuery =
    RoundStream.drain(spark, eventSchema, eventsDir, checkpointDir,
        "graft_extremes_stream") {
      processBatch(_, _, storePath, roundOffset)
    }
}
