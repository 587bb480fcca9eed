package graft.streaming

import graft.ops.DistinctViewStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming EXACT distinct counting under deletes (the 16th
  * pipeline): event batches arrive as parquet files carrying an `op`
  * column (`add` / `retract`), and every micro-batch folds one signed
  * partial-state round into the [[graft.ops.DistinctViewStore]] —
  * q209's exact distinct-count view running continuously, with the
  * delete path [[StreamingDistinct]]'s HLL sketches structurally
  * cannot offer (register-max has no inverse; per-pair counts do).
  *
  * Like [[StreamingMatView]] there is NO streaming state store: the
  * additive (event_type, user_id, n) monoid IS the state, persisted
  * as idempotent parquet rounds, so restarts carry nothing but the
  * checkpoint offset and a reader gets the exact live distinct count
  * at any instant. A retraction wave annihilates exactly the rows it
  * cancels (merge drops exact-zero counts), so state shrinks under
  * deletes instead of accreting tombstones.
  *
  * Exactly-once: foreachBatch is at-least-once; the round commit is a
  * dynamic-partition overwrite keyed on the deterministic batchId, so
  * a re-delivered batch replaces its own signed state byte-for-byte
  * (StreamingDistinctExactSpec pins replay, retraction, and
  * stream/batch parity). Contract: a `retract` row must cancel a
  * previously-added event (the CDC changelog discipline — compose
  * [[StreamingCdc]] in front of an at-will mutator); net-negative
  * pairs are a caller bug and surface as vanished counts, never as a
  * crash. */
object StreamingDistinctExact {
  /** Parquet batch schema — the events table layout plus the op. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("op", StringType)))

  /** One micro-batch: signed per-pair partials committed as round
    * `batchId`. Deterministic in (batch, batchId); a NULL or unknown
    * op fails the batch loudly ([[RoundStream.sign]]). */
  def processBatch(batch: DataFrame, batchId: Long, storePath: String): Unit = {
    val signed = batch.select(col("event_type"), col("user_id"),
      RoundStream.sign(col("op"), "exact-distinct").as("sign"))
    new DistinctViewStore(batch.sparkSession, storePath)
      .appendSignedRound(signed, round = batchId)
  }

  /** Drain everything currently in `eventsDir` into the view state at
    * `storePath` (one signed state round per micro-batch). */
  def start(spark: SparkSession, eventsDir: String, storePath: String,
            checkpointDir: String): StreamingQuery =
    RoundStream.drain(spark, eventSchema, eventsDir, checkpointDir,
        "graft_distinct_exact_stream") {
      processBatch(_, _, storePath)
    }
}
