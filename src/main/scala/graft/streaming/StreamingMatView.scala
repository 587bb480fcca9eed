package graft.streaming

import graft.ops.MatViewStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming materialized-view refresh (the 14th pipeline): document
  * batches arrive as parquet files and every micro-batch commits ONE
  * partial-aggregate-state partition of the
  * [[graft.ops.MatViewStore]] — q205's exact incremental view running
  * continuously. This is the always-fresh-dashboard pattern with NO
  * streaming state store at all: the aggregates' own monoid (sums add,
  * extremes fold) IS the state, persisted as plain parquet rounds, so
  * a reader gets the exact corpus profile at any instant by folding
  * |groups| rows per round — and the stream never holds watermark
  * state, never re-reads history, and restarts from nothing but the
  * checkpoint offset.
  *
  * Exactly-once: foreachBatch is at-least-once; the round commit is a
  * dynamic-partition overwrite keyed on the deterministic batchId, so
  * a re-delivered batch replaces its own partial state byte-for-byte
  * (the same contract as every round store; StreamingMatViewSpec pins
  * replay and stream/batch parity). Append-only contract inherited
  * from [[graft.ops.MatView]]: deletes need [[StreamingCdc]] in front. */
object StreamingMatView {
  /** Parquet batch schema — the documents table layout. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** One micro-batch: aggregate to partial state + commit as round
    * `batchId`. Deterministic in (batch, batchId). */
  def processBatch(batch: DataFrame, batchId: Long, storePath: String): Unit =
    new MatViewStore(batch.sparkSession, storePath)
      .appendRound(batch, round = batchId)

  /** Drain everything currently in `docsDir` into the view state at
    * `storePath` (one state round per micro-batch). */
  def start(spark: SparkSession, docsDir: String, storePath: String,
            checkpointDir: String): StreamingQuery =
    RoundStream.drain(spark, docSchema, docsDir, checkpointDir, "graft_matview_stream") {
      processBatch(_, _, storePath)
    }
}
