package graft.streaming

import graft.ops.CdcSnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming CDC apply (the 13th pipeline): changelog rows (upserts +
  * delete tombstones, versioned by (ts, event_id)) arrive as parquet
  * files and every micro-batch commits ONE compacted `ingest_round`
  * partition of the [[graft.ops.CdcSnapshotStore]] — the q202 operator
  * running continuously, maintaining a queryable last-writer-wins
  * mirror of an upstream table from its replication stream.
  *
  * The exactly-once story needs NO replay guard beyond the store's
  * per-round dynamic overwrite: foreachBatch is at-least-once, a
  * re-delivered batchId replaces its own round byte-for-byte, and —
  * because the snapshot fold is a semilattice (tombstones retained,
  * see [[graft.ops.Cdc]]) — even batches arriving out of ORDER
  * converge to the same snapshot. That is the property that makes CDC
  * mirroring safe to parallelize and resume at 100 TB; the batch spec
  * (CdcSpec) proves the algebra, StreamingCdcSpec proves the pipeline.
  *
  * Per-batch cost is O(|batch|) + one partition write of at most
  * |batch keys| rows; the standing snapshot is never read or rewritten
  * on the hot path (reads fold rounds lazily; auto-compaction bounds
  * the round count). */
object StreamingCdc {
  /** Parquet changelog schema ([[graft.ops.Cdc.eventChangelog]]'s
    * layout; ts is NTZ exactly as the events table reads). */
  val logSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("event_id", LongType),
    StructField("op", StringType),
    StructField("cents", LongType)))

  val key: Seq[String] = Seq("user_id")

  /** One micro-batch: compact + commit as round `batchId`. Public and
    * deterministic in (batch, batchId) so the replay contract is
    * directly testable. */
  def processBatch(batch: DataFrame, batchId: Long, storePath: String): Unit =
    new CdcSnapshotStore(batch.sparkSession, storePath, key, "ts", "event_id")
      .appendRound(batch, round = batchId)

  /** Drain everything currently in `logDir` (one AvailableNow run =
    * one snapshot round per micro-batch) into the store at
    * `storePath`. */
  def start(spark: SparkSession, logDir: String, storePath: String,
            checkpointDir: String): StreamingQuery =
    RoundStream.drain(spark, logSchema, logDir, checkpointDir, "graft_cdc_stream") {
      processBatch(_, _, storePath)
    }
}
