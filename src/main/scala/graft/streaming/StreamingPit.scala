package graft.streaming

import graft.ops.{RoundPartitions, Scd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming point-in-time enrichment (the 15th pipeline): fact rows
  * arrive as parquet files and every micro-batch is enriched against a
  * STANDING version table with [[graft.ops.Scd.pitJoin]] — each fact
  * gets the attr live at its own (ts, seq), the feature-store serving
  * join running continuously over the stream.
  *
  * Correctness hinges on one precondition, stated rather than hidden:
  * the version table must already contain every version at or before
  * the arriving facts' timestamps (versions are published ahead of the
  * facts they describe — the natural order for a dimension feed; a
  * LATE version would require retracting already-emitted enrichments,
  * which an append-only sink cannot express). Under it, per-batch
  * pitJoin ≡ batch pitJoin over the union of batches, because
  * enrichment is per-fact-row and reads only the static version side —
  * StreamingPitSpec pins exactly that parity.
  *
  * Per-batch cost: one key-partitioned window over versions + batch
  * (the join-free pitJoin shape); output commits as one idempotent
  * `ingest_round` partition keyed on the deterministic batchId, so
  * at-least-once redelivery replaces itself. At 100 TB the version
  * side is dimension-sized and the stream never re-reads its own
  * output. */
object StreamingPit {
  /** Parquet fact schema: key + (ts, seq) + payload (q201's fact
    * layout; ts NTZ as the events table reads). */
  val factSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("cents", LongType)))

  val key: Seq[String] = Seq("user_id")
  val attrs: Seq[String] = Seq("band")

  /** One micro-batch: enrich against the versions at `versionsPath`
    * (user_id, ts, event_id, band) and commit as round `batchId`.
    * Deterministic in (batch, batchId). */
  def processBatch(batch: DataFrame, batchId: Long, versionsPath: String,
                   outPath: String): Unit = {
    val spark = batch.sparkSession
    val versions = spark.read.parquet(versionsPath)
    val enriched = Scd.pitJoin(versions, batch, key, attrs, "ts", "event_id")
    RoundPartitions.commit(enriched, outPath, batchId)
  }

  /** Drain everything currently in `factsDir` (one enriched round per
    * micro-batch) into `outPath`. */
  def start(spark: SparkSession, factsDir: String, versionsPath: String,
            outPath: String, checkpointDir: String): StreamingQuery =
    RoundStream.drain(spark, factSchema, factsDir, checkpointDir, "graft_pit_stream") {
      processBatch(_, _, versionsPath, outPath)
    }
}
