package graft.streaming

import graft.ops.HllDistinctStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The streaming half of q93's incremental distinct counting: events
  * arrive as parquet micro-batches, each batch commits ITS OWN HLL
  * sketch partial as the batch's `ingest_round`, and the running
  * "distinct users per event type" is read by unioning the store —
  * never by rescanning event history. The same shape Spark's own
  * streaming deduplication cannot give you: `dropDuplicates` on a
  * stream needs every key in the state store, while a sketch round is
  * a few KB regardless of cardinality.
  *
  * Exactly-once discipline is the [[StreamingBoilerplate]] /
  * [[StreamingNearDup]] contract verbatim: the round write is keyed
  * by the deterministic batchId (dynamic-partition overwrite — a
  * replayed batch REPLACES its own partition, and HLL union being
  * idempotent means even a reader racing the replay never sees an
  * estimate move backward), and a batch that wants "distinct as of
  * before me" reads `state(beforeRound = Some(batchId))`. Store
  * and checkpoint are one atom to delete together. */
object StreamingDistinct {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType)))

  /** One micro-batch: commit the batch's sketch partial as round
    * `batchId`. Public and deterministic in (batch, batchId). */
  def processBatch(batch: DataFrame, batchId: Long, storePath: String): Unit =
    new HllDistinctStore(batch.sparkSession, storePath)
      .appendRound(batch, batchId)

  /** Drain everything currently in `eventsDir` into the sketch store
    * at `storePath` (one AvailableNow run, one round per batch). */
  def start(spark: SparkSession, eventsDir: String, storePath: String,
            checkpointDir: String): StreamingQuery =
    RoundStream.drain(spark, eventSchema, eventsDir, checkpointDir,
        "graft_distinct_stream") {
      processBatch(_, _, storePath)
    }

  /** The live read: distinct-user estimates per event type from the
    * stored sketches alone. */
  def estimates(spark: SparkSession, storePath: String): DataFrame =
    new HllDistinctStore(spark, storePath).state()
      .select(col("event_type"),
        hll_sketch_estimate(col("sketch")).as("est_users"))
}
