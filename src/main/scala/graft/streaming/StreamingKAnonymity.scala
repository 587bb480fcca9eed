package graft.streaming

import graft.ops.ClassCountStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming k-anonymity maintenance (the 19th pipeline): customer
  * batches arrive as parquet files carrying an `op` column (`add` /
  * `retract`), and every micro-batch folds one signed class-count
  * round into the [[graft.ops.ClassCountStore]] — q219's release-risk
  * ladder running continuously, which completes the privacy family's
  * loop: q206 plans an erasure, q214 executes it, and this keeps the
  * k-anonymity audit CURRENT as customers arrive and leave, at
  * O(batch) per trigger instead of a table rescan per report.
  *
  * A `retract` (the erasure feed) annihilates exactly the departing
  * rows' class contributions — the audit's risky-class histogram
  * reflects a right-to-be-forgotten pass immediately, the property a
  * governance dashboard actually needs. No streaming state store: the
  * additive (segment, nation, band, n) monoid is the state, persisted
  * as idempotent parquet rounds keyed on the deterministic batchId
  * (StreamingKAnonymitySpec pins stream/batch parity, retraction, and
  * replay). An unknown op fails the batch loudly. */
object StreamingKAnonymity {
  /** Parquet batch schema — the customer quasi-identifier slice + op. */
  val custSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_mktsegment", StringType),
    StructField("c_nationkey", LongType),
    StructField("c_acctbal", DoubleType),
    StructField("op", StringType)))

  /** One micro-batch: NET signed class counts committed as round
    * `batchId` — one batch may legitimately interleave departures and
    * arrivals (the CDC shape), folded in a single pass. Deterministic
    * in (batch, batchId). */
  def processBatch(batch: DataFrame, batchId: Long, storePath: String): Unit = {
    val signed = batch.select(
      col("c_mktsegment"), col("c_nationkey"), col("c_acctbal"),
      RoundStream.sign(col("op"), "k-anonymity").as("sign"))
    new ClassCountStore(batch.sparkSession, storePath)
      .appendSignedRound(signed, batchId)
  }

  /** Drain everything currently in `custDir` into the class store. */
  def start(spark: SparkSession, custDir: String, storePath: String,
            checkpointDir: String): StreamingQuery =
    RoundStream.drain(spark, custSchema, custDir, checkpointDir, "graft_kanon_stream") {
      processBatch(_, _, storePath)
    }
}
