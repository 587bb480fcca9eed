package graft.streaming

import graft.ops.{CdcSnapshotStore, CoPairStore, Graphs, OrderLedgerStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming incremental connected components (the 17th pipeline):
  * order-item batches arrive as parquet files and each micro-batch
  * folds q211's two pieces of standing state forward — the additive
  * pair-support rounds ([[graft.ops.CoPairStore]]) and the component
  * labels, stored as PER-ROUND LABEL DELTAS (changed + new nodes only)
  * under the [[graft.ops.CdcSnapshotStore]] LWW fold, `as_of` = the
  * batch round. Per batch the work is delta-bounded: support counting
  * over the batch, one keyed join against the pair store for the
  * support-2 crossings, min-label propagation on the QUOTIENT graph,
  * and a label-delta commit of only the nodes whose component changed
  * — the graph is never re-walked, and an untouched component never
  * writes a byte.
  *
  * Replay safety: both stores' reads take `beforeRound = batch round`,
  * so a re-delivered batch recomputes its crossings and quotient
  * against exactly the pre-batch state and overwrites its own two
  * round partitions byte-for-byte (StreamingCcSpec pins replay and
  * stream/batch parity against a from-scratch recompute).
  *
  * Contract: batches must be order-disjoint — an order's basket split
  * across batches would double-count pair support. The violation can
  * come from the SOURCE (re-emitting an order) or from the READER
  * itself: a file stream with maxFilesPerTrigger set (or a wave larger
  * than one trigger's file cap) cuts one logical wave across
  * micro-batches at arbitrary file boundaries (ADVICE r12). Neither is
  * silent here: every batch is checked EXACTLY against the
  * [[graft.ops.OrderLedgerStore]] of orderkeys prior rounds committed
  * and fails loudly with witness keys on any overlap (the ledger rides
  * `beforeRound`, so a replayed batch never clashes with itself).
  * Writers that can hit the reader-side split should pre-aggregate to
  * one file set per order wave, or route a CDC/dedup stage in front. */
object StreamingCc {
  /** Parquet batch schema — the order-item slice the pair counts need. */
  val itemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType)))

  private def emptyLabels(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("keeper", LongType))))

  private def labelStore(spark: SparkSession, path: String): CdcSnapshotStore =
    new CdcSnapshotStore(spark, path, Seq("doc_id"), "as_of", "as_of")

  /** The live component labels (doc_id, comp) folded from the delta
    * rounds — the read surface a census or dedup filter consumes. */
  def labels(spark: SparkSession, labelPath: String,
             beforeRound: Option[Long] = None): DataFrame =
    labelStore(spark, labelPath).state(beforeRound)
      .select(col("doc_id"), col("comp"))

  /** One micro-batch: advance both stores to round `batchId`.
    * Deterministic in (batch, batchId). */
  def processBatch(batch: DataFrame, batchId: Long, pairPath: String,
                   labelPath: String): Unit =
    // the batch registers persisted frames (delta counts, quotient
    // edges, base labels); release them at the batch boundary — the
    // Bench/Verify per-query discipline, applied per micro-batch, or a
    // long-lived stream accumulates three cached frames per batch.
    // SCOPED release (ADVICE r12): only the frames THIS batch
    // registered — draining the global queue would unpersist caches a
    // concurrent query in the same session still has in flight.
    graft.ops.Dedup.withSketchScope {
      processBatchInner(batch, batchId, pairPath, labelPath)
    }

  private def processBatchInner(batch: DataFrame, round: Long, pairPath: String,
                                labelPath: String): Unit = {
    val spark = batch.sparkSession
    // exact order-disjointness guard (see the object doc): fails the
    // batch BEFORE any state advances, so a violating trigger leaves
    // both stores untouched
    new OrderLedgerStore(spark, s"$pairPath.orders")
      .checkDisjointAndCommit(batch, round)
    val pairStore = new CoPairStore(spark, pairPath)
    val deltaCounts = graft.ops.Dedup.materializedSketch(
      Graphs.pairCounts(batch)) // two consumers: crossings + the round commit
    // crossings against the PRE-batch support state (replay guard)
    val prior =
      if (pairStore.exists)
        pairStore.state(beforeRound = Some(round))
      else deltaCounts.limit(0)
    val newEdges = deltaCounts
      .join(prior.withColumnRenamed("n_ab", "n_base"),
        Seq("part_a", "part_b"), "left")
      .filter(coalesce(col("n_base"), lit(0L)) < 2 &&
        coalesce(col("n_base"), lit(0L)) + col("n_ab") >= 2)
      .select(col("part_a").as("doc_a"), col("part_b").as("doc_b"))
    val lstore = labelStore(spark, labelPath)
    val base =
      if (lstore.exists)
        lstore.state(beforeRound = Some(round))
          .select(col("doc_id"), col("comp").as("keeper"))
      else emptyLabels(spark)
    val labels = Graphs.incrementalLabels(base, newEdges)
    // delta rows only: nodes whose label changed, plus new nodes
    val delta = labels
      .join(base.withColumnRenamed("keeper", "_old"), Seq("doc_id"), "left")
      .filter(!(col("comp") <=> col("_old")))
      .select(col("doc_id"), col("comp"), lit(round).as("as_of"))
    // commit order is immaterial: both rounds are idempotent
    // overwrites and every read above is beforeRound-guarded
    pairStore.appendRound(batch, round)
    lstore.appendRound(delta, round)
  }

  /** Drain everything currently in `itemsDir` into the two stores
    * (one round per micro-batch). */
  def start(spark: SparkSession, itemsDir: String, pairPath: String,
            labelPath: String, checkpointDir: String): StreamingQuery =
    RoundStream.drain(spark, itemSchema, itemsDir, checkpointDir, "graft_cc_stream") {
      processBatch(_, _, pairPath, labelPath)
    }
}
