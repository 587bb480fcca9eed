package graft.streaming

import graft.ops.{CorpusStatsStore, PostingsStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming inverted-index maintenance (the 18th pipeline): document
  * batches arrive as parquet files carrying an `op` column (`add` /
  * `retract`), and every micro-batch folds one SIGNED round into the
  * two [[graft.ops.PostingsIndex]] stores — the postings (term,
  * doc_id, tf, dl) and the O(1) corpus stats (N, T) — so q210/q213's
  * BM25 serving path reads an index that is always current, never
  * re-tokenizing history. The [[StreamingDistinctExact]] discipline
  * applied to retrieval state: a document delete retracts exactly its
  * own postings and its dl/N contribution (negative rows annihilate in
  * the merge, so the index SHRINKS under deletes), df stays consistent
  * for free because the live (term, doc) rows ARE the df domain, and a
  * delete+re-add update in one batch commits only the net change.
  *
  * Like the other monoid-state pipelines there is NO streaming state
  * store: the signed parquet rounds are the state, restarts carry only
  * the checkpoint offset, and a reader gets index-served BM25 at any
  * instant via [[graft.ops.PostingsIndex.perDocFromStores]].
  *
  * Exactly-once: foreachBatch is at-least-once; both round commits are
  * dynamic-partition overwrites keyed on the deterministic batchId, so
  * a re-delivered batch replaces its own net rounds byte-for-byte
  * (StreamingPostingsSpec pins replay, retraction annihilation, and
  * stream/batch index parity down to served BM25 scores). Contract: a
  * `retract` row must carry the exact text previously added (the CDC
  * changelog discipline — compose [[StreamingCdc]] in front of an
  * at-will mutator); a mismatched retraction surfaces as a non-zero
  * residual posting, never as a crash. */
object StreamingPostings {
  /** Parquet batch schema — the documents table layout plus the op. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("op", StringType)))

  /** One micro-batch: net signed postings + stats committed as round
    * `batchId`, then the pair's COMPLETION MARKER
    * advanced (VERDICT r13 #4) — the two commits are sequential, so a
    * reader (or a crash) between them would otherwise see one batch of
    * N/T skew vs the postings; bounding reads at the marker
    * ([[graft.ops.PostingsIndex.perDocFromRoot]]) makes the pair
    * atomic at the read surface, and idempotent replay still heals the
    * write side. Deterministic in (batch, batchId); a NULL or unknown
    * op fails the batch loudly ([[RoundStream.sign]]). */
  def processBatch(batch: DataFrame, batchId: Long, indexRoot: String): Unit = {
    val inst = batch.select(col("doc_id"),
      RoundStream.sign(col("op"), "postings").as("sign"), col("text"))
    val s = batch.sparkSession
    new PostingsStore(s, s"$indexRoot/postings").appendSignedRound(inst, batchId)
    new CorpusStatsStore(s, s"$indexRoot/stats").appendSignedRound(inst, batchId)
    graft.ops.RoundMarker.write(s,
      graft.ops.PostingsIndex.completionMarker(indexRoot), batchId)
  }

  /** Drain everything currently in `docsDir` into the index at
    * `indexRoot` (one signed round per micro-batch). */
  def start(spark: SparkSession, docsDir: String, indexRoot: String,
            checkpointDir: String): StreamingQuery =
    RoundStream.drain(spark, docSchema, docsDir, checkpointDir, "graft_postings_stream") {
      processBatch(_, _, indexRoot)
    }
}
