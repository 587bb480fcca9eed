package graft.streaming

import graft.ops.{PqIndexStore, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The streaming half of incremental PQ indexing (NOTES r10 #2, the
  * 12th pipeline): vectors arrive as parquet files, and every
  * micro-batch encodes ITS OWN rows with the store's FROZEN codebooks
  * and commits them as one ingest-round partition of the
  * [[graft.ops.PqIndexStore]] — the q31e operator running
  * continuously, mirroring [[StreamingNearDup]]'s shape. Cost per
  * batch is O(delta): one scan of the batch, 8 output bytes per
  * vector; the standing index is never re-read and the books are
  * never retrained (the store's core contract — retraining would
  * silently invalidate every stored code, so codebook drift is a
  * re-index event, not an append; q31e's audit columns are the drift
  * signal a curator watches).
  *
  * Exactly-once discipline, same as every round store: foreachBatch is
  * at-least-once, and the round commit is a dynamic-partition
  * OVERWRITE keyed on the deterministic streaming batchId — a
  * re-delivered batch REPLACES its own round instead of appending a
  * second copy. Streamed rounds start at `firstStreamRound`, so they
  * land AFTER the batch-built base round 0, exactly the q31e layout.
  *
  * PRECONDITION: the store must exist with books written (create it
  * with `writeBooks` + a base `appendRound`, or run q31e once); a
  * stream cannot train books because training reads a corpus and a
  * micro-batch is not one. [[processBatch]] fails loudly on a bookless
  * store rather than minting per-batch books that would corrupt the
  * index's comparability. The checkpoint/store pair is ONE atom on
  * checkpoint loss, as documented on [[StreamingNearDup]]. */
object StreamingPq {

  /** testdata `embeddings` layout (streaming sources need an explicit
    * schema; only vec_id + embedding are semantic to the encoder). */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Round 0 is the batch-built base index. */
  private val firstStreamRound: Long = 1L

  /** One micro-batch: encode with the FROZEN stored books, commit as
    * round `firstStreamRound + batchId`. Public and deterministic in
    * (batch, batchId) so the replay contract is directly testable. */
  def processBatch(batch: DataFrame, batchId: Long, storePath: String): Unit = {
    val spark = batch.sparkSession
    val store = new PqIndexStore(spark, storePath)
    val books =
      try store.readBooks()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"PQ store at $storePath has no frozen books — build the " +
              "index first (writeBooks + base appendRound, or one q31e " +
              "run); a stream must never train books", e)
      }
    // dim is a property of the frozen books (sum of block widths), not
    // of the batch. PqEncode computes block offsets from that trained
    // dim, so a wrong-width arriving vector would otherwise encode a
    // clamped/zero-padded code silently INTO THE FROZEN INDEX — reject
    // it loudly instead (ADVICE r11): one codegen'd branch per row, no
    // extra scan, and the failed batch never commits its round.
    val dim = books.map(_.head.length).sum
    val code = when(size(col("embedding")) === lit(dim),
        Similarity.pqEncode(col("embedding"), books, dim))
      .otherwise(raise_error(concat(
        lit("graft_pq_stream: arriving vector width "),
        size(col("embedding")).cast("string"),
        lit(s" != frozen-book dim $dim (vec_id "),
        col("vec_id").cast("string"),
        lit(") — fix the upstream schema; the index encodes nothing from this batch"))))
    store.appendRound(
      batch.select(col("vec_id"), code.as("code")),
      round = firstStreamRound + batchId)
  }

  /** Drain everything currently in `vecsDir` (one AvailableNow run =
    * one index round per micro-batch) into the PQ store at
    * `storePath`. */
  def start(spark: SparkSession, vecsDir: String, storePath: String,
            checkpointDir: String): StreamingQuery =
    RoundStream.drain(spark, vecSchema, vecsDir, checkpointDir, "graft_pq_stream") {
      processBatch(_, _, storePath)
    }
}
