package graft.streaming

import graft.ops.{Boilerplate, BoilerplateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The streaming half of incremental boilerplate removal: documents
  * arrive as parquet files, and every micro-batch (1) cuts its
  * documents against the STANDING stored block frequencies — strictly
  * prior rounds — PLUS the batch's own counts, and (2) commits its
  * own frequency partial as the batch's `ingest_round` partition.
  * This is the q67c operator running continuously: cost per batch is
  * O(delta) block work plus one read of the stored table, the
  * standing corpus is never re-scanned, and the artifact
  * ([[BoilerplateStore]]) grows one partition per batch.
  *
  * Cut semantics over a stream are PREFIX semantics by construction:
  * a batch's documents are judged against everything ingested so far
  * (prior rounds + the batch itself), so a template block is cut from
  * the first batch where its corpus-wide frequency crosses the
  * threshold and from every batch after — earlier already-emitted
  * documents are not retroactively re-cut (re-running the batch q67
  * over the full corpus is the compaction that reconciles history,
  * exactly as the warehouse compacts fact increments).
  *
  * Exactly-once discipline and CONTRACT BOUNDARY are identical to
  * [[StreamingNearDup]]: both writes are keyed by the deterministic
  * batchId (dynamic-partition OVERWRITES), the cut counts only rounds
  * < batchId from the store so a replay whose frequency round already
  * landed never double-counts itself, and the guarantee assumes a
  * surviving checkpoint — the cleaned dir, store, and checkpoint are
  * ONE atom to delete together on checkpoint loss. */
object StreamingBoilerplate {

  /** One micro-batch: emit the cleaned form of the batch's documents
    * (cut against prior rounds + self), then commit the batch's
    * frequency round. Public and deterministic in (batch, batchId) so
    * the replay contract is directly testable. */
  def processBatch(batch: DataFrame, batchId: Long,
                   storePath: String, cleanedDir: String): Unit = {
    val store = new BoilerplateStore(batch.sparkSession, storePath)
    val cleaned =
      if (store.exists)
        store.cutDelta(batch, beforeRound = Some(batchId))
      else // first batch: nothing standing, judge the batch by itself
        Boilerplate.removeBoilerplate(batch.select(col("doc_id"), col("text")))
    graft.ops.RoundPartitions.commit(cleaned, cleanedDir, batchId)
    store.appendRound(batch, batchId)
  }

  /** Drain everything currently in `docsDir` (one AvailableNow run =
    * one ingest round per micro-batch), writing cleaned documents to
    * `cleanedDir` and maintaining the frequency store at `storePath`. */
  def start(spark: SparkSession, docsDir: String, storePath: String,
            cleanedDir: String, checkpointDir: String): StreamingQuery =
    RoundStream.drain(spark, StreamingNearDup.docSchema, docsDir, checkpointDir,
        "graft_boilerplate_stream") {
      processBatch(_, _, storePath, cleanedDir)
    }
}
