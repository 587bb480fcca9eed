package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The STORED half of the incremental near-dup operator (VERDICT r3
  * "What's missing" #2): a persistent parquet artifact holding the
  * blocked-shingle index `(doc_id, fp, sh)` of the standing corpus,
  * appended once per ingest round and read — not recomputed — by
  * every delta-dedup round.
  *
  * Lifecycle discipline mirrors the warehouse fact sink
  * ([[graft.flights.StarWarehouse]]): each ingest round's index rows
  * land in their own `ingest_round=N` partition via a dynamic
  * partition OVERWRITE, so a crashed/retried round REPLACES its own
  * partial write instead of appending beside it — the store never
  * holds a document's index row twice no matter how many times a
  * round retries.
  *
  * Scale: the index carries hashed shingles (int64 arrays), not text
  * — it is a small fixed fraction of corpus bytes — and the delta
  * pair join reads it pre-filtered on the delta's own block keys
  * (`fp` equi-join), so a dedup round's cost is O(delta x bucket
  * collisions), never O(corpus). Compacting old rounds into one
  * partition is a pure layout optimization (round partitions are
  * content-disjoint by doc_id); not needed until round count rivals
  * file-listing cost.
  */
class NearDupIndexStore(spark: SparkSession, path: String)
    extends RoundStore(spark, path, RoundStore.appendOnly) {

  /** Index `docs` (doc_id, text) and commit them as ingest round
    * `round` — idempotent under retry (partition overwrite). */
  def appendRound(docs: DataFrame, round: Long): Unit =
    commitRound(
      Dedup.fpShingleIndex(docs.select(col("doc_id"), col("text"))), round)

  /** Near-dup pairs between an ingest DELTA and the standing corpus:
    * the delta is indexed on the fly (it is the data in hand); the
    * corpus side comes from the stored artifact only. Returns
    * (new_doc, old_doc, jaccard >= threshold).
    *
    * `beforeRound` restricts the corpus side to rounds strictly below
    * it — the replay guard for streaming use: a re-delivered micro-
    * batch whose own round already landed must not pair against
    * itself (partition pruning makes the bound free). */
  def newPairsAgainst(delta: DataFrame, threshold: Double = 0.5,
                      beforeRound: Option[Long] = None): DataFrame = {
    val deltaIdx = Dedup.fpShingleIndex(delta.select(col("doc_id"), col("text")))
      .select(col("fp"), col("doc_id").as("new_doc"), col("sh").as("sh_n"))
    val corpusIdx = state(beforeRound)
      .select(col("fp"), col("doc_id").as("old_doc"), col("sh").as("sh_o"))
    deltaIdx.join(corpusIdx, Seq("fp"))
      // defensive sort on the STORED side: rounds persisted before the
      // sorted-emission contract (r9) hold unsorted arrays; sorting an
      // already-sorted array is cheap and pairs here are block-bounded
      .withColumn("jaccard",
        Dedup.jaccardOfSorted(col("sh_n"), array_sort(col("sh_o"))))
      .filter(col("jaccard") >= threshold)
      .select(col("new_doc"), col("old_doc"), col("jaccard"))
  }
}
