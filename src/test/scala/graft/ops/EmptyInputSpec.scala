package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins the zero-row contract the EmptySweep tool
  * (graft.tools.EmptySweep) audits across the whole catalog: on an
  * empty corpus every operator returns an empty (or well-defined
  * constant) result instead of crashing. "Empty" is a normal state at
  * scale — a partition filter that matched nothing today, a
  * micro-batch with no qualifying rows — so each of the three crash
  * classes the first sweep found is pinned here at its root:
  *
  *  1. round-partitioned stores: dynamic partition overwrite writes NO
  *     files for a zero-row round, leaving a directory schema
  *     inference cannot read back ([[RoundPartitions.commit]]);
  *  2. the IVF quantizer: spark.ml KMeans aborts on an empty fit
  *     ([[Similarity.ivfCentroids]]);
  *  3. integer PageRank: mass/n divides by zero on an empty graph
  *     ([[Graphs]] q127).
  */
class EmptyInputSpec extends SparkTestBase {
  import spark.implicits._

  private def emptyDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("an empty ingest round still leaves the near-dup index store readable") {
    val path = tmpDir("empty-ndi") + "/store"
    val store = new NearDupIndexStore(spark, path)
    store.appendRound(emptyDocs, 0L)
    assert(store.rounds().count() === 0)
    // and a later real round reads back merged with the empty one
    store.appendRound(Seq((1L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text"), 1L)
    assert(store.rounds().filter(col("ingest_round") === 1L).count() > 0)
    assert(store.rounds().filter(col("ingest_round") === 0L).count() === 0)
  }

  test("an empty round commits a schema-bearing partition (typed readback)") {
    val path = tmpDir("empty-rp") + "/art"
    RoundPartitions.commit(emptyDocs, path, 0L)
    val back = spark.read.parquet(path)
    assert(back.count() === 0)
    assert(back.columns.toSet === Set("doc_id", "text", "ingest_round"))
    assert(back.schema("doc_id").dataType.typeName === "long")
  }

  test("ivfCentroids on an empty corpus yields one zero centroid") {
    val emb = Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(emb, "embedding", 16)
    assert(cents.length === 1)
    assert(cents.head.forall(_ == 0.0))
    // and assignment over the degenerate quantizer stays well-formed
    val assigned = emb.withColumn("cell",
      Similarity.ivfAssign(col("embedding"), cents))
    assert(assigned.count() === 0)
  }

  test("pageRank and BFS over an empty trade graph return empty, not a crash") {
    val dir = tmpDir("empty-graph")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    assert(Graphs.pageRank(spark, dir).count() === 0)
    assert(Graphs.tradeBfs(spark, dir).count() === 0)
  }
}
