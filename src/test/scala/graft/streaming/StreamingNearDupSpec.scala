package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class StreamingNearDupSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("micro-batches index incrementally and pair only against prior rounds") {
    val root = tmpDir("snd")
    val docsDir = s"$root/docs"
    // wave 1: the standing corpus
    docs(1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "completely unrelated text lives entirely inside this document")
      .write.parquet(docsDir)
    StreamingNearDup.start(spark, docsDir, s"$root/index", s"$root/pairs", s"$root/ckpt")
      .awaitTermination()
    val store = new graft.ops.NearDupIndexStore(spark, s"$root/index")
    assert(store.rounds().count() == 2)
    // round 0 has nothing standing before it: no pairs (the empty
    // partitioned write leaves no footer, so pin the schema)
    val pairsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("new_doc", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("old_doc", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("jaccard", org.apache.spark.sql.types.DoubleType)))
    assert(spark.read.schema(pairsSchema).parquet(s"$root/pairs").count() == 0)

    // wave 2: a near-copy of doc 1 arrives
    docs(10L -> "alpha beta gamma delta epsilon zeta eta iota")
      .write.mode("append").parquet(docsDir)
    StreamingNearDup.start(spark, docsDir, s"$root/index", s"$root/pairs", s"$root/ckpt")
      .awaitTermination()
    assert(store.rounds().count() == 3)
    val pairs = spark.read.parquet(s"$root/pairs")
      .select("new_doc", "old_doc").as[(Long, Long)].collect().toSet
    assert(pairs == Set((10L, 1L)), s"expected the planted cross-wave pair, got $pairs")
  }

  test("a re-delivered batch replays idempotently (pairs and index round overwritten)") {
    val root = tmpDir("snd")
    val store = new graft.ops.NearDupIndexStore(spark, s"$root/index")
    StreamingNearDup.processBatch(
      docs(1L -> "alpha beta gamma delta epsilon zeta eta theta"),
      batchId = 0L, s"$root/index", s"$root/pairs")
    val delta = docs(10L -> "alpha beta gamma delta epsilon zeta eta iota")
    StreamingNearDup.processBatch(delta, 1L, s"$root/index", s"$root/pairs")
    val once = spark.read.parquet(s"$root/pairs")
      .select("new_doc", "old_doc").as[(Long, Long)].collect().toSet
    assert(once == Set((10L, 1L)))
    assert(store.rounds().count() == 2)
    // foreachBatch is at-least-once: the SAME batch id arrives again
    // AFTER its index round already landed. The round bound must stop
    // self-pairing and both writes must replace, not append.
    StreamingNearDup.processBatch(delta, 1L, s"$root/index", s"$root/pairs")
    val twice = spark.read.parquet(s"$root/pairs")
      .select("new_doc", "old_doc").as[(Long, Long)].collect().toSet
    assert(twice == once, "replay changed the pair set")
    assert(spark.read.parquet(s"$root/pairs").count() == 1, "replay duplicated pairs")
    assert(store.rounds().count() == 2, "replay duplicated index rows")
  }
}
