package graft.ops

import graft.SparkTestBase
import graft.streaming.StreamingPq
import org.apache.spark.sql.functions._

/** The streaming PQ delta-encode contract (NOTES r10 #2 / the 12th
  * pipeline): frozen books are REUSED across micro-batches, round
  * commits replay idempotently, a bookless store fails loudly, and the
  * streamed index is row-identical to the q31e batch build. */
class StreamingPqSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def corpusCopy(): String = {
    val dir = tmpDir("spq-corpus")
    Seq("documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private def booksEq(a: Array[Array[Array[Double]]],
                      b: Array[Array[Array[Double]]]): Boolean =
    a.map(_.map(_.toSeq).toSeq).toSeq == b.map(_.map(_.toSeq).toSeq).toSeq

  test("streamed delta-encode: frozen books across batches, batch parity with q31e") {
    val dir = corpusCopy()
    // the BATCH index (q31e): frozen books + base round 0 + delta round 1
    Similarity.pqIncremental(spark, dir).collect()
    val (key, wm) = ScratchStores.corpusKey(graft.Tables.documents(spark, dir), dir)
    val batchPath = ScratchStores.pathFor(key, "graft-pq-index")(_ => ())
    val batchStore = new PqIndexStore(spark, batchPath)
    val books = batchStore.readBooks()
    val batchIdx = batchStore.rounds().select(col("vec_id"), col("code"))
      .as[(Long, Long)].collect().toSet

    // the STREAMING index: SAME frozen books + same base round; the
    // delta arrives as two waves -> two micro-batches -> rounds 1, 2
    val root = tmpDir("spq-stream")
    val storePath = s"$root/index"
    val store = new PqIndexStore(spark, storePath)
    store.writeBooks(books)
    val dim = books.map(_.head.length).sum
    val emb = graft.Tables.embeddings(spark, dir)
    store.appendRound(emb.filter(col("vec_id") <= wm).select(col("vec_id"),
      Similarity.pqEncode(col("embedding"), books, dim).as("code")), round = 0L)
    val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
    val cut = wm + (maxId - wm) / 2
    val wave1 = emb.filter(col("vec_id") > wm && col("vec_id") <= cut)
    val wave2 = emb.filter(col("vec_id") > cut)
    assert(wave1.count() > 0 && wave2.count() > 0,
      "the delta must split into two non-empty waves")
    val vecsDir = s"$root/vecs"
    wave1.write.parquet(vecsDir)
    StreamingPq.start(spark, vecsDir, storePath, s"$root/ckpt").awaitTermination()
    assert(booksEq(store.readBooks(), books),
      "books changed after the first streamed batch — the freeze is broken")
    wave2.write.mode("append").parquet(vecsDir)
    StreamingPq.start(spark, vecsDir, storePath, s"$root/ckpt").awaitTermination()
    assert(booksEq(store.readBooks(), books),
      "books changed after the second streamed batch — the freeze is broken")

    // parity: the streamed index holds exactly the batch build's codes
    val streamIdx = store.rounds().select(col("vec_id"), col("code"))
      .as[(Long, Long)].collect().toSet
    assert(streamIdx == batchIdx,
      "streamed index diverged from the q31e batch build")
    // and the delta really landed as two streamed rounds after base 0
    val rounds = store.rounds().select(col("ingest_round"))
      .distinct().as[Long].collect().toSet
    assert(rounds == Set(0L, 1L, 2L), s"unexpected round layout: $rounds")
  }

  test("a re-delivered batch replays idempotently (round overwritten, not appended)") {
    val dir = corpusCopy()
    val root = tmpDir("spq-replay")
    val storePath = s"$root/index"
    val emb = graft.Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") < 100)
    val books = Similarity.pqCodebooks(base, "embedding")
    val dim = books.map(_.head.length).sum
    val store = new PqIndexStore(spark, storePath)
    store.writeBooks(books)
    store.appendRound(base.select(col("vec_id"),
      Similarity.pqEncode(col("embedding"), books, dim).as("code")), round = 0L)
    val delta = emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    StreamingPq.processBatch(delta, batchId = 0L, storePath)
    val once = store.rounds().select(col("vec_id"), col("code"), col("ingest_round"))
      .as[(Long, Long, Long)].collect().toSet
    // foreachBatch is at-least-once: the SAME batchId arrives again
    // after its round already landed — the commit must replace itself
    StreamingPq.processBatch(delta, batchId = 0L, storePath)
    val twice = store.rounds().select(col("vec_id"), col("code"), col("ingest_round"))
      .as[(Long, Long, Long)].collect().toSet
    assert(twice == once, "replay changed the index")
    assert(store.rounds().count() == 150, "replay duplicated code rows")
  }

  test("a wrong-width streamed vector fails the batch loudly, committing nothing (ADVICE r11)") {
    val root = tmpDir("spq-width")
    val storePath = s"$root/index"
    val emb = (0L until 50L).map { i =>
      val r = new scala.util.Random(i)
      (i, Array.fill(16)(r.nextFloat()), 0)
    }.toDF("vec_id", "embedding", "label")
    val books = Similarity.pqCodebooks(emb, "embedding")
    val dim = books.map(_.head.length).sum
    val store = new PqIndexStore(spark, storePath)
    store.writeBooks(books)
    store.appendRound(emb.select(col("vec_id"),
      Similarity.pqEncode(col("embedding"), books, dim).as("code")), round = 0L)
    val before = store.rounds().count()
    // PqEncode's dim-based offsets would zero-pad this 9-wide vector
    // into a syntactically valid but garbage code — the stream must
    // reject it before it freezes into the index
    val bad = Seq((100L, Array.fill(9)(0.1f), 0)).toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      StreamingPq.processBatch(bad, batchId = 0L, storePath)
    }
    val chain = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString("|")
    assert(chain.contains("frozen-book dim"), s"unexpected failure: $chain")
    assert(store.rounds().count() == before, "the failed batch committed rows")
  }

  test("a bookless store fails loudly instead of training per-batch books") {
    val root = tmpDir("spq-bookless")
    val delta = Seq((1L, Array.fill(64)(0.1f), 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalStateException] {
      StreamingPq.processBatch(delta, batchId = 0L, s"$root/index")
    }
    assert(e.getMessage.contains("no frozen books"))
  }
}
