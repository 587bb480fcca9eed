package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The incremental-PQ store contract (q31e): codebooks FREEZE at index
  * creation, deltas encode with the stored books only, round commits
  * are idempotent, and the audit accounts for every vector exactly
  * once. Runs against a private copy of the sf0.001 corpus so the
  * shared per-(JVM, corpus) scratch key of the real testdata dirs is
  * never touched. */
class PqIndexSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def corpusCopy(): String = {
    val dir = tmpDir("pq-inc")
    Seq("documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("q31e: frozen books, delta-only round 1, exactly one code per vector") {
    val dir = corpusCopy()
    val out = Similarity.pqIncremental(spark, dir).collect()
    assert(out.length == Similarity.pqBlocks)
    val nCorpus = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val (_, wm) = ScratchStores.corpusKey(graft.Tables.documents(spark, dir), dir)
    val nDelta = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") > wm).count()
    out.foreach { r =>
      assert(r.getAs[Long]("n_corpus_vecs") == nCorpus)
      assert(r.getAs[Long]("n_delta_vecs") == nDelta)
      assert(nDelta > 0, "watermark split must leave a real delta")
      val used = r.getAs[Long]("n_codes_used")
      assert(used >= 1 && used <= Similarity.pqCodebookSize)
      assert(used > 1, s"block ${r.getAs[Int]("block")} degenerated to one code")
    }
    // the store: rounds {0, 1}, vec-disjoint, covering the corpus once
    val (ck, _) = ScratchStores.corpusKey(graft.Tables.documents(spark, dir), dir)
    val path = ScratchStores.pathFor(ck, "graft-pq-index")(_ => ())
    val store = new PqIndexStore(spark, path)
    val idx = store.rounds().collect()
    assert(idx.length == nCorpus)
    assert(idx.map(_.getAs[Long]("vec_id")).distinct.length == nCorpus,
      "a vector must carry exactly one code row")

    // FREEZE: books bytes and audit are identical after a re-run (the
    // re-run re-appends round 1 — idempotent partition overwrite)
    val books1 = store.readBooks()
    val out2 = Similarity.pqIncremental(spark, dir).collect()
    val books2 = store.readBooks()
    assert(books1.map(_.map(_.toSeq).toSeq).toSeq ==
      books2.map(_.map(_.toSeq).toSeq).toSeq, "codebooks must never retrain")
    assert(out.map(_.toSeq).toSeq == out2.map(_.toSeq).toSeq,
      "re-run must be byte-identical (idempotent round commit)")
    assert(store.rounds().count() == nCorpus, "re-append duplicated code rows")

    // the delta's stored codes really come from the FROZEN books: a
    // driver-side re-encode of one delta vector with readBooks() must
    // match its stored code
    val sample = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") > wm).orderBy(col("vec_id")).limit(1)
      .collect().head
    val vid = sample.getAs[Long]("vec_id")
    val vec = sample.getSeq[Float](sample.fieldIndex("embedding"))
      .map(_.toDouble).toArray
    val dsub = math.max(1, vec.length / Similarity.pqBlocks)
    val wantCode = books1.zipWithIndex.map { case (book, b) =>
      val sub = vec.slice(b * dsub, b * dsub + book.head.length)
      val cid = book.zipWithIndex.minBy { case (c, i) =>
        (c.zip(sub).map { case (x, y) => (x - y) * (x - y) }.sum, i)
      }._2
      cid.toLong << (8 * b)
    }.sum
    val gotCode = store.rounds().filter(col("vec_id") === vid)
      .collect().head.getAs[Long]("code")
    assert(gotCode == wantCode,
      s"stored code $gotCode != frozen-book re-encode $wantCode")
  }
}
