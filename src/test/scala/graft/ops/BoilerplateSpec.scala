package graft.ops

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class BoilerplateSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("synthetic template: a header block shared across docs is cut, tails survive") {
    val header = "alpha beta gamma delta epsilon zeta eta theta" // exactly 8 tokens
    val docs = Seq(
      (1L, s"$header one two three four five six seven eight"),
      (2L, s"$header nine ten eleven twelve thirteen fourteen fifteen sixteen"),
      (3L, s"$header a b c d e f g h"),
      (4L, "nothing here repeats anywhere else in this tiny corpus today")
    ).toDF("doc_id", "text")
    val out = Boilerplate.removeBoilerplate(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned_text"))).toMap
    assert(out(1L) == ((2L, 1L, "one two three four five six seven eight")))
    assert(out(2L) == ((2L, 1L, "nine ten eleven twelve thirteen fourteen fifteen sixteen")))
    assert(out(3L) == ((2L, 1L, "a b c d e f g h")))
    // 10 tokens -> 2 blocks, both unique -> full normalized text back
    assert(out(4L) == ((2L, 0L,
      "nothing here repeats anywhere else in this tiny corpus today")))
  }

  test("identical documents are cut to nothing") {
    val docs = Seq(
      (1L, "copy of the same press release body exactly verbatim"),
      (2L, "copy of the same press release body exactly verbatim"),
      (3L, "copy of the same press release body exactly verbatim")
    ).toDF("doc_id", "text")
    val out = Boilerplate.removeBoilerplate(docs).collect()
    assert(out.length == 3)
    assert(out.forall(r => r.getAs[Long]("n_removed") == r.getAs[Long]("n_blocks")))
    assert(out.forall(_.getAs[String]("cleaned_text") == ""))
  }

  test("corpus invariants hold; untouched docs reconstruct exactly") {
    val docs = Tables.documents(spark, sf)
    val out = Boilerplate.removeBoilerplate(docs)
    assert(out.count() == docs.count())
    val joined = docs.select(col("doc_id"), col("text")).join(out, Seq("doc_id"))
    // invariant: the cut never removes more than exists
    assert(joined.filter(col("n_removed") > col("n_blocks")).count() == 0)
    // the planted near-dup families share their full leading blocks, so
    // the cut must fire somewhere on this corpus
    assert(joined.filter(col("n_removed") > 0).count() > 0)
    // docs with nothing removed rebuild their exact normalized text
    val untouched = joined.filter(col("n_removed") === 0)
      .withColumn("norm",
        array_join(split(lower(trim(col("text"))), "\\s+"), " "))
    assert(untouched.count() > 0)
    assert(untouched.filter(col("cleaned_text") =!= col("norm")).count() == 0)
  }

  test("store: rounds sum additively and a retried round replaces its own partition") {
    val path = tmpDir("boiler-store") + "/freqs"
    val r0 = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val r1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "totally different words in this one right here now")
    ).toDF("doc_id", "text")
    val store = new BoilerplateStore(spark, path)
    store.appendRound(r0, 0L)
    store.appendRound(r1, 1L)
    def freqMap = store.state().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = Boilerplate.blockFreqs(r0.unionByName(r1)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(freqMap == direct, "summed round counts differ from the batch count")
    // a re-delivered round overwrites its own partition, never doubles
    store.appendRound(r1, 1L)
    assert(freqMap == direct, "retried round double-counted")
  }

  test("incremental cut equals the batch cut restricted to the delta") {
    val standing = Seq(
      (1L, "common header words one two three four five uniq1 tail"),
      (2L, "common header words one two three four five uniq2 tail")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "common header words one two three four five uniq3 tail"),
      (11L, "nothing shared with anything else in this corpus at all")
    ).toDF("doc_id", "text")
    val path = tmpDir("boiler-store2") + "/freqs"
    val store = new BoilerplateStore(spark, path)
    store.appendRound(standing, 0L)
    val inc = store.cutDelta(delta).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned_text"))).toMap
    val batch = Boilerplate.removeBoilerplate(standing.unionByName(delta))
      .filter(col("doc_id") >= 10L).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned_text"))).toMap
    assert(inc == batch, "incremental cut diverges from the batch definition")
    // the shared 8-token header block must be cut from the delta doc
    assert(inc(10L)._2 >= 1)
    assert(inc(11L)._2 == 0)
  }

  test("top-template report is doc-frequency ranked and threshold-filtered") {
    val top = Boilerplate.boilerplateTop(spark, sf).collect()
    assert(top.nonEmpty)
    assert(top.forall(_.getAs[Long]("n_docs") >= Boilerplate.minDocs))
    val nd = top.map(_.getAs[Long]("n_docs")).toSeq
    assert(nd == nd.sorted.reverse, "not ranked by doc frequency")
    assert(top.forall(r => r.getAs[Long]("n_occurrences") >= r.getAs[Long]("n_docs")))
  }

  test("q67d recall audit: planted templates cut (recall 1.0), unique filler kept (over-cut 0.0)") {
    val rows = Boilerplate.boilerplateRecall(spark, sf).collect()
    assert(rows.length == 3, "expected all three planted families")
    rows.foreach { r =>
      // each family must have >= minDocs members or its template
      // would legitimately survive and the audit proves nothing
      assert(r.getAs[Long]("n_planted") >= Boilerplate.minDocs,
        s"family ${r.getAs[Long]("family")} too small to plant")
      assert(r.getAs[Double]("template_recall") == 1.0,
        s"cut missed planted templates: $r")
      assert(r.getAs[Double]("overcut_rate") == 0.0,
        s"cut removed unique planted content: $r")
      assert(r.getAs[Long]("n_template_cut") == r.getAs[Long]("n_planted"))
      assert(r.getAs[Long]("n_filler_cut") == 0L)
    }
  }

  test("null-text docs emit no blocks and no output rows (ADVICE r5)") {
    // without the isNotNull guard, size(toks) = -1 makes
    // sequence(0, -1) the DESCENDING [0, -1] — two spurious rows the
    // DuckDB oracle never produces
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    assert(Boilerplate.hashedBlockView(docs)
      .filter(col("doc_id") === 3L).count() == 0)
    val out = Boilerplate.removeBoilerplate(docs)
    assert(out.filter(col("doc_id") === 3L).count() == 0)
    assert(out.count() == 2)
  }

  test("top-k is tie-exact: boundary ties resolve by block string, not hash order") {
    // 25 template blocks ALL tied at n_docs = 2 — more ties than k =
    // 20, so a top-k taken on hash order would pick a different (and
    // oracle-divergent) boundary set than the (n_docs DESC, block ASC)
    // output order. The threshold plan must return the 20
    // lexicographically-smallest blocks.
    val templates = (0 until 25).map(i =>
      f"tpl$i%02d alpha bravo charlie delta echo foxtrot golf")
    val docs = templates.zipWithIndex.flatMap { case (t, i) =>
      Seq((i * 2L, t), (i * 2L + 1L, t))
    }.toDF("doc_id", "text")
    val dir = tmpDir("boiler-ties")
    docs.write.parquet(s"$dir/documents.parquet")
    val top = Boilerplate.boilerplateTop(spark, dir).collect()
    assert(top.length == 20)
    assert(top.map(_.getAs[String]("block")).toSeq == templates.sorted.take(20))
    assert(top.forall(_.getAs[Long]("n_docs") == 2L))
    assert(top.forall(_.getAs[Long]("n_occurrences") == 2L))
    Dedup.releaseSketchCaches()
  }

  test("top-k plan never exchanges on the block string (VERDICT r5 #2)") {
    val dir = "/root/testdata/sf0.001"
    val plan = Boilerplate.boilerplateTop(spark, dir)
      .queryExecution.executedPlan.toString
    // the frequency agg must partition on the hash, not the string
    val stringExchange = plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("block#"))
    assert(!stringExchange,
      s"block-string exchange present — top-k not id-keyed:\n$plan")
    // and the candidate hash set reaches the string scan as a broadcast
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate-hash join is not a broadcast:\n$plan")
    Dedup.releaseSketchCaches()
  }
}
