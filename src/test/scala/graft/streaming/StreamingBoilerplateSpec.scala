package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class StreamingBoilerplateSpec extends SparkTestBase {
  import spark.implicits._

  private val header = "alpha beta gamma delta epsilon zeta eta theta" // one 8-token block

  private def docs(rows: (Long, String)*) =
    rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("micro-batches cut against prior rounds plus self; store grows per round") {
    val root = tmpDir("sbp")
    val docsDir = s"$root/docs"
    // wave 1: the template appears once — below threshold, kept whole
    docs(1L -> s"$header unique tail one two three four five six",
      2L -> "completely unrelated text lives entirely inside this document today")
      .write.parquet(docsDir)
    StreamingBoilerplate.start(spark, docsDir, s"$root/freqs", s"$root/clean", s"$root/ckpt")
      .awaitTermination()
    val clean0 = spark.read.parquet(s"$root/clean")
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    assert(clean0 == Map(1L -> 0L, 2L -> 0L))

    // wave 2: the template recurs — corpus-wide frequency crosses the
    // threshold, so the NEW doc loses the header block
    docs(10L -> s"$header its own different suffix seven eight nine ten")
      .write.mode("append").parquet(docsDir)
    StreamingBoilerplate.start(spark, docsDir, s"$root/freqs", s"$root/clean", s"$root/ckpt")
      .awaitTermination()
    val clean = spark.read.parquet(s"$root/clean")
    val byDoc = clean.select("doc_id", "n_removed", "cleaned_text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // prefix semantics: wave-1 docs are not retroactively re-cut
    assert(byDoc(1L)._1 == 0L)
    assert(byDoc(10L) == ((1L, "its own different suffix seven eight nine ten")))
    // the store holds one frequency round per batch
    val store = new graft.ops.BoilerplateStore(spark, s"$root/freqs")
    assert(store.rounds().select("ingest_round").distinct().count() == 2)
  }

  test("a re-delivered batch replays idempotently (cut and round overwritten)") {
    val root = tmpDir("sbp")
    StreamingBoilerplate.processBatch(
      docs(1L -> s"$header first wave payload body here right now"),
      batchId = 0L, s"$root/freqs", s"$root/clean")
    val delta = docs(10L -> s"$header second wave other body text goes here")
    StreamingBoilerplate.processBatch(delta, 1L, s"$root/freqs", s"$root/clean")
    def snapshot() = spark.read.parquet(s"$root/clean")
      .select("doc_id", "n_removed", "cleaned_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val once = snapshot()
    assert(once.exists { case (id, cut, _) => id == 10L && cut == 1L },
      "cross-round template must be cut from the delta")
    // foreachBatch is at-least-once: the SAME batch id arrives again
    // AFTER its frequency round already landed. The round bound must
    // stop double-counting and both writes must replace, not append.
    StreamingBoilerplate.processBatch(delta, 1L, s"$root/freqs", s"$root/clean")
    assert(snapshot() == once, "replay changed the cleaned output")
    val store = new graft.ops.BoilerplateStore(spark, s"$root/freqs")
    assert(store.state().agg(sum("n_docs")).head().getLong(0) == 4L,
      "replayed round double-counted its block frequencies")
  }
}
