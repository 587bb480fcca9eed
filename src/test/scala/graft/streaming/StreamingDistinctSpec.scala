package graft.streaming

import graft.SparkTestBase
import graft.ops.HllDistinctStore
import org.apache.spark.sql.functions._

class StreamingDistinctSpec extends SparkTestBase {
  import spark.implicits._

  private def events(rows: (Long, Long, String)*) =
    rows.toDF("event_id", "user_id", "event_type")

  test("micro-batches append sketch rounds; estimates track exact distincts") {
    val root = tmpDir("sdist")
    val eventsDir = s"$root/events"
    val auditPath = s"$root/audit.jsonl"
    val audit = StreamAudit.attach(spark, auditPath)
    events((1L, 1L, "view"), (2L, 2L, "view"), (3L, 1L, "click"))
      .write.parquet(eventsDir)
    try {
      StreamingDistinct.start(spark, eventsDir, s"$root/sk", s"$root/ckpt")
        .awaitTermination()
      // the audit sink attributes the batch to the named query and
      // records its input rows (delivery is async — poll)
      assert(StreamAudit.awaitLines(auditPath, "graft_distinct_stream", 1),
        "audit line for the distinct stream never arrived")
      val m = StreamAudit.metrics(spark, auditPath)
        .filter(col("query") === "graft_distinct_stream").collect()
      assert(m.map(_.getAs[Long]("input_rows")).sum == 3L,
        s"audited input rows diverge: ${m.toSeq}")
    } finally audit.detach()
    val est0 = StreamingDistinct.estimates(spark, s"$root/sk")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est0 == Map("view" -> 2L, "click" -> 1L))

    // wave 2: overlapping users — union must dedup across rounds
    events((10L, 1L, "view"), (11L, 3L, "view"), (12L, 2L, "click"))
      .write.mode("append").parquet(eventsDir)
    StreamingDistinct.start(spark, eventsDir, s"$root/sk", s"$root/ckpt")
      .awaitTermination()
    val est = StreamingDistinct.estimates(spark, s"$root/sk")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("view" -> 3L, "click" -> 2L),
      s"cross-round union must dedup user ids: $est")
  }

  test("a replayed batch overwrites its own round — estimates never double") {
    val root = tmpDir("sdist-replay")
    val store = new HllDistinctStore(spark, s"$root/sk")
    val batch = events((1L, 1L, "view"), (2L, 2L, "view"))
    StreamingDistinct.processBatch(batch, 0L, s"$root/sk")
    StreamingDistinct.processBatch(batch, 0L, s"$root/sk") // redelivery
    val est = StreamingDistinct.estimates(spark, s"$root/sk")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == Map("view" -> 2L))
    // and the store holds exactly one round, not two
    assert(store.rounds().select("ingest_round").distinct().count() == 1L)
  }
}
