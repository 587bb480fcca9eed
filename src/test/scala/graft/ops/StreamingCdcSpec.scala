package graft.ops

import graft.SparkTestBase
import graft.streaming.StreamingCdc
import org.apache.spark.sql.functions._

/** The streaming CDC pipeline (13th): micro-batches commit compacted
  * rounds, the folded snapshot matches the q202 batch apply, and
  * at-least-once redelivery is a no-op. */
class StreamingCdcSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("streamed changelog waves converge to the q202 batch snapshot") {
    val log = Cdc.eventChangelog(spark, sf)
    val batchLive = Cdc.live(Cdc.compact(log, StreamingCdc.key, "ts", "event_id"))
      .select(col("user_id"), col("cents"), col("event_id"))
      .as[(Long, Long, Long)].collect().toSet

    val root = tmpDir("scdc")
    val logDir = s"$root/log"
    val storePath = s"$root/snap"
    // two waves split by event id PARITY — both span the full time
    // range, so the second micro-batch rewinds time relative to the
    // first; convergence is the tombstone algebra at work
    log.filter(col("event_id") % 2 === 0).write.parquet(logDir)
    StreamingCdc.start(spark, logDir, storePath, s"$root/ckpt").awaitTermination()
    log.filter(col("event_id") % 2 === 1).write.mode("append").parquet(logDir)
    StreamingCdc.start(spark, logDir, storePath, s"$root/ckpt").awaitTermination()

    val store = new CdcSnapshotStore(spark, storePath, StreamingCdc.key, "ts", "event_id")
    val streamed = Cdc.live(store.state())
      .select(col("user_id"), col("cents"), col("event_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batchLive, "streamed snapshot diverged from the batch fold")

    // at-least-once: re-deliver batch 0 by hand — round replaced, not duplicated
    StreamingCdc.processBatch(log.filter(col("event_id") % 2 === 0), batchId = 0L, storePath)
    val replayed = Cdc.live(store.state())
      .select(col("user_id"), col("cents"), col("event_id"))
      .as[(Long, Long, Long)].collect().toSet
    assert(replayed == batchLive, "redelivery changed the snapshot")
    // exactly one surviving row per key in the folded state
    val snap = store.state()
    assert(snap.groupBy("user_id").count().filter(col("count") > 1).isEmpty)
  }
}
