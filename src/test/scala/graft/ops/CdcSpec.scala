package graft.ops

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The CDC apply algebra (q202): last-writer-wins with retained
  * tombstones is order-independent and idempotent, the live view
  * filters deletes, compaction is an aggregate (not a window), and the
  * durable store converges no matter how batches land. */
class CdcSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val key = Seq("user_id")

  // user 1: U(10) then D — deleted; user 2: D then later U(30) —
  // resurrected; user 3: single U(99); user 4: two Us, last wins
  private val log = Seq(
    (1L, ts("2024-01-01 00:00:00"), 1L, "U", 10L),
    (1L, ts("2024-01-03 00:00:00"), 4L, "D", 0L),
    (2L, ts("2024-01-01 00:00:00"), 2L, "D", 0L),
    (2L, ts("2024-01-04 00:00:00"), 5L, "U", 30L),
    (3L, ts("2024-01-02 00:00:00"), 3L, "U", 99L),
    (4L, ts("2024-01-02 00:00:00"), 6L, "U", 7L),
    (4L, ts("2024-01-05 00:00:00"), 7L, "U", 8L)
  ).toDF("user_id", "ts", "event_id", "op", "cents")

  private def liveState(snap: DataFrame): Map[Long, Long] =
    Cdc.live(snap).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("cents")).toMap

  test("LWW with tombstones: delete wins, later upsert resurrects, latest upsert wins") {
    val snap = Cdc.compact(log, key, "ts", "event_id")
    assert(snap.count() == 4, "one surviving row per key, tombstones included")
    assert(liveState(snap) == Map(2L -> 30L, 3L -> 99L, 4L -> 8L))
    // the delete survives AS A ROW — that's what buys order independence
    val u1 = snap.filter(col("user_id") === 1L).collect()
    assert(u1.length == 1 && u1.head.getAs[String]("op") == "D")
  }

  test("applyLog is order-independent and idempotent across arbitrary splits") {
    val empty = log.limit(0)
    val even = log.filter(col("event_id") % 2 === 0)
    val odd = log.filter(col("event_id") % 2 === 1)
    def state(df: DataFrame): Set[(Long, String, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("op"),
        r.getAs[Long]("event_id"), r.getAs[Long]("cents"))).toSet
    val oneShot = state(Cdc.compact(log, key, "ts", "event_id"))
    val evenThenOdd = state(Cdc.applyLog(
      Cdc.applyLog(empty, even, key, "ts", "event_id"), odd, key, "ts", "event_id"))
    val oddThenEven = state(Cdc.applyLog(
      Cdc.applyLog(empty, odd, key, "ts", "event_id"), even, key, "ts", "event_id"))
    assert(evenThenOdd == oneShot, "even-then-odd diverged from the one-shot fold")
    assert(oddThenEven == oneShot, "odd-then-even diverged — order dependence")
    // idempotence: re-applying a batch already folded in changes nothing
    val again = state(Cdc.applyLog(
      Cdc.compact(log, key, "ts", "event_id"), even, key, "ts", "event_id"))
    assert(again == oneShot, "replaying an old batch changed the snapshot")
  }

  test("compact lowers to an aggregate — no window, no join (100 TB shape)") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Cdc.compact(log, key, "ts", "event_id").queryExecution.executedPlan
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.joins.BaseJoinExec
      import org.apache.spark.sql.execution.window.WindowExec
      var windows = 0; var joins = 0
      def walk(p: SparkPlan): Unit = {
        p match {
          case _: WindowExec  => windows += 1
          case _: BaseJoinExec => joins += 1
          case _ =>
        }
        p.children.foreach(walk)
      }
      walk(plan)
      assert(windows == 0, s"compact sorted a window instead of aggregating:\n$plan")
      assert(joins == 0, s"compact lowered to a join:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("CdcSnapshotStore: rounds fold to the batch state, replay and compaction preserve it") {
    val path = tmpDir("cdc-store") + "/snap"
    val store = new CdcSnapshotStore(spark, path, key, "ts", "event_id") {
      override protected def autoCompactThreshold: Int = 2
    }
    val even = log.filter(col("event_id") % 2 === 0)
    val odd = log.filter(col("event_id") % 2 === 1)
    // out-of-order rounds on purpose: odd wave lands as round 0
    store.appendRound(odd, round = 0L)
    store.appendRound(even, round = 1L)
    val expect = liveState(Cdc.compact(log, key, "ts", "event_id"))
    assert(liveState(store.state()) == expect)
    // a re-delivered round replaces itself (dynamic overwrite)
    store.appendRound(even, round = 1L)
    assert(liveState(store.state()) == expect, "round replay changed the snapshot")
    // more rounds push past the shrunk threshold -> auto-compaction;
    // reads must be identical before/after the fold
    (2L to 6L).foreach { r =>
      store.appendRound(even.limit(0), round = r)
      assert(liveState(store.state()) == expect,
        s"snapshot drifted after round $r / compaction")
    }
    // the replay guard: rounds at/past beforeRound are excluded
    val fresh = new CdcSnapshotStore(spark, tmpDir("cdc-guard") + "/snap",
      key, "ts", "event_id")
    fresh.appendRound(odd, round = 0L)
    fresh.appendRound(even, round = 1L)
    assert(liveState(fresh.state(beforeRound = Some(1L))) ==
      liveState(Cdc.compact(odd, key, "ts", "event_id")))
  }

  test("tombstone GC is an explicit compaction-time retention decision (default keeps, opt-in drops)") {
    val log = graft.ops.Cdc.eventChangelog(spark, "/root/testdata/sf0.001")
    val key = Seq("user_id")
    val waves = (0L to 3L).map(r => log.filter(col("event_id") % 4 === r))

    // default: tombstones survive physical compaction (order-safe max)
    val keep = new CdcSnapshotStore(spark, tmpDir("cdc-gc") + "/keep",
      key, "ts", "event_id")
    waves.zipWithIndex.foreach { case (w, r) => keep.appendRound(w, r.toLong) }
    val tombstonesBefore = keep.state().filter(col("op") === "D").count()
    assert(tombstonesBefore > 0L, "fixture should produce delete tombstones")
    keep.compact(upTo = 3L)
    assert(keep.state().filter(col("op") === "D").count() == tombstonesBefore,
      "default compaction must retain tombstones")

    // opt-in GC: compaction physically drops them; live rows unchanged
    val gc = new CdcSnapshotStore(spark, tmpDir("cdc-gc") + "/gc",
      key, "ts", "event_id", gcTombstonesOnCompact = Some("op"))
    waves.zipWithIndex.foreach { case (w, r) => gc.appendRound(w, r.toLong) }
    val liveBefore = liveState(gc.state())
    gc.compact(upTo = 3L)
    assert(gc.state().filter(col("op") === "D").count() == 0L,
      "GC compaction left tombstone rows")
    assert(liveState(gc.state()) == liveBefore,
      "GC compaction changed the live rows")
    // physically gone from the store's files too, not just the fold
    assert(spark.read.parquet(gc.path).filter(col("op") === "D").count() == 0L,
      "tombstones survive in the compacted files")
    assert(gc.state().count() == liveBefore.size.toLong,
      "post-GC snapshot should hold exactly the live rows")
    // a post-GC upsert re-creates a GC'd key as a new row (CDC
    // re-registration semantics, not a resurrection bug)
    val gone = log.filter(col("op") === "D").select("user_id")
      .as[Long].head()
    val rebirth = log.filter(col("user_id") === gone).limit(1)
      .withColumn("op", lit("U"))
      .withColumn("event_id", lit(999999999L))
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2031-01-01 00:00:00")))
    gc.appendRound(rebirth, round = 4L)
    assert(liveState(gc.state()).exists(_._1 == gone),
      "a re-registered key should surface as live after GC")
  }

  test("gcTombstoneLag: in-lag tombstones survive GC and keep masking event-time-late upserts") {
    val log = graft.ops.Cdc.eventChangelog(spark, "/root/testdata/sf0.001")
    val key = Seq("user_id")
    // a lag wider than the whole fixture's event-time span: every
    // tombstone is within the watermark, so NONE may be GC'd
    val wide = new CdcSnapshotStore(spark, tmpDir("cdc-lag") + "/wide",
      key, "ts", "event_id",
      gcTombstonesOnCompact = Some("op"),
      gcTombstoneLag = Some("INTERVAL 100 YEARS"))
    (0L to 3L).foreach(r => wide.appendRound(log.filter(col("event_id") % 4 === r), r))
    val tombstones = wide.state().filter(col("op") === "D").count()
    assert(tombstones > 0L, "fixture should produce delete tombstones")
    wide.compact(upTo = 3L)
    assert(wide.state().filter(col("op") === "D").count() == tombstones,
      "an in-lag tombstone was GC'd — the event-time watermark guard is broken")
    // the ADVICE r13 resurrection case, under the guard: an upsert
    // OLDER in event time than the tombstone, arriving in a NEW round
    // after compaction, must still be masked (the retained tombstone
    // out-versions it)
    val gone = wide.state().filter(col("op") === "D")
      .select("user_id").as[Long].head()
    val stale = log.filter(col("user_id") === gone && col("op") === "U")
      .orderBy(col("ts"), col("event_id")).limit(1)
    wide.appendRound(stale, round = 4L)
    assert(!liveState(wide.state()).exists(_._1 == gone),
      "an event-time-late upsert resurrected a key whose in-lag tombstone was retained")

    // zero lag: the watermark excludes every tombstone strictly below
    // max(ts), so GC drops them (only a tombstone AT the watermark
    // instant could survive) — the documented forfeit, now bounded
    val zero = new CdcSnapshotStore(spark, tmpDir("cdc-lag") + "/zero",
      key, "ts", "event_id",
      gcTombstonesOnCompact = Some("op"),
      gcTombstoneLag = Some("INTERVAL 0 SECONDS"))
    (0L to 3L).foreach(r => zero.appendRound(log.filter(col("event_id") % 4 === r), r))
    val maxTs = zero.state().agg(max(col("ts"))).head().getTimestamp(0)
    val atWm = zero.state()
      .filter(col("op") === "D" && col("ts") === maxTs).count()
    zero.compact(upTo = 3L)
    assert(zero.state().filter(col("op") === "D").count() == atWm,
      "zero-lag GC should drop every tombstone below the event-time watermark")
  }
  test("a half-configured tombstone GC (lag without the op column) fails loudly") {
    // ADVICE r14: gcTombstoneLag alone is inert (the fold over None
    // never evaluates the lag branch) — the constructor now rejects
    // the combination instead of silently retaining tombstones forever
    val e = intercept[IllegalArgumentException] {
      new CdcSnapshotStore(spark, tmpDir("cdc-halfgc") + "/snap",
        Seq("user_id"), "ts", "event_id",
        gcTombstonesOnCompact = None,
        gcTombstoneLag = Some("INTERVAL 7 DAYS"))
    }
    assert(e.getMessage.contains("gcTombstonesOnCompact"),
      s"wrong failure: ${e.getMessage}")
  }
}
