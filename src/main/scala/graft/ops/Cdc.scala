package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Change-data-capture apply — MERGE INTO semantics without a table
  * format: a changelog of upserts (`op = 'U'`) and delete tombstones
  * (`op = 'D'`), versioned by a (ts, seq) pair, folds onto a snapshot
  * by LAST-WRITER-WINS per key. The complement of [[Scd]]: SCD2 keeps
  * every version as history; CDC keeps only the latest state — the
  * operator that maintains a queryable mirror of an upstream
  * transactional table from its replication stream.
  *
  * Two design decisions carry the 100 TB posture:
  *
  *  1. **The snapshot RETAINS tombstones.** A snapshot that drops
  *     deleted keys is order-DEPENDENT: replaying an older upsert after
  *     the delete resurrects the row, so every batch would need strict
  *     ordering end-to-end. With the tombstone kept (op = 'D', payload
  *     nulls), [[applyLog]] is a semilattice join — associative,
  *     commutative, idempotent — so batches may arrive out of order,
  *     twice, or split arbitrarily and the snapshot converges to the
  *     same state. [[live]] is the user-facing view (tombstones
  *     filtered); tombstone GC is a retention decision (drop 'D' rows
  *     older than the replication lag bound), not a correctness one.
  *  2. **Compaction is an AGGREGATE, not a window.** max_by(payload,
  *     version) under groupBy does PARTIAL (map-side) combining, so
  *     the exchange carries at most one row per key per map partition
  *     — not the whole changelog. (The struct buffer makes it a
  *     SortAggregate, so each map partition sorts by key before
  *     collapsing — but collapse-then-shuffle it is; plan-audited.)
  *     The row_number() spelling (the DuckDB twin, deliberately)
  *     must shuffle EVERY log row and buffer full key groups before
  *     ranking; at 4e9 keys and a deep changelog that difference is
  *     the job.
  *
  * Version ties: (ts, seq) must be unique per key across the whole log
  * (seq = a change LSN / event id); struct-max comparison then never
  * reaches the payload fields, so the winner is well-defined.
  *
  * [[CdcSnapshotStore]] makes the operator durable and incremental:
  * each batch lands as one per-round partition of compacted changes
  * (idempotent dynamic overwrite keyed on the round — the streaming
  * replay contract), reads LWW-fold the rounds, and the inherited
  * [[RoundStore]] machinery folds old rounds together —
  * read-equivalent because LWW is exactly a [[RoundStore]] `merge`
  * algebra. [[graft.streaming.StreamingCdc]] is the same
  * store fed by `foreachBatch` (the 13th pipeline).
  */
object Cdc {
  type Q = (SparkSession, String) => DataFrame

  /** One surviving row per key: the max-(ts, seq) row, tombstones
    * included. Everything that is not a key column rides the payload
    * struct, so the call is layout-generic. */
  def compact(log: DataFrame, key: Seq[String], ts: String, seq: String): DataFrame = {
    val payload = log.columns.toSeq.filterNot(key.contains)
    log.groupBy(key.map(col).toIndexedSeq: _*)
      .agg(max_by(struct(payload.map(col).toIndexedSeq: _*),
        struct(col(ts), col(seq))).as("_lww"))
      .select((key.map(col) ++ payload.map(p => col(s"_lww.$p").as(p))).toIndexedSeq: _*)
  }

  /** Fold a changelog batch onto a snapshot (same layout both sides).
    * Because the snapshot keeps tombstones, this is order-independent
    * and idempotent across batches — see the object doc. */
  def applyLog(snapshot: DataFrame, changelog: DataFrame, key: Seq[String],
               ts: String, seq: String): DataFrame =
    compact(snapshot.unionByName(changelog), key, ts, seq)

  /** The user-facing view: live rows only (tombstones filtered). */
  def live(snapshot: DataFrame, opCol: String = "op"): DataFrame =
    snapshot.filter(col(opCol) =!= "D")

  /** The events table read as a CDC stream: errors are deletes, every
    * other event type upserts the user's latest value (exact cents). */
  private[ops] def eventChangelog(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("user_id"), col("ts"), col("event_id"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType).as("cents"))

  /** q202 — CDC snapshot of the event stream: last-writer-wins per
    * user with delete tombstones, applied in TWO deliberately
    * interleaved waves (event_id parity — each wave spans the whole
    * time range) to exercise the order-independence the tombstone
    * design buys. The result must equal the one-shot fold over the
    * full log, which is exactly what the DuckDB twin computes — via
    * the rival row_number() spelling. Output is the live view: users
    * whose LATEST change is an upsert. */
  val cdcSnapshot: Q = (s, d) => {
    val tsFmt = "yyyy-MM-dd HH:mm:ss"
    val log = eventChangelog(s, d)
    val key = Seq("user_id")
    val even = log.filter(col("event_id") % 2 === 0)
    val odd = log.filter(col("event_id") % 2 === 1)
    val snap = applyLog(applyLog(log.limit(0), even, key, "ts", "event_id"),
      odd, key, "ts", "event_id")
    live(snap)
      .select(col("user_id"), col("cents"),
        col("event_id").as("last_event_id"),
        date_format(col("ts"), tsFmt).as("updated_at"))
      .orderBy(col("user_id"))
  }

  val queries: Map[String, Q] = Map(
    "q202_cdc_snapshot" -> cdcSnapshot)

  val oracle: Map[String, String] = Map(
    // the rival algorithm on purpose: rank the whole log per key and
    // keep rn=1 — cross-checks the Spark side's two-wave LWW fold
    "q202_cdc_snapshot" ->
      """WITH c AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, cents, event_id AS last_event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS updated_at
        |FROM c WHERE rn = 1 AND op = 'U' ORDER BY user_id""".stripMargin)
}

/** Durable, incremental CDC snapshot: each batch of changes lands as
  * one compacted `ingest_round` partition; [[snapshot]] LWW-folds the
  * committed rounds (rounds at or past `beforeRound` excluded — the
  * streaming replay guard); inherited auto-compaction folds old rounds
  * into one, read-equivalent because the merge IS the LWW fold.
  * Per-round cost is O(|batch keys|); the standing snapshot is never
  * rewritten on append.
  *
  * `gcTombstonesOnCompact` makes the tombstone-retention decision
  * EXPLICIT (VERDICT r12: a tombstone carries the deleted key's
  * identity, so erasure eventually conflicts with the retention that
  * buys order-independence). When set to the op column, PHYSICAL
  * compaction drops rows whose latest op is a delete from the folded
  * artifact — the erased key's last trace leaves the store's files.
  * Plain merge-on-read keeps tombstones (order-independence for live
  * rounds is untouched); the GC is safe exactly under compaction's
  * existing contract — only rounds the replay bound has passed fold,
  * so no re-delivered or late batch below the GC point can resurrect
  * the key. An upsert arriving AFTER the GC round legitimately
  * re-creates the key as a new row, which is the CDC semantics of a
  * re-registered entity, not a resurrection bug.
  *
  * The PROCESSING-time argument above does not cover EVENT-time
  * lateness (ADVICE r13): a new round may legitimately carry an upsert
  * whose (ts, seq) is OLDER than a GC'd tombstone's — an out-of-order
  * replication feed — and with the tombstone gone, LWW resurrects the
  * key with the stale payload the tombstone would have masked. So the
  * bare flag (`gcTombstoneLag = None`) is only sound for sources that
  * are in-order IN EVENT TIME by the GC round (a CDC-fronted feed, or
  * erasure where the deleted key's producers are themselves gone);
  * enabling it otherwise is an explicit decision to forfeit masking of
  * event-time-late upserts. `gcTombstoneLag` (an INTERVAL expression,
  * e.g. "INTERVAL 7 DAYS") bounds that exposure the standard way: a
  * tombstone is GC'd only once it is older than (max event ts in the
  * folded snapshot − lag) — the event-time watermark — so any upsert
  * no later than `lag` in event time still meets its tombstone, and
  * only a source violating its own declared lateness bound can
  * resurrect. Default None + None: tombstones retained forever (the
  * order-safe maximum). */
class CdcSnapshotStore(spark: SparkSession, path: String,
                       key: Seq[String], ts: String, seq: String,
                       gcTombstonesOnCompact: Option[String] = None,
                       gcTombstoneLag: Option[String] = None)
    extends RoundStore(spark, path, Cdc.compact(_, key, ts, seq)) {
  // a lag without the GC flag would be silently inert (the fold over
  // None never evaluates the lag branch) — a half-configured GC fails
  // loudly instead of retaining tombstones forever behind the caller's
  // back (ADVICE r14)
  require(gcTombstoneLag.isEmpty || gcTombstonesOnCompact.nonEmpty,
    "gcTombstoneLag is only meaningful with gcTombstonesOnCompact set: " +
      "the lag bounds WHEN a tombstone may be GC'd, but the op column is what " +
      "enables GC at all — set gcTombstonesOnCompact, or drop the lag")

  override protected def compactRounds(rows: DataFrame): DataFrame =
    gcTombstonesOnCompact.foldLeft(merge(rows)) { (snap, opCol) =>
      gcTombstoneLag match {
        case None => snap.filter(col(opCol) =!= "D")
        case Some(lag) =>
          // event-time watermark over the folded snapshot itself: one
          // broadcast scalar; tombstones at or above (max ts − lag)
          // are retained to keep masking in-lag late upserts
          snap.crossJoin(broadcast(snap.agg(max(col(ts)).as("_gc_wm_ts"))))
            .filter(col(opCol) =!= "D" ||
              col(ts) >= col("_gc_wm_ts") - expr(lag))
            .drop("_gc_wm_ts")
      }
    }

  /** Compact `changes` and commit them as ingest round `round` —
    * idempotent per round (dynamic partition overwrite). */
  def appendRound(changes: DataFrame, round: Long): Unit =
    commitRound(Cdc.compact(changes, key, ts, seq), round)
}
