package graft.ops

import graft.Tables
import graft.queries.Qx
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-time operators over the `events` table (SURVEY.md §7 step 8:
  * the windows/streaming-state surface absent from the reference).
  * Batch forms run under the DuckDB oracle; the same plans power the
  * Structured Streaming path ([[graft.streaming.EventStreams]]), where
  * watermarks bound state.
  *
  * Window starts are emitted as formatted strings (oracle
  * representation stability) and all value sums go through the exact
  * decimal convention in [[Qx]].
  */
object EventTime {
  type Q = (SparkSession, String) => DataFrame

  private val tsFmt = "yyyy-MM-dd HH:mm:ss"

  /** Tumbling 1-hour windows per event type — Spark's native
    * `window()` generator; starts align to epoch hours. */
  val hourly: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Qx.dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("window.start"), tsFmt).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Sliding windows: 2-hour length, 1-hour slide — each event lands
    * in exactly two windows. */
  val sliding: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), Qx.dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("window.start"), tsFmt).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Session windows per user with a 30-minute gap — Spark's native
    * `session_window` (merged [t, t+30m) intervals; a gap of exactly
    * 30 minutes starts a new session). */
  val sessions: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), Qx.dsum(col("value")).as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), tsFmt).as("session_start"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q101 — session path transitions (the Markov-chain audit of user
    * journeys): within each user session, count every adjacent
    * (from_type, to_type) event pair — the transition matrix a
    * product/UX analysis reads next-step probabilities from, and the
    * batch skeleton of a next-event model's training counts.
    * Sessionization is the lag-gap form (>= 30 min of silence opens a
    * new session, q27's gap convention spelled with windows so the
    * DuckDB twin is verbatim).
    *
    * Scale shape: both windows and the gap logic partition by
    * user_id — hash(user_id) satisfies the (user_id, session_id)
    * clustering too, so the whole journey pipeline rides ONE
    * exchange with partition-local sorts; the final transition
    * matrix is a types x types hash agg (partial combine, tiny). */
  val sessionTransitions: Q = (s, d) =>
    sessionTransitionsOf(Tables.events(s, d))

  def sessionTransitionsOf(events: DataFrame): DataFrame = {
    val wUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60L * 1000000L
    val withSession = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(wUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(wUser))
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts"), col("event_id"))
    withSession
      .withColumn("next_type", lead(col("event_type"), 1).over(wSess))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Top event bursts: per-type running counts via time-ordered window
    * functions (lag + gap detection) — the batch skeleton of
    * flatMapGroupsWithState-style logic. */
  val userActivity: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_minutes",
        when(col("prev_ts").isNull, lit(null).cast(DoubleType))
          // microsecond arithmetic so Spark (µs timestamps) and DuckDB
          // agree bit-for-bit on the division
          .otherwise((unix_micros(col("ts")) - unix_micros(col("prev_ts"))).cast(DoubleType) / 60000000.0))
      .withColumn("seq", row_number().over(w))
      .select(col("user_id"), col("event_id"),
        date_format(col("ts"), tsFmt).as("event_ts"),
        col("seq"), col("gap_minutes"))
      .orderBy(col("user_id"), col("seq"))
  }

  /** As-of join composed from built-ins (Spark has no native as-of):
    * tag both streams, union, and carry the last left-side timestamp
    * forward with last_value(ignoreNulls) over event time. One shuffle
    * on the join key, no range explosion — the standard Spark shape
    * for "match each right row to the latest prior left row".
    * Here: each purchase matched to the user's most recent prior
    * click. */
  val asofClickPurchase: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(null).cast(LongType).as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        lit(null).cast(LongType).as("event_id"), col("event_id").as("purchase_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("purchase_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)
    clicks.unionByName(purchases)
      .withColumn("last_click_ts",
        last(when(col("purchase_id").isNull, col("ts")), ignoreNulls = true).over(w))
      .filter(col("purchase_id").isNotNull)
      .select(
        col("user_id"),
        col("purchase_id"),
        date_format(col("ts"), tsFmt).as("purchase_ts"),
        date_format(col("last_click_ts"), tsFmt).as("last_click_ts"),
        when(col("last_click_ts").isNull, lit(null).cast(DoubleType))
          .otherwise((unix_micros(col("ts")) - unix_micros(col("last_click_ts")))
            .cast(DoubleType) / 60000000.0).as("minutes_since_click"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** As-of join WITH TOLERANCE (q89): q29 pairs each purchase with the
    * latest same-user click no matter how old; real enrichment joins
    * (pandas merge_asof's `tolerance`, kdb's windowed aj) bound the
    * staleness — a view older than 30 minutes is noise, not intent.
    * Same single-exchange union trick as q29 (no join: the purchase
    * and view streams interleave in one user-partitioned window and
    * `last` picks the preceding view), then the tolerance is a pure
    * post-filter on the picked timestamp: NULL out matches older than
    * the bound. Matches at the purchase instant count (<=), matches
    * at exactly the bound count (>=), in both engines. */
  val asofToleranceMinutes = 30L // single source for BOTH engines' bounds
  val asofWithTolerance: Q = (s, d) => {
    val toleranceMicros = asofToleranceMinutes * 60L * 1000000L
    val ev = Tables.events(s, d)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"),
        lit(null).cast(LongType).as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("purchase_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)
    views.unionByName(purchases)
      .withColumn("last_view_ts",
        last(when(col("purchase_id").isNull, col("ts")), ignoreNulls = true).over(w))
      .filter(col("purchase_id").isNotNull)
      .withColumn("fresh",
        col("last_view_ts").isNotNull &&
          unix_micros(col("ts")) - unix_micros(col("last_view_ts")) <= toleranceMicros)
      .select(
        col("user_id"),
        col("purchase_id"),
        date_format(col("ts"), tsFmt).as("purchase_ts"),
        when(col("fresh"), date_format(col("last_view_ts"), tsFmt))
          .otherwise(lit(null).cast(StringType)).as("view_ts"),
        when(col("fresh"),
          (unix_micros(col("ts")) - unix_micros(col("last_view_ts")))
            .cast(DoubleType) / 60000000.0)
          .otherwise(lit(null).cast(DoubleType)).as("staleness_min"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** Windowed interval-join attribution (q84): for every purchase,
    * how many views and clicks the SAME user made in the preceding
    * two hours — the marketing-attribution complement of q29's as-of
    * join (nearest single click there; full window COUNTS here).
    *
    * Spark-first plan: this is a range join (purchase × events with
    * `a.ts ∈ [p.ts - 2h, p.ts)`), but materializing the pair blow-up
    * just to count it is waste — instead the unioned stream makes ONE
    * exchange on user_id and a RANGE-framed window (`rangeBetween` on
    * the microsecond value, [-2h, -1]) counts view/click markers
    * per row; purchases are filtered AFTER the frame is measured.
    * Zero joins, no pair materialization, and heavy users are one
    * sorted run inside a partition rather than a quadratic join
    * island. The DuckDB twin IS the naive interval join — a
    * cross-algorithm oracle. The frame's lower bound is inclusive,
    * upper exclusive (a view at the purchase instant doesn't count),
    * in both engines. */
  val purchaseAttribution: Q = (s, d) =>
    purchaseAttributionOf(Tables.events(s, d))

  def purchaseAttributionOf(events: DataFrame): DataFrame = {
    val micros2h = 2L * 3600L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsm"))
      .rangeBetween(-micros2h, -1)
    events.filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("tsm"))
      .withColumn("n_views_2h",
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(w))
      .withColumn("n_clicks_2h",
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        date_format(col("ts"), tsFmt).as("purchase_ts"),
        coalesce(col("n_views_2h"), lit(0L)).as("n_views_2h"),
        coalesce(col("n_clicks_2h"), lit(0L)).as("n_clicks_2h"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** Semi-structured surface: JSON property extraction from the props
    * column (schema-on-read over string payloads), aggregated per
    * event type. */
  val jsonExtract: Q = (s, d) => {
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum(col("k").cast(LongType)).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  /** Ordered funnel progression (q77): per user, the timestamps of
    * the first `view`, the first `click` strictly AFTER that view,
    * and the first `purchase` strictly after that click — the
    * product-analytics "how far did each user get, in order"
    * operator (a raw co-occurrence count would credit purchases that
    * happened before the view). Three chained conditional-min window
    * passes over ONE user partition: Spark chains the WindowExecs on
    * a single Exchange, so the whole funnel costs one shuffle; the
    * strict `>` makes the stage definition exact and replayable. */
  def funnelOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("first_view",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("first_click",
        min(when(col("event_type") === "click" &&
          col("ts") > col("first_view"), col("ts"))).over(w))
      .withColumn("first_purchase",
        min(when(col("event_type") === "purchase" &&
          col("ts") > col("first_click"), col("ts"))).over(w))
      // one row per user: every row in a user's partition carries the
      // same three firsts, so keep the first by row_number ON THE SAME
      // user partition — rides the existing exchange (an in-partition
      // sort), where distinct() would re-shuffle the 4-column
      // projection corpus-wide (VERDICT r5 "what's wrong" #3)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_type"))))
      .filter(col("_rn") === 1)
      .select(col("user_id"),
        date_format(col("first_view"), tsFmt).as("first_view"),
        date_format(col("first_click"), tsFmt).as("first_click"),
        date_format(col("first_purchase"), tsFmt).as("first_purchase"),
        when(col("first_purchase").isNotNull, 3)
          .when(col("first_click").isNotNull, 2)
          .when(col("first_view").isNotNull, 1)
          .otherwise(0).as("funnel_stage"))
      .orderBy(col("user_id"))
  }

  val funnel: Q = (s, d) => funnelOf(Tables.events(s, d))

  /** Weekly cohort retention (q78): users grouped by their signup
    * week, counted as retained in week k if they emitted ANY event
    * in cohort_week + k. The classic retention triangle. Weeks are
    * `date_trunc('week')` (Monday-aligned in both engines) and the
    * offset is exact integer arithmetic (day diff div 7). Shape: a
    * tiny per-user signup agg joined back onto the per-(user, week)
    * activity dedup, then one hash agg — the join key is user_id, so
    * everything shuffles once on user and once on the (cohort, week)
    * group. */
  def cohortRetentionOf(ev: DataFrame): DataFrame = {
    val signups = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = ev
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    signups.join(active, Seq("user_id"))
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort_week")) / 7).cast(IntegerType))
      .filter(col("week_offset") >= 0)
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort_week"), tsFmt).as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val cohortRetention: Q = (s, d) => cohortRetentionOf(Tables.events(s, d))

  /** Sessionized error-burst detection (q80): per 30-minute session
    * window (the q27 sessionization, whose lag-replay parity with
    * Spark's `session_window` the q27 oracle already proves), the
    * error count and rate, flagging bursts — the ops-monitoring read
    * on the same event stream the analytics queries serve. The burst
    * gate is pure integer arithmetic (n_errors * 2 >= n_events ⇔
    * rate >= 0.5 — no double compare to drift); the one double
    * division exists only for the human-readable rate column. */
  val errorBursts: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"))
      .filter(col("n_errors") >= 1)
      .select(col("user_id"),
        date_format(col("session_window.start"), tsFmt).as("session_start"),
        col("n_events"), col("n_errors"),
        (col("n_errors").cast(DoubleType) / col("n_events")).as("error_rate"),
        (col("n_errors") >= 3 && col("n_errors") * 2 >= col("n_events")).as("is_burst"))
      .orderBy(col("user_id"), col("session_start"))

  /** Session concurrency profile (q83): how many user-sessions are
    * open at once, hour by hour — the capacity-planning read on the
    * event stream (a training-data service sizes its serving fleet on
    * exactly this curve). Classic sweep-line: each session (the q27/
    * q80 sessionization, 30-minute gap) emits +1 at its start and -1
    * at its end, and the running sum of deltas IS the concurrency at
    * that boundary. Ends sort before starts at the same instant
    * (delta -1 < +1 in the sort key), so touching sessions never
    * count as overlapping, identically in both engines.
    *
    * Scale shape: a global ORDER BY ts window would funnel the whole
    * stream through one partition, so the prefix sum is sharded the
    * q55b way — calendar days are contiguous in time, so (1) per-day
    * delta totals (a tiny agg) become exclusive day offsets via a
    * driver-side scan of the day frame (bounded by the CALENDAR, never
    * the data — the q154/q163 offset discipline; the r8-retired
    * unpartitioned-window spelling lived here until r9), broadcast
    * back; (2) the running
    * sum runs WITHIN each day (parallel across days) and adds the
    * day's carry-in. Hours with no session boundary emit no row
    * (concurrency is sampled at boundaries; the plateau between
    * boundaries never exceeds the surrounding samples' max... a
    * carried-over plateau spanning a silent hour is visible in the
    * neighbouring hours' rows). */
  val sessionConcurrency: Q = (s, d) =>
    sessionConcurrencyOf(Tables.events(s, d))

  def sessionConcurrencyOf(events: DataFrame): DataFrame = {
    val sess = events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("start_ts"),
        col("session_window.end").as("end_ts"))
    // materialized (house two-consumer rule): the day-offset collect
    // below and the final join both consume the sessionized deltas
    val deltas = graft.ops.Dedup.materializedSketch(sess
      .select(col("user_id"), col("start_ts").as("ts"), lit(1L).as("delta"))
      .unionByName(sess
        .select(col("user_id"), col("end_ts").as("ts"), lit(-1L).as("delta")))
      .withColumn("day", date_trunc("day", col("ts"))))
    val offsets = deltas.groupBy(col("day"))
      .agg(sum(col("delta")).as("day_sum"))
    // exclusive prefix over the calendar-bounded day frame, computed
    // driver-side (same arithmetic the old single-reducer window ran;
    // prefix sums are exact integers, so values are unchanged)
    val dayRows = offsets.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).sortBy(_._1.getTime)
    var acc = 0L
    val offRows = dayRows.map { case (dayTs, sm) =>
      val o = (dayTs, acc); acc += sm; o
    }.toSeq
    val sp = events.sparkSession
    import sp.implicits._
    val dayOff = offRows.toDF("day", "day_off")
    val w1 = Window.partitionBy(col("day"))
      .orderBy(col("ts"), col("delta"), col("user_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    deltas.join(broadcast(dayOff), Seq("day"))
      .withColumn("conc", col("day_off") + sum(col("delta")).over(w1))
      .groupBy(date_format(date_trunc("hour", col("ts")), tsFmt).as("hour"))
      .agg(max(col("conc")).as("max_concurrent"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_ends"))
      .orderBy(col("hour"))
  }

  /** Incremental distinct counting over a persisted HLL sketch store
    * (q93): "distinct users per event type" maintained the way a
    * 100 TB event pipeline has to — one Datasketches HLL sketch per
    * (event_type, ingest round) in a [[HllDistinctStore]], unioned at
    * read time. HLL union is a register-wise max, so it is exact over
    * the sketches (merged-per-round == built-in-one-shot, pinned
    * bit-identical in HllStoreSpec), associative (compaction folds
    * rounds without changing any estimate), and the store never
    * rescans history: steady-state cost is the DELTA scan plus a
    * few-KB-per-type sketch read — vs q11's exact countDistinct,
    * which reshuffles every historical user id per run.
    *
    * Output is self-auditing (the q79 CMS pattern): the sketch
    * estimate next to the exact count with the error in integer ppm —
    * at production scale the exact column is dropped and the estimate
    * IS the product, but while both are cheap the audit rides along.
    * Rows-only correctness entry: DuckDB's approx_count_distinct is a
    * different sketch family, so no SQL twin exists; the estimate is
    * still deterministic (hash registers, no RNG) and HllStoreSpec
    * pins the lifecycle — round-0 commit, delta union, error bound,
    * compaction invariance. */
  val hllDistinctIncremental: Q = (s, d) => hllDistinct(s, d, audit = true)

  /** q93 with the audit switch explicit (VERDICT r6 #6). `audit = true`
    * is the registered harness entry: estimate NEXT TO the exact
    * countDistinct — which by definition rescans all event history.
    * `audit = false` is the production steady state the sketch store
    * exists for: store + delta only, so the single events scan left in
    * the plan is the watermark-pruned delta (HllStoreSpec pins the plan
    * to one scan, no countDistinct); history is never reread. */
  def hllDistinct(s: SparkSession, d: String, audit: Boolean): DataFrame = {
    val ev = Tables.events(s, d)
    val (store, wm) = hllStore(s, d)
    val deltaSketch = ev.filter(col("event_id") > wm)
      .groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"))
    val est = store.mergedWith(deltaSketch)
      .select(col("event_type"),
        hll_sketch_estimate(col("sketch")).as("est_users"))
    if (!audit) est.orderBy(col("event_type"))
    else {
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      est.join(exact, Seq("event_type"))
        .withColumn("err_ppm",
          expr("(abs(est_users - exact_users) * 1000000L) div exact_users"))
        .orderBy(col("event_type"))
    }
  }

  // Per-(JVM, events CONTENT) store lifecycle, shared with q61/q67c/
  // q72 via ScratchStores: the fingerprint frame maps the events table
  // onto the (doc_id, text) shape corpusKey expects — event_id as the
  // monotone id, (user_id, event_type) as the content — so the same
  // snapshot memo, regeneration guard, and (max*4 div 5) watermark
  // arithmetic apply unchanged.
  private def hllStore(s: SparkSession, d: String): (HllDistinctStore, Long) = {
    val ev = Tables.events(s, d)
    val keyed = ev.select(col("event_id").as("doc_id"),
      concat_ws(":", col("user_id"), col("event_type")).as("text"))
    val (key, wm) = ScratchStores.corpusKey(keyed, s"$d#events")
    val path = ScratchStores.pathFor(key, "graft-hll-user-sketches") { p =>
      new HllDistinctStore(s, p).appendRound(
        ev.filter(col("event_id") <= wm), round = 0L)
    }
    (new HllDistinctStore(s, path), wm)
  }

  /** q119 — hourly gap-fill + forward-fill (the time-series
    * regularization step every downstream model/report wants: a dense
    * per-user hourly series even where no events arrived). The dense
    * spine covers each user's [min hour, max hour]; silent hours
    * carry the last observed value forward.
    *
    * The textbook spelling — generate a dense spine, LEFT JOIN the
    * observations, forward-fill with last(ignoreNulls) — hides two
    * scale taxes: the spine⋈observations join re-shuffles BOTH sides
    * on the full (user, hour) key (Spark's co-partition rule demands
    * all join keys by default, so the hash(user) partitioning the agg
    * already has does not carry it), and the spine/observation
    * branches duplicate the aggregate subtree. This form has NO JOIN:
    * after the (user, hour) aggregate, one lag() window pass knows
    * each observation's predecessor, so each row EMITS its own
    * preceding gap — `explode(concat(fillers, self))` where fillers
    * is a per-row built array of (gap hour, 0 events, predecessor's
    * value) structs. Run-length gap expansion: output work is
    * proportional to the gap being filled, forward-fill is by
    * construction (every filler copies its generating row's
    * predecessor value — consecutive gap hours share one
    * predecessor), and the whole pipeline — agg, lag window, explode
    * — rides the ONE explicit hash(user_id) exchange (plan-spec
    * pinned with broadcast disabled). Empty-gap rows take
    * `array_repeat(_, 0)` (sequence(1,0) would step BACKWARD, not
    * produce an empty array — the classic trap). */
  val hourlyGapFill: Q = (s, d) => hourlyGapFillOf(Tables.events(s, d))

  def hourlyGapFillOf(events: DataFrame): DataFrame = {
    val hourUs = 3600000000L
    val hourly = events
      .repartition(col("user_id"))
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"), Qx.dsum(col("value")).as("sum_value"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("hour"))
    // r15 (guide §1.2): the per-gap struct used to be built by a
    // `transform` lambda over sequence(1, n_fill) — higher-order
    // functions are CodegenFallback, so every FILLER row (the output
    // majority on a sparse series) paid an interpreted struct build
    // before the explode. This form explodes the bare offset sequence
    // (0 = the observed row, 1..n_fill = its preceding gap hours — a
    // plain codegen'd expression) and derives the emitted columns
    // AFTER the explode with ordinary when() arithmetic. Same row
    // set: offset o >= 1 emits (prev_hour + o, 0, 0, prev_value),
    // offset 0 emits the observed row; emission order is irrelevant
    // under the output's own orderBy.
    hourly
      .withColumn("prev_hour", lag(col("hour"), 1).over(w))
      .withColumn("prev_value", lag(col("sum_value"), 1).over(w))
      .withColumn("n_fill", coalesce(
        (unix_micros(col("hour")) - unix_micros(col("prev_hour"))).cast(DoubleType)
          .divide(lit(hourUs.toDouble)).cast(LongType) - 1L, lit(0L)))
      .select(col("user_id"), col("hour"), col("n_events"), col("sum_value"),
        col("prev_hour"), col("prev_value"),
        explode(sequence(lit(0L), col("n_fill"))).as("_off"))
      .select(col("user_id"),
        date_format(when(col("_off") === 0L, col("hour"))
          .otherwise(timestamp_micros(
            unix_micros(col("prev_hour")) + col("_off") * lit(hourUs))), tsFmt)
          .as("hour_start"),
        when(col("_off") === 0L, lit(1)).otherwise(lit(0)).as("observed"),
        when(col("_off") === 0L, col("n_events")).otherwise(lit(0L)).as("n_events"),
        when(col("_off") === 0L, col("sum_value")).otherwise(col("prev_value"))
          .as("filled_value"))
      .orderBy(col("user_id"), col("hour_start"))
  }

  /** q121 — gaps-and-islands: per-user streaks of consecutive ACTIVE
    * DAYS (the classic islands trick: day minus row_number is
    * constant within a run of consecutive days, so it is the island
    * key — pure column arithmetic, no iteration). Emits the per-user
    * streak profile: active days, number of streaks, longest streak,
    * and the start of the longest streak (earliest on length ties,
    * via min(struct) selection — exact, no window re-pass).
    *
    * Scale shape: same one-exchange discipline as q119 — hash(user)
    * carries the distinct-(user, day) aggregate, the row_number
    * window, the (user, island) agg, and the final per-user rollup.
    * Streak length arithmetic happens on integer date offsets; no
    * timestamps cross an aggregation boundary. */
  val activityStreaks: Q = (s, d) => activityStreaksOf(Tables.events(s, d))

  def activityStreaksOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val days = events
      .repartition(col("user_id"))
      .select(col("user_id"), date_trunc("day", col("ts")).cast(DateType).as("day"))
      .distinct()
    val streaks = days
      .withColumn("island", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("island"))
      .agg(count(lit(1)).as("len"), min(col("day")).as("start_day"))
    streaks.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        // argmin selection: min of (-len, start) is the longest streak,
        // earliest start on length ties — one agg, no second window pass
        min(struct((-col("len")).as("neg_len"), col("start_day").as("sd"))).as("pick"))
      .select(col("user_id"), col("n_active_days"), col("n_streaks"),
        (-col("pick.neg_len")).as("longest_streak"),
        date_format(col("pick.sd"), "yyyy-MM-dd").as("longest_start"))
      .orderBy(col("user_id"))
  }

  /** q124 — rolling 7-day distinct active users per day: the classic
    * sliding-window COUNT DISTINCT, which windowed aggregation cannot
    * express (distinctness is not decomposable over a sliding frame).
    * The scalable spelling is CONTRIBUTION EXPLODE: collapse the fact
    * table to distinct (user, day) FIRST — at most users x days rows
    * — then each active day contributes its user to the 7 window-ends
    * it falls into (a 7x fan-out of the collapsed frame, not of the
    * events), and a count-distinct per window-end finishes. The
    * re-scan alternative (7 self-joins or a range join back to raw
    * events) touches the fact table 7 times; this touches it once.
    * Window-ends outside the observed day range are clipped by a
    * broadcast min/max — partial leading windows inside the range
    * stay, as a rolling-metric consumer expects. */
  val rollingActiveUsers: Q = (s, d) => rollingActiveUsersOf(Tables.events(s, d))

  /** q200 — recency-weighted activity scoring: per-user event mass
    * under an exponential HALF-LIFE decay — the recency weighting a
    * training-data curation pass applies when newer interactions
    * should dominate the sampling weight (the time-axis complement of
    * q90's DSIR domain weighting). The published form w = 2^(−age/λ)
    * is transcendental (libm pow would hash-diverge); here the decay
    * is EXACT: age in whole weeks against the corpus's own max event
    * day (a domain-bounded broadcast anchor — no wall-clock
    * dependence), weight_ppm = 10⁶ div 2^weeks via an integer shift,
    * shift capped at 20 so sub-ppm mass rounds to zero identically on
    * both engines. Plan: one scan, the anchor crossJoin-broadcast onto
    * it, one map-combined per-user hash agg, and a global top-k that
    * lowers to TakeOrdered — no window, no second exchange. */
  val recencyWeights: Q = (s, d) => recencyWeightsOf(Tables.events(s, d))

  def recencyWeightsOf(events: DataFrame): DataFrame = {
    val anchor = events
      .agg(max(date_trunc("day", col("ts")).cast(DateType)).as("anchor"))
    events
      .select(col("user_id"), date_trunc("day", col("ts")).cast(DateType).as("day"))
      .crossJoin(broadcast(anchor))
      .withColumn("wk", least(expr("datediff(anchor, day) div 7"), lit(20L)))
      .withColumn("w_ppm", expr("1000000 div shiftleft(CAST(1 AS BIGINT), CAST(wk AS INT))"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("w_ppm")).as("score_ppm"),
        max(col("day")).as("last_day"))
      .select(col("user_id"), col("n_events"), col("score_ppm"),
        date_format(col("last_day"), "yyyy-MM-dd").as("last_day"))
      .orderBy(col("score_ppm").desc, col("user_id")).limit(20)
  }

  def rollingActiveUsersOf(events: DataFrame): DataFrame = {
    val days = events
      .select(col("user_id"), date_trunc("day", col("ts")).cast(DateType).as("day"))
      .distinct()
    val bounds = days.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    days
      .withColumn("off", explode(sequence(lit(0), lit(6))))
      .select(col("user_id"), date_add(col("day"), col("off")).as("win_end"))
      .join(broadcast(bounds), col("win_end").between(col("lo"), col("hi")))
      .groupBy(col("win_end"))
      .agg(countDistinct(col("user_id")).as("active_7d"))
      .select(date_format(col("win_end"), "yyyy-MM-dd").as("win_end"), col("active_7d"))
      .orderBy(col("win_end"))
  }

  /** q147 — capped running balance (wallet audit): per user, replay
    * events in time order crediting purchase/signup value and
    * debiting the rest, with the balance FLOORED at zero — the
    * canonical NON-ASSOCIATIVE ordered fold, the computation class
    * plain window functions cannot express (a capped cumsum's state
    * depends on every prefix clip; there is no frame spelling).
    * Reports final balance, how many events hit the floor, and the
    * event count — exact integer cents throughout.
    *
    * The engine altitude for genuinely sequential per-key logic:
    * ONE user-keyed exchange collects each user's events into a
    * sorted struct array, and the fold runs as an `aggregate` HOF
    * over that array — per-row compute, no UDF, no driver loop, and
    * the shuffle is bounded by per-user event counts (the q67
    * "one shuffle that must carry the data" argument; a user with
    * unbounded history would chunk by epoch with carry-over state,
    * the q55b two-phase pattern — noted, not needed at any tested
    * SF). The DuckDB twin replays the same fold as a bounded
    * recursive CTE stepping row_number-ordered events — cross-
    * algorithm evidence that the HOF fold implements the recurrence. */
  val cappedWallet: Q = (s, d) => {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100)
      .cast(DecimalType(18, 0)).cast(LongType)
    val delta = when(col("event_type").isin("purchase", "signup"), cents)
      .otherwise(-cents)
    // r16 (guide §4, the HashOps kernel discipline): the
    // array_sort + `aggregate` HOF replay — both interpreted per
    // element — is now ONE codegen sort+fold kernel over the collected
    // structs (identical recurrence, spec-pinned against the HOF
    // spelling in EventTimeSpec; the DuckDB recursive-CTE twin is the
    // independent cross-check).
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), delta.as("delta"))
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("ts"), col("event_id"), col("delta")))
        .as("evs"))
      .select(col("user_id"),
        graft.functions.FoldOps.wallet_fold(col("evs")).as("st"),
        size(col("evs")).as("n_events"))
      .select(col("user_id"), col("st.bal").as("final_balance_cents"),
        col("st.floors").as("n_floor_hits"), col("n_events"))
      .orderBy(col("user_id"))
  }

  /** Debounce refractory gap: an event within this of the last KEPT
    * event of its user is suppressed. */
  val debounceGapUs = 300000000L // 5 minutes

  /** q173 — per-user event DEBOUNCE: keep an event only when it falls
    * at least [[debounceGapUs]] after the last KEPT event (the first
    * always kept) — the telemetry-dedup primitive for burst-emitting
    * clients. Like [[cappedWallet]] this is a NON-ASSOCIATIVE ordered
    * fold (whether an event survives depends on which previous events
    * survived, not on any fixed window — sessionization's lag-gap
    * spelling computes a DIFFERENT, associative thing), so it runs as
    * the same engine shape: ONE user-keyed exchange collects each
    * user's (ts, id) pairs into a sorted array and an `aggregate` HOF
    * replays the refractory chain — per-row compute, no UDF, no
    * driver loop. Timestamps stay exact epoch-µs integers end to end.
    * The DuckDB twin replays the identical recurrence as a bounded
    * recursive CTE over row_number-ordered events (the q147
    * cross-algorithm pairing). Unbounded per-user histories would
    * chunk by epoch with carry-over state — the documented q147
    * escape, not needed at tested SFs. */
  val debounce: Q = (s, d) => {
    // r16 (guide §4): interpreted array_sort + `aggregate` HOF -> one
    // codegen sort+fold kernel (see [[graft.functions.DebounceFold]];
    // recurrence spec-pinned, DuckDB twin unchanged).
    Tables.events(s, d)
      .select(col("user_id"),
        unix_micros(col("ts")).as("tsm"), col("event_id"))
      .groupBy(col("user_id"))
      .agg(collect_list(struct(col("tsm"), col("event_id"))).as("evs"))
      .select(col("user_id"), size(col("evs")).as("n_events"),
        graft.functions.FoldOps.debounce_fold(col("evs"), debounceGapUs).as("st"))
      .select(col("user_id"), col("n_events"), col("st.n_kept").as("n_kept"),
        col("st.first_kept").as("first_kept_us"),
        col("st.last_kept").as("last_kept_us"))
      .orderBy(col("user_id"))
  }

  /** q174 — top event 3-PATHS: the most frequent consecutive
    * (step1 → step2 → step3) event-type sequences across users'
    * time-ordered streams — the path-analysis primitive one step up
    * from q101's Markov transitions (bigrams), catching the
    * three-step journeys a first-order chain by construction cannot
    * see. Exact counts; top 20 by count with the full path as
    * tiebreak.
    *
    * Scale shape: ONE user-keyed exchange, two `lead` windows in the
    * same pass (one sort), then a hash agg onto the path key — whose
    * domain is |event types|³, calendar-bounded, so the reducer side
    * is tiny no matter the fact size — and a TakeOrderedAndProject.
    * The DuckDB twin spells it as the OTHER algorithm: row_number +
    * double self-join on rn+1 / rn+2. */
  val eventPaths: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
        col("e3").as("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("step1"), col("step2"), col("step3"))
      .limit(20)
  }

  /** q184 — END-OF-DAY balance snapshots: the semi-additive-measure
    * primitive — a periodic snapshot fact (balance at each day's end,
    * event-less days carrying the last value forward) derived from
    * the transaction stream, the thing a balance-sheet mart
    * materializes because period-end values cannot be summed out of
    * deltas by any window (the balance is q147's capped fold). The
    * fold engine extends once more: the `aggregate` HOF state carries
    * the running balance PLUS the emitted (day, end-balance) list —
    * bounded by the CALENDAR, not by events — and flushes an entry
    * whenever the day advances; an explode and the q119 de-joined
    * sequence fill then carry balances across event-less days. One
    * user-keyed exchange end to end. The DuckDB twin derives every
    * day end independently — recursive-CTE fold for per-event
    * balances, then an as-of argmax (max_by over events at-or-before
    * each generated day) — so the flush-and-fill algebra is
    * cross-checked against literal point lookups. */
  val eodBalances: Q = (s, d) => {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100)
      .cast(DecimalType(18, 0)).cast(LongType)
    val delta = when(col("event_type").isin("purchase", "signup"), cents)
      .otherwise(-cents)
    val observed = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"), col("event_id"),
        unix_date(col("ts").cast(DateType)).as("dayn"),
        delta.as("delta"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("tsm"), col("event_id"),
        col("dayn"), col("delta")))).as("evs"))
      .select(col("user_id"),
        expr("""aggregate(evs,
            named_struct('bal', CAST(0 AS BIGINT), 'cur', -1,
              'out', CAST(array() AS ARRAY<STRUCT<dayn: INT, bal: BIGINT>>)),
            (st, e) -> named_struct(
              'bal', greatest(st.bal + e.delta, CAST(0 AS BIGINT)),
              'cur', e.dayn,
              'out', CASE WHEN st.cur >= 0 AND e.dayn > st.cur
                THEN concat(st.out, array(named_struct('dayn', st.cur,
                                                       'bal', st.bal)))
                ELSE st.out END),
            st -> concat(st.out, array(named_struct('dayn', st.cur,
                                                    'bal', st.bal))))""").as("ends"))
      .select(col("user_id"), explode(col("ends")).as("e"))
      .select(col("user_id"), col("e.dayn").as("dayn"), col("e.bal").as("bal"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("dayn"))
    observed
      .withColumn("next_day", lead(col("dayn"), 1).over(w))
      .select(col("user_id"), col("bal"),
        explode(sequence(col("dayn"),
          coalesce(col("next_day") - 1, col("dayn")))).as("m"))
      .select(col("user_id"),
        date_format(date_add(to_date(lit("1970-01-01")), col("m")), "yyyy-MM-dd")
          .as("day"),
        col("bal").as("eod_balance_cents"))
      .orderBy(col("user_id"), col("day"))
  }

  /** q183 — session MEAN RECIPROCAL RANK of conversion: within each
    * user's 30-minute lag-gap sessions (q27's boundary rule), the
    * position of the FIRST purchase, folded per user into the classic
    * relevance metric — MRR over converting sessions — in exact
    * micro-units (1e6 div position per session, integer-averaged), so
    * both engines land identical digits with no float reciprocal. The
    * search/recs evaluation primitive, here reading "how early in a
    * session does conversion happen".
    *
    * Scale shape: everything is user-keyed — the gap flag and session
    * numbering share one sorted window pass, the in-session position
    * is a second window on (user, session), and both aggregations
    * reduce onto user — no global ordering anywhere. The DuckDB twin
    * spells the identical associative pipeline (lag-gap islands +
    * row_number); unlike the fold family there is no recurrence here,
    * so the twin's value is the usual independent-engine replay. */
  val sessionMrr: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsm"), col("event_id"))
    val sessGapUs = 1800000000L // 30 minutes, the q27 boundary
    val evs = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"),
        col("event_id"), col("event_type"))
      .withColumn("new_sess",
        when(col("tsm") - lag(col("tsm"), 1).over(w) <= sessGapUs, 0L).otherwise(1L))
      .withColumn("sid", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    val wp = Window.partitionBy(col("user_id"), col("sid"))
      .orderBy(col("tsm"), col("event_id"))
    evs.withColumn("pos", row_number().over(wp))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(when(col("event_type") === "purchase", col("pos"))).as("first_pos"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        count(col("first_pos")).as("n_converting"),
        coalesce(sum(expr("1000000L div first_pos")), lit(0L)).as("rr_sum"))
      .select(col("user_id"), col("n_sessions"), col("n_converting"),
        when(col("n_converting") > 0, expr("rr_sum div n_converting"))
          .otherwise(0L).as("mrr_micro"))
      .orderBy(col("user_id"))
  }

  /** q180 — TIME-WEIGHTED average balance (TWAB): the fintech
    * interest-accrual primitive — each user's capped wallet balance
    * (q147's recurrence) weighted by how long it was HELD, not how
    * often it changed: area accrues as balance × elapsed before every
    * event re-folds it. A plain AVG over event rows is wrong whenever
    * holding times are uneven, and no window spelling exists because
    * the running balance itself is the non-associative capped fold —
    * so this extends the q147/q173/q175 engine family with
    * TIME-WEIGHTED state: the same single user-keyed exchange and
    * `aggregate` HOF, the state now carrying (balance, area, last
    * event time, span, n). Exact integers end to end: cent·ms area
    * with per-interval µs→ms floor-div (documented, engine-identical);
    * cent·ms holds to ~9·10¹⁸ — a century-long 10⁹-cent balance is
    * ~3·10²¹, so extreme ledgers would rescale to cent·seconds. The
    * DuckDB twin replays the recurrence as a bounded recursive CTE
    * (the q147 pairing). TWAB over a zero span (single-event users)
    * is defined as the final balance. */
  val timeWeightedBalance: Q = (s, d) => {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100)
      .cast(DecimalType(18, 0)).cast(LongType)
    val delta = when(col("event_type").isin("purchase", "signup"), cents)
      .otherwise(-cents)
    Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"),
        col("event_id"), delta.as("delta"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("tsm"), col("event_id"),
        col("delta")))).as("evs"))
      .select(col("user_id"), size(col("evs")).as("n_events"),
        expr("""aggregate(evs,
            named_struct('bal', CAST(0 AS BIGINT), 'area', CAST(0 AS BIGINT),
                         'last', CAST(0 AS BIGINT), 'span', CAST(0 AS BIGINT),
                         'n', CAST(0 AS BIGINT)),
            (st, e) -> named_struct(
              'bal', greatest(st.bal + e.delta, CAST(0 AS BIGINT)),
              'area', st.area + CASE WHEN st.n = 0 THEN CAST(0 AS BIGINT)
                ELSE st.bal * ((e.tsm - st.last) div 1000L) END,
              'last', e.tsm,
              'span', st.span + CASE WHEN st.n = 0 THEN CAST(0 AS BIGINT)
                ELSE (e.tsm - st.last) div 1000L END,
              'n', st.n + 1L))""").as("st"))
      .select(col("user_id"), col("n_events"),
        col("st.bal").as("final_balance_cents"),
        col("st.span").as("span_ms"),
        col("st.area").as("area_cent_ms"),
        when(col("st.span") > 0, expr("st.area div st.span"))
          .otherwise(col("st.bal")).as("twab_cents"))
      .orderBy(col("user_id"))
  }

  /** q177 — MULTI-TOUCH attribution: split every purchase's value
    * across the user's click/view touchpoints in the preceding 2 h
    * (q84's attribution window), under the three standard models at
    * once — linear (equal split), first-touch, last-touch — summed
    * per touch type, with an explicit `(none)` row for unattributed
    * purchases so the models reconcile to total purchase value. All
    * money stays exact integer cents: a purchase of v cents over k
    * touches pays `v div k` to each plus one remainder cent to each
    * of the first `v mod k` touches in (time, event_id) order — the
    * deterministic largest-remainder split both engines replay.
    *
    * Scale shape: q84's single user-keyed exchange, upgraded from
    * counting to COLLECTING — the range frame gathers each purchase's
    * touch structs (fan-out bounded by touches-per-2h, a rate cap,
    * not a data-size cap), posexplode prices them, and the reducer
    * side is the touch-type domain. No self-join ever forms. The
    * DuckDB twin runs the interval join + row_number spelling (q84's
    * cross-algorithm pairing) with the identical remainder rule. */
  val multitouchAttribution: Q = (s, d) => {
    val micros2h = 2L * 3600L * 1000000L
    val cents = (col("value").cast(DecimalType(18, 2)) * 100)
      .cast(DecimalType(18, 0)).cast(LongType)
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsm"))
      .rangeBetween(-micros2h, -1)
    val purchases = Tables.events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"),
        col("event_id"), col("event_type"), cents.as("cents"))
      .withColumn("touches", array_sort(collect_list(
        when(col("event_type") =!= "purchase",
          struct(col("tsm"), col("event_id"), col("event_type")))).over(w)))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("cents").as("v"),
        col("touches"))
    val attributed = purchases.filter(size(col("touches")) > 0)
      .select(col("purchase_id"), col("v"), size(col("touches")).cast(LongType)
        .as("k"), posexplode(col("touches")).as(Seq("pos", "t")))
      .select(col("t.event_type").as("touch_type"), col("purchase_id"),
        col("v"), col("k"), (col("pos") + 1).as("idx"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_attributions"),
        countDistinct(col("purchase_id")).as("n_purchases"),
        sum(expr("v div k") +
          when(col("idx") <= col("v") % col("k"), 1L).otherwise(0L))
          .as("linear_cents"),
        sum(when(col("idx") === 1, col("v")).otherwise(0L)).as("first_cents"),
        sum(when(col("idx") === col("k"), col("v")).otherwise(0L)).as("last_cents"))
    val untouched = purchases.filter(size(col("touches")) === 0)
      .agg(count(lit(1)).as("n_purchases"),
        coalesce(sum(col("v")), lit(0L)).as("unattributed_cents"))
      .select(lit("(none)").as("touch_type"), lit(0L).as("n_attributions"),
        col("n_purchases"), col("unattributed_cents").as("linear_cents"),
        col("unattributed_cents").as("first_cents"),
        col("unattributed_cents").as("last_cents"))
    attributed.unionByName(untouched).orderBy(col("touch_type"))
  }

  /** q175 — FIFO credit-lot attribution: replay each user's ledger
    * (the q147 deltas — positive amounts grant a credit LOT, negative
    * consume from the oldest open lot first, consumption beyond the
    * available balance is lost) and report per user the lot census the
    * wallet's scalar balance cannot see: lots granted/exhausted/open,
    * cents granted/consumed/remaining, the FIFO FRONTIER (grant time
    * of the oldest lot still open) and shortfall hits. Zero-amount
    * events are no-ops on both engines.
    *
    * The naive spelling is a QUEUE-state ordered fold — per-user list
    * state that grows with open lots, the step past q147/q173's
    * scalar folds. The engine insight is that the queue NEVER needs to
    * materialize: FIFO consumes lots in grant order, so the total
    * consumed (a SCALAR: grants minus the capped-fold final balance)
    * determines every lot's fate by pure algebra — a lot is exhausted
    * iff its running grant cumsum ≤ consumed, the frontier is the
    * first lot past it. So the plan is the q147 capped `aggregate`
    * fold (final balance + shortfalls) joined to a grant-cumsum
    * window, every stage on the SAME user key: one exchange shape,
    * O(1) state per user instead of O(open lots). The DuckDB twin
    * deliberately runs the algorithm Spark avoided: a recursive CTE
    * carrying the LITERAL lot list (list_transform/list_filter
    * consume pass per debit) — cross-algorithm evidence for the
    * reduction, a queue simulation checking a closed form. */
  val fifoLots: Q = (s, d) => {
    val cents = (col("value").cast(DecimalType(18, 2)) * 100)
      .cast(DecimalType(18, 0)).cast(LongType)
    val delta = when(col("event_type").isin("purchase", "signup"), cents)
      .otherwise(-cents)
    val evs = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"),
        col("event_id"), delta.as("delta"))
    // scalar capped fold — exactly q147's recurrence: remaining
    // balance + shortfall count, one user-keyed exchange
    // r16 (guide §4): same codegen sort+fold kernel as q147 — it IS
    // q147's recurrence (bal = final balance, floors = shortfalls)
    val folded = evs.groupBy(col("user_id"))
      .agg(collect_list(struct(col("tsm"), col("event_id"),
        col("delta"))).as("evs"))
      .select(col("user_id"),
        graft.functions.FoldOps.wallet_fold(col("evs")).as("st"))
      .select(col("user_id"), col("st.bal").as("remaining_cents"),
        col("st.floors").as("n_shortfalls"))
    // grant lots in FIFO (= grant) order with their running cumsum;
    // same user key as the fold, so the join below adds no exchange
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("tsm"), col("event_id"), col("delta"))
    val lots = evs.filter(col("delta") > 0)
      .withColumn("cum", sum(col("delta")).over(wOrd))
    val lotStatus = lots.join(folded, Seq("user_id"))
      .withColumn("granted",
        sum(col("delta")).over(Window.partitionBy(col("user_id"))))
      .withColumn("consumed", col("granted") - col("remaining_cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_lots"),
        max(col("granted")).as("granted_cents"),
        max(col("consumed")).as("consumed_cents"),
        sum(when(col("cum") <= col("consumed"), 1L).otherwise(0L))
          .as("n_exhausted"),
        min(when(col("cum") > col("consumed"), col("tsm")))
          .as("fifo_frontier_us"))
    folded.join(lotStatus, Seq("user_id"), "left")
      .select(col("user_id"),
        coalesce(col("n_lots"), lit(0L)).as("n_lots"),
        coalesce(col("granted_cents"), lit(0L)).as("granted_cents"),
        coalesce(col("consumed_cents"), lit(0L)).as("consumed_cents"),
        coalesce(col("n_exhausted"), lit(0L)).as("n_exhausted"),
        (coalesce(col("n_lots"), lit(0L)) - coalesce(col("n_exhausted"), lit(0L)))
          .as("n_open"),
        col("fifo_frontier_us"),
        col("remaining_cents"), col("n_shortfalls"))
      .orderBy(col("user_id"))
  }

  /** q186 — 5-step ABSORPTION probability: from each event type, the
    * probability that a user's next five transitions reach `purchase`
    * — the absorbing-Markov read of the q101/q174 transition
    * machinery ("how close is each behavior to converting"), the
    * per-state complement of q167's realized-latency curve. Exact
    * integer micro end to end, the q127 integer-iteration discipline:
    * the recurrence p_k(t) = Σ_n c(t→n)·p_{k−1}(n) div out(t) (with
    * `purchase` absorbing at 10⁶) is one integer-truncating division
    * per state per step, identical on both engines, so five
    * iterations stay bit-exact — no float matrix powers.
    *
    * Scale shape: the only data-sized work is the transition-count
    * build (q174's one user-keyed window pass, reducer = |types|²);
    * the matrix itself is CALENDAR-bounded (|types|² ≤ ~25 rows), so
    * the five iterations fold DRIVER-SIDE on the collected exact
    * integers — the q83/q154 domain-bounded-collect discipline —
    * instead of five sequential tiny-join rounds whose plan overhead
    * dominated the data (VERDICT r9 #7: 2.2 s of scheduling for
    * microseconds of arithmetic). Scala's `/` on the non-negative
    * Longs is the same truncating division as both engines' `div`,
    * so the fold is bit-identical to the joined spelling (pinned by
    * EventTimeSpec). The DuckDB twin still unrolls the five steps as
    * chained CTEs (the q127 pairing), generated from the same
    * recurrence — the distributed spelling remains the cross-check. */
  val absorptionSteps = 5

  val conversionAbsorption: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val types = (trans.map(_._1) ++ trans.map(_._2)).distinct.sorted
    val bySrc = trans.groupBy(_._1)
    val out = bySrc.map { case (src, es) => src -> es.map(_._3).sum }
    var p = types.map(t => t -> (if (t == "purchase") 1000000L else 0L)).toMap
    for (_ <- 1 to absorptionSteps) {
      p = types.map { t =>
        t -> (if (t == "purchase") 1000000L
        else bySrc.get(t)
          .map(es => es.map { case (_, dst, n) => n * p(dst) }.sum / out(t))
          .getOrElse(0L))
      }.toMap
    }
    val spark = s
    import spark.implicits._
    types.toSeq.map(t => (t, p(t))).toDF("event_type", "p5_micro")
      .orderBy(col("event_type"))
  }

  /** q167 — time-to-convert curve: for every purchase with a preceding
    * same-user click (the q29 as-of pairing, same single-exchange
    * union spelling — no join), the click→purchase latency in whole
    * minutes, rolled into the cumulative conversion-latency curve
    * ("p% of conversions happen within m minutes") — the
    * marketing/SLA read of the as-of operator. Latency is an EXACT
    * integer (µs difference div 60e6 — floor on both engines for the
    * non-negative difference), the histogram collapses pairs to the
    * minute domain before any ordering, and the cumulative pass runs
    * the [[graft.queries.Stats.rangeShards]] two-phase prefix over the
    * minute-domain frame. cum_ppm is the one terminal integer
    * division, against the driver-computed total (exact from the
    * shard sums). */
  val conversionLatency: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        lit(null).cast(LongType).as("purchase_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("purchase_id").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, 0)
    val hist = clicks.unionByName(purchases)
      .withColumn("last_click_ts",
        last(when(col("purchase_id").isNull, col("ts")), ignoreNulls = true).over(w))
      .filter(col("purchase_id").isNotNull && col("last_click_ts").isNotNull)
      .groupBy(expr("(unix_micros(ts) - unix_micros(last_click_ts)) div 60000000")
        .as("minute_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
    val (ranged, shards) = graft.queries.Stats.rangeShards(hist,
      Seq(col("minute_bucket")), sum(col("n_pairs")).as("s"))
    val (offDf, totals) = graft.queries.Stats.exclusiveOffsets(
      s, shards, Seq("_off"), Seq(0L))
    val total = totals.head.asInstanceOf[Long]
    val wc = Window.partitionBy(col("_pid")).orderBy(col("minute_bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offDf), Seq("_pid"))
      .withColumn("cum_pairs", col("_off") + sum(col("n_pairs")).over(wc))
      .select(col("minute_bucket"), col("n_pairs"), col("cum_pairs"),
        expr(s"1000000 * cum_pairs div ${total}L").as("cum_ppm"))
      .orderBy(col("minute_bucket"))
  }

  val queries: Map[String, Q] = Map(
    "q167_conversion_latency" -> conversionLatency,
    "q173_event_debounce" -> debounce,
    "q174_event_paths" -> eventPaths,
    "q175_fifo_lots" -> fifoLots,
    "q177_multitouch_attribution" -> multitouchAttribution,
    "q180_time_weighted_balance" -> timeWeightedBalance,
    "q183_session_mrr" -> sessionMrr,
    "q184_eod_balances" -> eodBalances,
    "q186_conversion_absorption" -> conversionAbsorption,
    "q147_capped_wallet" -> cappedWallet,
    "q124_rolling_active_users" -> rollingActiveUsers,
    "q200_recency_weights" -> recencyWeights,
    "q119_hourly_gap_fill" -> hourlyGapFill,
    "q121_activity_streaks" -> activityStreaks,
    "q101_session_transitions" -> sessionTransitions,
    "q93_hll_distinct_incremental" -> hllDistinctIncremental,
    "q89_asof_with_tolerance" -> asofWithTolerance,
    "q84_purchase_attribution" -> purchaseAttribution,
    "q83_session_concurrency" -> sessionConcurrency,
    "q41_json_extract" -> jsonExtract,
    "q25_events_hourly" -> hourly,
    "q26_events_sliding" -> sliding,
    "q27_events_sessions" -> sessions,
    "q28_user_activity" -> userActivity,
    "q29_asof_click_purchase" -> asofClickPurchase,
    "q77_event_funnel" -> funnel,
    "q78_cohort_retention" -> cohortRetention,
    "q80_error_bursts" -> errorBursts,
  )

  val oracle: Map[String, String] = Map(
    // the same capped fold as a bounded recursive CTE: step rn -> rn+1
    // per user; recursion depth = max events per user
    "q147_capped_wallet" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |         THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS delta,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id,
        |      CASE WHEN event_type IN ('purchase', 'signup')
        |           THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END) AS rn
        |  FROM events
        |), walk(user_id, rn, bal, floors) AS (
        |  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT user_id FROM ev)
        |  UNION ALL
        |  SELECT w.user_id, w.rn + 1,
        |    greatest(w.bal + e.delta, 0),
        |    w.floors + CASE WHEN w.bal + e.delta < 0 THEN 1 ELSE 0 END
        |  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
        |), n AS (
        |  SELECT user_id, count(*) AS n_events FROM ev GROUP BY user_id
        |)
        |SELECT w.user_id, w.bal AS final_balance_cents,
        |  w.floors AS n_floor_hits, CAST(n.n_events AS INTEGER) AS n_events
        |FROM walk w JOIN n ON w.user_id = n.user_id AND w.rn = n.n_events
        |ORDER BY w.user_id""".stripMargin,
    // the identical refractory recurrence replayed as a bounded
    // recursive CTE over row_number-ordered events (the q147 pairing)
    "q173_event_debounce" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, epoch_us(ts) AS tsm,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS rn
         |  FROM events
         |), walk(user_id, rn, last_kept, n_kept, first_kept) AS (
         |  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |    CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |  FROM (SELECT DISTINCT user_id FROM ev)
         |  UNION ALL
         |  SELECT w.user_id, w.rn + 1,
         |    CASE WHEN w.n_kept = 0 OR e.tsm - w.last_kept >= ${debounceGapUs}
         |         THEN e.tsm ELSE w.last_kept END,
         |    w.n_kept + CASE WHEN w.n_kept = 0
         |                      OR e.tsm - w.last_kept >= ${debounceGapUs}
         |                    THEN 1 ELSE 0 END,
         |    CASE WHEN w.n_kept = 0 THEN e.tsm ELSE w.first_kept END
         |  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
         |), n AS (
         |  SELECT user_id, count(*) AS n_events FROM ev GROUP BY user_id
         |)
         |SELECT w.user_id, CAST(n.n_events AS INTEGER) AS n_events,
         |  w.n_kept, w.first_kept AS first_kept_us, w.last_kept AS last_kept_us
         |FROM walk w JOIN n ON w.user_id = n.user_id AND w.rn = n.n_events
         |ORDER BY w.user_id""".stripMargin,
    // the five absorption iterations unrolled as chained CTEs (the
    // q127 pairing), generated from the same integer recurrence
    "q186_conversion_absorption" -> {
      val steps = (1 to absorptionSteps).map { k =>
        s"""p$k AS (
           |  SELECT ty.ty,
           |    CASE WHEN ty.ty = 'purchase' THEN CAST(1000000 AS BIGINT)
           |         ELSE coalesce(CAST(sum(tr.n * pp.p) AS BIGINT)
           |                       // max(tot.t), 0)
           |    END AS p
           |  FROM types ty
           |  LEFT JOIN tr ON tr.src = ty.ty
           |  LEFT JOIN p${k - 1} pp ON pp.ty = tr.dst
           |  LEFT JOIN tot ON tot.src = ty.ty
           |  GROUP BY ty.ty
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH ev AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM events
         |), tr AS (
         |  SELECT a.event_type AS src, b.event_type AS dst, count(*) AS n
         |  FROM ev a JOIN ev b ON a.user_id = b.user_id AND b.rn = a.rn + 1
         |  GROUP BY 1, 2
         |), tot AS (
         |  SELECT src, CAST(sum(n) AS BIGINT) AS t FROM tr GROUP BY 1
         |), types AS (
         |  SELECT src AS ty FROM tr UNION SELECT dst FROM tr
         |), p0 AS (
         |  SELECT ty, CAST(CASE WHEN ty = 'purchase' THEN 1000000 ELSE 0 END
         |    AS BIGINT) AS p
         |  FROM types
         |), $steps
         |SELECT ty AS event_type, p AS p5_micro
         |FROM p$absorptionSteps ORDER BY event_type""".stripMargin
    },
    // every day end derived independently: recursive-CTE fold for
    // per-event balances, then an as-of argmax per generated day —
    // literal point lookups cross-checking the flush-and-fill algebra
    "q184_eod_balances" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) AS dayn,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |         THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS delta,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events
        |), walk(user_id, rn, bal) AS (
        |  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT user_id FROM ev)
        |  UNION ALL
        |  SELECT w.user_id, w.rn + 1, greatest(w.bal + e.delta, 0)
        |  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
        |), evw AS (
        |  SELECT e.user_id, e.rn, e.dayn, w.bal
        |  FROM ev e JOIN walk w ON w.user_id = e.user_id AND w.rn = e.rn
        |), bounds AS (
        |  SELECT user_id, min(dayn) AS lo, max(dayn) AS hi FROM ev GROUP BY 1
        |), days AS (
        |  SELECT user_id, unnest(generate_series(lo, hi)) AS dayn FROM bounds
        |)
        |SELECT d.user_id,
        |  strftime(DATE '1970-01-01' + CAST(d.dayn AS INTEGER), '%Y-%m-%d') AS day,
        |  max_by(e.bal, e.rn) AS eod_balance_cents
        |FROM days d JOIN evw e ON e.user_id = d.user_id AND e.dayn <= d.dayn
        |GROUP BY d.user_id, d.dayn
        |ORDER BY d.user_id, d.dayn""".stripMargin,
    // lag-gap islands + row_number — the independent-engine replay of
    // the same associative pipeline; reciprocals in integer micro
    "q183_session_mrr" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id, event_type,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
        |        (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |      <= 1800000000 THEN 0 ELSE 1 END AS new_sess
        |  FROM events
        |), sess AS (
        |  SELECT user_id, tsm, event_id, event_type,
        |    sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY tsm, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM ev
        |), pos AS (
        |  SELECT user_id, sid, event_type,
        |    row_number() OVER (PARTITION BY user_id, sid
        |      ORDER BY tsm, event_id) AS pos
        |  FROM sess
        |), fp AS (
        |  SELECT user_id, sid,
        |    min(CASE WHEN event_type = 'purchase' THEN pos END) AS first_pos
        |  FROM pos GROUP BY 1, 2
        |)
        |SELECT user_id, count(*) AS n_sessions,
        |  count(first_pos) AS n_converting,
        |  CASE WHEN count(first_pos) > 0
        |    THEN CAST(coalesce(sum(1000000 // first_pos), 0) AS BIGINT)
        |         // count(first_pos)
        |    ELSE 0 END AS mrr_micro
        |FROM fp GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the time-weighted recurrence replayed as a bounded recursive
    // CTE (the q147 pairing); per-interval µs→ms floor-div identical
    "q180_time_weighted_balance" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS tsm,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |         THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS delta,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events
        |), walk(user_id, rn, bal, area, last_tsm, span) AS (
        |  SELECT user_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT user_id FROM ev)
        |  UNION ALL
        |  SELECT w.user_id, w.rn + 1,
        |    greatest(w.bal + e.delta, 0),
        |    w.area + CASE WHEN w.rn = 0 THEN 0
        |                  ELSE w.bal * ((e.tsm - w.last_tsm) // 1000) END,
        |    e.tsm,
        |    w.span + CASE WHEN w.rn = 0 THEN 0
        |                  ELSE (e.tsm - w.last_tsm) // 1000 END
        |  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
        |), n AS (
        |  SELECT user_id, count(*) AS n_events FROM ev GROUP BY user_id
        |)
        |SELECT w.user_id, CAST(n.n_events AS INTEGER) AS n_events,
        |  w.bal AS final_balance_cents, w.span AS span_ms,
        |  w.area AS area_cent_ms,
        |  CASE WHEN w.span > 0 THEN w.area // w.span ELSE w.bal END AS twab_cents
        |FROM walk w JOIN n ON w.user_id = n.user_id AND w.rn = n.n_events
        |ORDER BY w.user_id""".stripMargin,
    // interval join + row_number — the q84 cross-algorithm pairing —
    // with the identical largest-remainder cent split
    "q177_multitouch_attribution" ->
      """WITH p AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id, event_type
        |  FROM events WHERE event_type IN ('click', 'view')
        |), j AS (
        |  SELECT p.event_id AS pid, p.v, t.event_type,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY t.tsm, t.event_id) AS idx,
        |    count(*) OVER (PARTITION BY p.event_id) AS k
        |  FROM p JOIN t ON p.user_id = t.user_id
        |    AND t.tsm >= p.tsm - 7200000000 AND t.tsm < p.tsm
        |), att AS (
        |  SELECT event_type AS touch_type, pid, v, idx, k,
        |    v // k + CASE WHEN idx <= v % k THEN 1 ELSE 0 END AS credit
        |  FROM j
        |), touch AS (
        |  SELECT touch_type, count(*) AS n_attributions,
        |    count(DISTINCT pid) AS n_purchases,
        |    CAST(sum(credit) AS BIGINT) AS linear_cents,
        |    CAST(sum(CASE WHEN idx = 1 THEN v ELSE 0 END) AS BIGINT) AS first_cents,
        |    CAST(sum(CASE WHEN idx = k THEN v ELSE 0 END) AS BIGINT) AS last_cents
        |  FROM att GROUP BY touch_type
        |), none_row AS (
        |  SELECT '(none)' AS touch_type, CAST(0 AS BIGINT) AS n_attributions,
        |    count(*) AS n_purchases,
        |    CAST(coalesce(sum(v), 0) AS BIGINT) AS linear_cents,
        |    CAST(coalesce(sum(v), 0) AS BIGINT) AS first_cents,
        |    CAST(coalesce(sum(v), 0) AS BIGINT) AS last_cents
        |  FROM p WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.pid = p.event_id)
        |)
        |SELECT * FROM touch UNION ALL SELECT * FROM none_row
        |ORDER BY touch_type""".stripMargin,
    // the algorithm the Spark side deliberately avoids: a recursive
    // CTE carrying the LITERAL FIFO lot list, with a
    // list_transform/list_filter consume pass per debit — the queue
    // simulation that cross-checks the closed-form lot algebra
    "q175_fifo_lots" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS tsm, event_id,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |         THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS delta,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events
        |), walk(user_id, rn, lots, short) AS (
        |  SELECT user_id, CAST(0 AS BIGINT),
        |    CAST([] AS STRUCT(tsm BIGINT, rem BIGINT)[]), CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT user_id FROM ev)
        |  UNION ALL
        |  SELECT w.user_id, w.rn + 1,
        |    CASE WHEN e.delta > 0
        |      THEN list_append(w.lots, {'tsm': e.tsm, 'rem': e.delta})
        |      ELSE list_filter(
        |        list_transform(w.lots, (l, i) -> CASE
        |          WHEN list_sum(list_transform(w.lots[1:i], x -> x.rem))
        |               <= least(-e.delta,
        |                    coalesce(list_sum(list_transform(w.lots, x -> x.rem)), 0))
        |            THEN NULL
        |          WHEN list_sum(list_transform(w.lots[1:i], x -> x.rem)) - l.rem
        |               < least(-e.delta,
        |                    coalesce(list_sum(list_transform(w.lots, x -> x.rem)), 0))
        |            THEN {'tsm': l.tsm,
        |                  'rem': list_sum(list_transform(w.lots[1:i], x -> x.rem))
        |                         - least(-e.delta,
        |                             coalesce(list_sum(list_transform(w.lots, x -> x.rem)), 0))}
        |          ELSE l END),
        |        l -> l.tsm IS NOT NULL)
        |    END,
        |    w.short + CASE WHEN e.delta < 0 AND -e.delta >
        |        coalesce(list_sum(list_transform(w.lots, x -> x.rem)), 0)
        |      THEN 1 ELSE 0 END
        |  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
        |), n AS (
        |  SELECT user_id, count(*) AS n_events FROM ev GROUP BY user_id
        |), fin AS (
        |  SELECT w.user_id, w.lots, w.short
        |  FROM walk w JOIN n ON w.user_id = n.user_id AND w.rn = n.n_events
        |), credits AS (
        |  SELECT user_id, count(*) AS n_lots,
        |    CAST(sum(delta) AS BIGINT) AS granted
        |  FROM ev WHERE delta > 0 GROUP BY user_id
        |)
        |SELECT f.user_id,
        |  coalesce(c.n_lots, 0) AS n_lots,
        |  coalesce(c.granted, 0) AS granted_cents,
        |  CAST(coalesce(c.granted, 0)
        |    - coalesce(list_sum(list_transform(f.lots, x -> x.rem)), 0)
        |    AS BIGINT) AS consumed_cents,
        |  CAST(coalesce(c.n_lots, 0) - len(f.lots) AS BIGINT) AS n_exhausted,
        |  CAST(len(f.lots) AS BIGINT) AS n_open,
        |  f.lots[1].tsm AS fifo_frontier_us,
        |  CAST(coalesce(list_sum(list_transform(f.lots, x -> x.rem)), 0)
        |    AS BIGINT) AS remaining_cents,
        |  f.short AS n_shortfalls
        |FROM fin f LEFT JOIN credits c USING (user_id)
        |ORDER BY f.user_id""".stripMargin,
    // row_number + double self-join on rn+1 / rn+2 — the other
    // spelling of consecutive-triple enumeration
    "q174_event_paths" ->
      """WITH ev AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |)
        |SELECT a.event_type AS step1, b.event_type AS step2,
        |  c.event_type AS step3, count(*) AS n_paths
        |FROM ev a
        |JOIN ev b ON a.user_id = b.user_id AND b.rn = a.rn + 1
        |JOIN ev c ON a.user_id = c.user_id AND c.rn = a.rn + 2
        |GROUP BY 1, 2, 3
        |ORDER BY n_paths DESC, step1, step2, step3 LIMIT 20""".stripMargin,
    "q200_recency_weights" ->
      """WITH anchor AS (
        |  SELECT max(CAST(date_trunc('day', ts) AS DATE)) AS anchor FROM events
        |), weighted AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
        |    1000000 // (CAST(1 AS BIGINT) << CAST(least(
        |      date_diff('day', CAST(date_trunc('day', ts) AS DATE), anchor) // 7,
        |      20) AS INTEGER)) AS w_ppm
        |  FROM events, anchor
        |)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(w_ppm) AS BIGINT) AS score_ppm,
        |  strftime(max(day), '%Y-%m-%d') AS last_day
        |FROM weighted GROUP BY user_id
        |ORDER BY score_ppm DESC, user_id LIMIT 20""".stripMargin,
    "q124_rolling_active_users" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events
        |), bounds AS (
        |  SELECT min(day) AS lo, max(day) AS hi FROM days
        |), contrib AS (
        |  SELECT user_id, day + CAST(o.off AS INTEGER) AS win_end
        |  FROM days CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS off) o
        |)
        |SELECT strftime(win_end, '%Y-%m-%d') AS win_end,
        |  count(DISTINCT user_id) AS active_7d
        |FROM contrib, bounds
        |WHERE win_end BETWEEN lo AND hi
        |GROUP BY win_end""".stripMargin,
    "q119_hourly_gap_fill" ->
      s"""WITH hourly AS (
         |  SELECT user_id, date_trunc('hour', ts) AS hour,
         |    count(*) AS n_events, ${Qx.sqlDsum("value")} AS sum_value
         |  FROM events GROUP BY 1, 2
         |), spine AS (
         |  SELECT user_id,
         |    unnest(generate_series(min(hour), max(hour), INTERVAL 1 HOUR)) AS hour
         |  FROM hourly GROUP BY user_id
         |)
         |SELECT s.user_id,
         |  strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour_start,
         |  CAST(h.n_events IS NOT NULL AS INTEGER) AS observed,
         |  coalesce(h.n_events, 0) AS n_events,
         |  last_value(h.sum_value IGNORE NULLS) OVER (
         |    PARTITION BY s.user_id ORDER BY s.hour
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
         |FROM spine s LEFT JOIN hourly h
         |  ON s.user_id = h.user_id AND s.hour = h.hour""".stripMargin,
    "q121_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events
        |), islands AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS island
        |  FROM days
        |), streaks AS (
        |  SELECT user_id, island, count(*) AS len, min(day) AS start_day
        |  FROM islands GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY len DESC, start_day) AS rk
        |  FROM streaks
        |)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days, count(*) AS n_streaks,
        |  max(CASE WHEN rk = 1 THEN len END) AS longest_streak,
        |  strftime(max(CASE WHEN rk = 1 THEN start_day END), '%Y-%m-%d') AS longest_start
        |FROM ranked GROUP BY user_id""".stripMargin,
    // the identical lag-gap sessionization + lead transition windows;
    // (ts, event_id) is a total order, so the running-sum default
    // RANGE frame equals ROWS on both engines
    "q101_session_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
        |  FROM e
        |), t AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS to_type
        |  FROM s
        |)
        |SELECT from_type, to_type, count(*) AS n_transitions
        |FROM t WHERE to_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // correlated bounded-max subquery — cross-algorithm twin of the
    // union+last_value single-exchange form
    "q89_asof_with_tolerance" ->
      s"""WITH p AS (
         |  SELECT user_id, event_id AS purchase_id, ts FROM events
         |  WHERE event_type = 'purchase'
         |)
         |SELECT p.user_id, p.purchase_id,
         |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  strftime((
         |    SELECT max(v.ts) FROM events v
         |    WHERE v.user_id = p.user_id AND v.event_type = 'view'
         |      AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL ${asofToleranceMinutes} MINUTE),
         |    '%Y-%m-%d %H:%M:%S') AS view_ts,
         |  CAST(epoch_us(p.ts) - epoch_us((
         |    SELECT max(v.ts) FROM events v
         |    WHERE v.user_id = p.user_id AND v.event_type = 'view'
         |      AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL ${asofToleranceMinutes} MINUTE))
         |    AS DOUBLE) / 60000000.0 AS staleness_min
         |FROM p ORDER BY p.user_id, p.purchase_id""".stripMargin,
    // the NAIVE interval join — cross-algorithm twin of the Spark
    // side's range-framed window (no join there at all)
    "q84_purchase_attribution" ->
      s"""WITH p AS (
         |  SELECT user_id, event_id, ts FROM events
         |  WHERE event_type = 'purchase'
         |), a AS (
         |  SELECT user_id, ts, event_type FROM events
         |  WHERE event_type IN ('view', 'click')
         |)
         |SELECT p.user_id, p.event_id AS purchase_id,
         |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
         |  CAST(coalesce(sum(CASE WHEN a.event_type = 'view' THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_views_2h,
         |  CAST(coalesce(sum(CASE WHEN a.event_type = 'click' THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_clicks_2h
         |FROM p LEFT JOIN a ON a.user_id = p.user_id
         |  AND a.ts >= p.ts - INTERVAL 2 HOUR AND a.ts < p.ts
         |GROUP BY p.user_id, p.event_id, p.ts
         |ORDER BY p.user_id, purchase_id""".stripMargin,
    // q80's lag-replay sessionization (parity with session_window
    // proven by the q27/q80 oracles), swept via one global running
    // sum — the naive twin of the Spark side's day-sharded prefix sum
    "q83_session_concurrency" ->
      s"""WITH ordered AS (
         |  SELECT user_id, event_id, ts,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |              >= INTERVAL 30 MINUTE OR
         |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |), grp AS (
         |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
         |  FROM ordered
         |), sess AS (
         |  SELECT user_id, min(ts) AS start_ts,
         |    max(ts) + INTERVAL 30 MINUTE AS end_ts
         |  FROM grp GROUP BY user_id, session_no
         |), deltas AS (
         |  SELECT user_id, start_ts AS ts, 1 AS delta FROM sess
         |  UNION ALL SELECT user_id, end_ts AS ts, -1 AS delta FROM sess
         |), swept AS (
         |  SELECT ts, delta,
         |    sum(delta) OVER (ORDER BY ts, delta, user_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
         |  FROM deltas
         |)
         |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         |  CAST(max(conc) AS BIGINT) AS max_concurrent,
         |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
         |  CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ends
         |FROM swept GROUP BY 1 ORDER BY 1""".stripMargin,
    "q80_error_bursts" ->
      s"""WITH ordered AS (
         |  SELECT user_id, event_id, ts, event_type,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |              >= INTERVAL 30 MINUTE OR
         |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |), grp AS (
         |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
         |  FROM ordered
         |)
         |SELECT user_id,
         |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |  count(*) AS n_events,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS error_rate,
         |  (sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) >= 3 AND
         |   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 2 >= count(*)) AS is_burst
         |FROM grp GROUP BY user_id, session_no
         |HAVING sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) >= 1
         |ORDER BY user_id, session_start""".stripMargin,
    "q77_event_funnel" ->
      """WITH f AS (
        |  SELECT user_id, ts, event_type,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS first_view
        |  FROM events
        |), g AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > first_view THEN ts END)
        |      OVER (PARTITION BY user_id) AS first_click
        |  FROM f
        |), h AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > first_click THEN ts END)
        |      OVER (PARTITION BY user_id) AS first_purchase
        |  FROM g
        |)
        |SELECT DISTINCT user_id,
        |  strftime(first_view, '%Y-%m-%d %H:%M:%S') AS first_view,
        |  strftime(first_click, '%Y-%m-%d %H:%M:%S') AS first_click,
        |  strftime(first_purchase, '%Y-%m-%d %H:%M:%S') AS first_purchase,
        |  CAST(CASE WHEN first_purchase IS NOT NULL THEN 3
        |       WHEN first_click IS NOT NULL THEN 2
        |       WHEN first_view IS NOT NULL THEN 1
        |       ELSE 0 END AS INTEGER) AS funnel_stage
        |FROM h
        |ORDER BY user_id""".stripMargin,
    "q78_cohort_retention" ->
      """WITH signups AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id
        |), active AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
        |)
        |SELECT strftime(cohort_week, '%Y-%m-%d %H:%M:%S') AS cohort_week,
        |  CAST(date_diff('day', cohort_week, week) // 7 AS INTEGER) AS week_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM signups JOIN active USING (user_id)
        |WHERE date_diff('day', cohort_week, week) >= 0
        |GROUP BY signups.cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q41_json_extract" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS n_with_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |  max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q25_events_hourly" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         |  event_type, count(*) AS n_events, ${Qx.sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin,
    "q26_events_sliding" ->
      s"""SELECT strftime(date_trunc('hour', ts) - off.o * INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_start,
         |  event_type, count(*) AS n_events, ${Qx.sqlDsum("value")} AS sum_value
         |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) off
         |GROUP BY 1, 2""".stripMargin,
    "q27_events_sessions" ->
      s"""WITH ordered AS (
         |  SELECT user_id, event_id, ts, value,
         |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |              >= INTERVAL 30 MINUTE OR
         |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM events
         |), grp AS (
         |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
         |  FROM ordered
         |)
         |SELECT user_id,
         |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |  count(*) AS n_events, ${Qx.sqlDsum("value")} AS sum_value
         |FROM grp GROUP BY user_id, session_no""".stripMargin,
    "q167_conversion_latency" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, CAST(NULL AS BIGINT) AS purchase_id
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, event_id
        |  FROM events WHERE event_type = 'purchase'
        |), marked AS (
        |  SELECT *, last_value(CASE WHEN purchase_id IS NULL THEN ts END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, purchase_id ASC NULLS FIRST
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
        |  FROM tagged
        |), hist AS (
        |  SELECT (epoch_us(ts) - epoch_us(last_click_ts)) // 60000000 AS minute_bucket,
        |    count(*) AS n_pairs
        |  FROM marked
        |  WHERE purchase_id IS NOT NULL AND last_click_ts IS NOT NULL
        |  GROUP BY 1
        |), cum AS (
        |  SELECT minute_bucket, n_pairs,
        |    sum(n_pairs) OVER (ORDER BY minute_bucket ROWS UNBOUNDED PRECEDING)
        |      AS cum_pairs,
        |    sum(n_pairs) OVER () AS total
        |  FROM hist
        |)
        |SELECT minute_bucket, n_pairs, CAST(cum_pairs AS BIGINT) AS cum_pairs,
        |  CAST(1000000 * cum_pairs // total AS BIGINT) AS cum_ppm
        |FROM cum ORDER BY minute_bucket""".stripMargin,
    "q29_asof_click_purchase" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, CAST(NULL AS BIGINT) AS purchase_id
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, CAST(NULL AS BIGINT), event_id
        |  FROM events WHERE event_type = 'purchase'
        |), marked AS (
        |  SELECT *, last_value(CASE WHEN purchase_id IS NULL THEN ts END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, purchase_id ASC NULLS FIRST
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
        |  FROM tagged
        |)
        |SELECT user_id, purchase_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  strftime(last_click_ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts,
        |  CAST(epoch_us(ts) - epoch_us(last_click_ts) AS DOUBLE) / 60000000.0 AS minutes_since_click
        |FROM marked WHERE purchase_id IS NOT NULL""".stripMargin,
    "q28_user_activity" ->
      """SELECT user_id, event_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
        |  CAST(row_number() OVER w AS INTEGER) AS seq,
        |  CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS DOUBLE) / 60000000.0 AS gap_minutes
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,
  )
}

/** Persistent per-round HLL sketch store backing q93: one
  * Datasketches HLL sketch per (event_type, ingest_round), appended
  * once per round (dynamic partition overwrite — a retried round
  * replaces its own partial write, the [[BoilerplateStore]]
  * discipline) and UNIONED across rounds at read time. Union is
  * register-wise max: associative and idempotent, so
  * [[RoundStore]] compaction (fold old rounds into one
  * partition) is estimate-invariant by construction, not just by
  * convention — HllStoreSpec pins it bit-identically.
  *
  * Scale: the artifact holds a few KB per (event_type, round); reads
  * never touch raw history. The q93 audit query unions the stored
  * sketches with the delta's own sketch — O(delta) + O(store). */
class HllDistinctStore(spark: SparkSession, path: String)
    extends RoundStore(spark, path,
      _.groupBy(col("event_type")).agg(hll_union_agg(col("sketch")).as("sketch"))) {

  /** Sketch `events`' users and commit them as ingest round `round`. */
  def appendRound(events: DataFrame, round: Long): Unit =
    commitRound(
      events.groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sketch")), round)

  /** Stored sketches unioned with a delta's own per-type sketches. */
  def mergedWith(deltaSketches: DataFrame,
                 beforeRound: Option[Long] = None): DataFrame =
    merge(state(beforeRound).unionByName(deltaSketches))
}
