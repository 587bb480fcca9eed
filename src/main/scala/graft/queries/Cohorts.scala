package graft.queries

import graft.Tables
import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Behavioral/lifecycle analytics — the cohort, backlog, and reach
  * primitives every product-analytics warehouse (and every
  * training-data telemetry pipeline) runs, plus the props-payload
  * extraction their event streams need first. All exact and
  * oracle-checked, spelled in the repo's sharded-prefix discipline:
  * the only global orderings are over VALUE-DOMAIN frames (weeks,
  * days) and even those run through [[Stats.rangeShards]]'s two-phase
  * pass, never a single reducer.
  */
object Cohorts {
  type Q = (SparkSession, String) => DataFrame

  /** q152 — FIRST-TOUCH weekly retention, [[graft.ops.EventTime]]
    * q78's complement: q78 anchors cohorts on the explicit `signup`
    * event (and silently omits users who never emit one); here the
    * cohort is the Monday week of a user's first event of ANY type —
    * the acquisition-cohort definition product analytics uses when
    * the signup signal is unreliable — and each (cohort, offset) row
    * additionally carries the cohort's size and the exact retention
    * micro-ratio against it (offset 0 is the size by construction:
    * every user is active in their own first week).
    *
    * Scale shape: ONE user-keyed exchange builds both the cohort
    * label and the active-week set per user (`min` + `collect_set`
    * in the same agg — the set is bounded by the CALENDAR, not the
    * data: years of weeks is hundreds of entries), the explode fans
    * back to (user, week) pairs already deduplicated, and the
    * (cohort, offset) rollup is calendar²-sized. Cohort sizes come
    * from the rollup itself (offset 0), joined back broadcast. */
  val cohortRetention: Q = (s, d) => {
    val byUser = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"),
        collect_set(col("week")).as("weeks"))
    val ret = Dedup.materializedSketch(byUser
      .select(col("user_id"), col("cohort_week"),
        explode(col("weeks")).as("week"))
      .groupBy(col("cohort_week"),
        expr("datediff(week, cohort_week) div 7").as("week_offset"))
      .agg(count(lit(1)).as("n_active")))
    val sizes = ret.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_active").as("cohort_size"))
    ret.join(broadcast(sizes), Seq("cohort_week"))
      // dates leave as formatted strings (house oracle convention:
      // DATE columns surface as different dtypes across the two
      // engines' clients, so the stable interchange form is the
      // string; 'yyyy-MM-dd' sorts identically to the date)
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_active"), col("cohort_size"),
        expr("1000000 * n_active div cohort_size").as("retention_ppm"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** q154 — open-order BACKLOG curve over the warehouse side: an
    * order is "open" from its order date through its LAST ship date
    * (inclusive), and the monthly peak of concurrently open orders is
    * the fulfillment-capacity metric. The interval here is DERIVED by
    * a fact aggregation (per-order max ship date over lineitem) —
    * unlike q83's event-gap sessions — and the sweep runs on the DAY
    * grid: +1 on the order date, -1 on the day AFTER the last
    * shipment (end-inclusive spelled as an exclusive bound, so no
    * same-instant tie convention is even needed), running sum = open
    * orders that day, then a per-month peak rollup
    * (a month with no order-flow boundary emits no row — the carried
    * plateau is visible in its neighbours, the q83 sampling note).
    *
    * Scale shape: one orderkey-keyed exchange builds the spans (the
    * lineitem agg map-combines); endpoints collapse to the DAY grid
    * with multiplicities before any ordering; the global running sum
    * is [[Stats.rangeShards]]'s two-phase prefix — the r8 lesson
    * applied from birth rather than retrofitted. Orders with no
    * lineitem rows never open (inner join), stated for the twin. */
  val openOrderBacklog: Q = (s, d) => {
    // materialized (house two-consumer rule): both endpoint arms of
    // the union consume the spans concurrently
    val spans = Dedup.materializedSketch(Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(min(col("o_orderdate").cast(DateType)).as("open_day"),
        max(col("l_shipdate").cast(DateType)).as("last_ship_day")))
    val endpoints = spans
      .select(col("open_day").as("day"), lit(1L).as("delta"))
      .unionByName(spans.select(date_add(col("last_ship_day"), 1).as("day"),
        lit(-1L).as("delta")))
      .groupBy(col("day")).agg(sum(col("delta")).as("d"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_opened"))
    val (ranged, shards) = Stats.rangeShards(endpoints, Seq(col("day")),
      sum(col("d")).as("s"))
    val (offDf, _) = Stats.exclusiveOffsets(s, shards, Seq("_off"), Seq(0L))
    val wr = Window.partitionBy(col("_pid")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offDf), Seq("_pid"))
      .withColumn("open_orders", col("_off") + sum(col("d")).over(wr))
      // month as formatted string — the q152 oracle-dtype convention
      .groupBy(date_format(date_trunc("month", col("day")), "yyyy-MM-dd").as("month"))
      .agg(max(col("open_orders")).as("peak_open_orders"),
        sum(col("n_opened")).as("n_opened"))
      .orderBy(col("month"))
  }

  /** q172 — per-customer BUSY-PERIOD coverage: flatten each customer's
    * order-fulfilment intervals ([order date, last ship date], the
    * q154 spans keyed by customer) into maximal runs of covered DAYS,
    * and report the customers with the most covered days — the
    * interval-union primitive (union length + island count) q154's
    * global concurrency sweep does not expose. Two intervals belong
    * to one busy period when their day sets touch: an order opening
    * the day AFTER another closes continues the same covered run, so
    * "new period" is open_day > prev_max_close + 1 day — the
    * DAY-SET semantics both engines compute.
    *
    * Spark side is the O(n log n) per-customer SWEEP: one
    * customer-keyed window pass (running max of close over strictly
    * preceding rows in (open, close, orderkey) order) flags period
    * starts, a running sum numbers the periods, and a two-level agg
    * folds members → periods → customer. Within a period intervals
    * chain with no day gap by construction, so its covered days are
    * exactly last(close) − first(open) + 1 — no day ever
    * materializes. The DuckDB twin runs the OTHER algorithm — brute
    * day EXPLOSION (generate_series per span, distinct days,
    * lag-gap island count) — so the sweep's island algebra is
    * checked against literal day sets, cross-algorithm. At 100 TB
    * the explode form is the one that dies (rows × span days); the
    * sweep carries one row per ORDER through a single customer-keyed
    * exchange. */
  val busyPeriods: Q = (s, d) => {
    val spans = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"), col("o_orderkey"))
      .agg(min(col("o_orderdate").cast(DateType)).as("open_day"),
        // the synthetic corpus ships some lines BEFORE the order date;
        // an order occupies at least its order day, so the close
        // clamps to it (identically in the twin)
        greatest(max(col("l_shipdate").cast(DateType)),
          min(col("o_orderdate").cast(DateType))).as("close_day"))
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("open_day"), col("close_day"), col("o_orderkey"))
    val flagged = spans
      .withColumn("prev_max_close",
        max(col("close_day")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_period",
        when(col("prev_max_close").isNull ||
          col("open_day") > date_add(col("prev_max_close"), 1), 1L).otherwise(0L))
      .withColumn("period",
        sum(col("new_period")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy(col("o_custkey"), col("period"))
      .agg(min(col("open_day")).as("p_start"), max(col("close_day")).as("p_end"),
        count(lit(1)).as("n_orders"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("n_orders")).as("n_orders"),
        count(lit(1)).as("n_periods"),
        sum(datediff(col("p_end"), col("p_start")) + 1).as("days_covered"))
      .orderBy(col("days_covered").desc, col("o_custkey"))
      .limit(20)
  }

  /** q190 — repeat-purchase survival by market segment: of each
    * segment's customers, how many ever place a SECOND order, and how
    * many do so within 30/60/90 days of their first — the
    * repeat-conversion curve retention teams steer by, anchored on
    * the first-to-second-order gap (q152/q78 count activity windows;
    * this measures the specific second-transaction latency). Exact
    * ppm rates via BIGINT div. One customer-keyed exchange: the
    * per-customer order dates fold into a sorted array (orders per
    * customer are bounded), the first two dates come off the array,
    * and the rollup reduces onto the segment domain through the
    * customer dim join. The DuckDB twin spells the first/second
    * order with row_number over a per-customer window. */
  val repeatSurvival: Q = (s, d) => {
    val firsts = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderdate").cast(DateType).as("dt"))
      .groupBy(col("o_custkey"))
      .agg(array_sort(collect_list(col("dt"))).as("ds"))
      .select(col("o_custkey"), element_at(col("ds"), 1).as("first_d"),
        when(size(col("ds")) >= 2, element_at(col("ds"), 2)).as("second_d"))
    firsts
      .join(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"),
        datediff(col("second_d"), col("first_d")).as("gap"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        count(col("gap")).as("n_repeat"),
        sum(when(col("gap") <= 30, 1L).otherwise(0L)).as("r30"),
        sum(when(col("gap") <= 60, 1L).otherwise(0L)).as("r60"),
        sum(when(col("gap") <= 90, 1L).otherwise(0L)).as("r90"))
      .select(col("c_mktsegment"), col("n_customers"), col("n_repeat"),
        expr("r30 * 1000000 div n_customers").as("r30_ppm"),
        expr("r60 * 1000000 div n_customers").as("r60_ppm"),
        expr("r90 * 1000000 div n_customers").as("r90_ppm"))
      .orderBy(col("c_mktsegment"))
  }

  /** q188 — monthly ORDER-OVERLAP pair series: per month, how many
    * pairs of orders were concurrently in flight (fulfilment spans
    * intersecting), each pair anchored at the LATER open — the
    * pairwise-contention complement of q154's max-concurrency sweep
    * and q172's per-customer union. The naive spelling is an interval
    * self-join whose OUTPUT is the pair count (~10⁸ rows at sf0.1,
    * quadratic in density) — the DuckDB twin runs exactly that,
    * cross-algorithm. The Spark side never forms a pair: anchored at
    * open day d, the overlapping earlier orders are exactly those
    * opened before d and not closed before d, so the per-day count is
    * opens_d × (cumOpens(d−1) − cumCloses(d−1)) + C(opens_d, 2) — a
    * day-domain histogram with one sharded exclusive prefix (the
    * q155 two-phase pass), O(days) total regardless of how dense the
    * overlap gets. Months are emitted where any order opens. */
  val orderOverlapSeries: Q = (s, d) => {
    val spans = Tables.orders(s, d)
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(min(col("o_orderdate").cast(DateType)).as("open_day"),
        greatest(max(col("l_shipdate").cast(DateType)),
          min(col("o_orderdate").cast(DateType))).as("close_day"))
    val daily = spans.groupBy(col("open_day").as("day"))
      .agg(count(lit(1)).as("opens"))
      .join(spans.groupBy(col("close_day").as("day"))
        .agg(count(lit(1)).as("closes")), Seq("day"), "full_outer")
      .select(col("day"), coalesce(col("opens"), lit(0L)).as("opens"),
        coalesce(col("closes"), lit(0L)).as("closes"))
    val (ranged, shards) = Stats.rangeShards(daily, Seq(col("day")),
      sum(col("opens")).as("so"), sum(col("closes")).as("sc"))
    val (offDf, _) = Stats.exclusiveOffsets(s, shards, Seq("_oo", "_oc"),
      Seq(0L, 0L))
    val w = Window.partitionBy(col("_pid")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged.join(broadcast(offDf), Seq("_pid"))
      .withColumn("open_before",
        col("_oo") + coalesce(sum(col("opens")).over(w), lit(0L)) -
          (col("_oc") + coalesce(sum(col("closes")).over(w), lit(0L))))
      .filter(col("opens") > 0)
      .select(date_format(col("day"), "yyyy-MM").as("month"), col("opens"),
        (col("opens") * col("open_before") +
          expr("opens * (opens - 1) div 2")).as("pairs"))
      .groupBy(col("month"))
      .agg(sum(col("opens")).as("n_opens"), sum(col("pairs")).as("n_pairs"))
      .orderBy(col("month"))
  }

  /** q181 — audience OVERLAP matrix: for every pair of event types,
    * how many users did BOTH, with the exact Jaccard in micro-units —
    * the segment-intersection primitive behind "viewers who also
    * purchased" audience math. The naive spelling self-joins the
    * (user, type) frame on user — a fan-out that squares with
    * per-user type breadth and shuffles user ids once per pair. This
    * plan never joins on user at all: one distinct pass collapses to
    * (user, sorted type set), a hash agg folds the sets into the TYPE
    * -SET HISTOGRAM — the reducer is bounded by 2^|event types|
    * (calendar-bounded), NOT by users — and every pairwise overlap is
    * a weighted sum over that tiny frame, the pairs enumerated by an
    * in-row transform over each set. The DuckDB twin runs the naive
    * self-join, cross-algorithm. */
  val audienceOverlap: Q = (s, d) => {
    val hist = Tables.events(s, d)
      .select(col("user_id"), col("event_type")).distinct()
      .groupBy(col("user_id"))
      .agg(array_sort(collect_set(col("event_type"))).as("ts"))
      .groupBy(col("ts")).agg(count(lit(1)).as("n"))
    val totals = hist.select(explode(col("ts")).as("t"), col("n"))
      .groupBy(col("t")).agg(sum(col("n")).as("n_type"))
    hist
      .select(explode(expr(
        """flatten(transform(ts, (x, i) ->
          |  transform(slice(ts, i + 2, size(ts)), y ->
          |    named_struct('type_a', x, 'type_b', y))))""".stripMargin)).as("p"),
        col("n"))
      .groupBy(col("p.type_a").as("type_a"), col("p.type_b").as("type_b"))
      .agg(sum(col("n")).as("n_both"))
      .join(totals.select(col("t").as("type_a"), col("n_type").as("n_a")), Seq("type_a"))
      .join(totals.select(col("t").as("type_b"), col("n_type").as("n_b")), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
        expr("(n_both * 1000000L) div (n_a + n_b - n_both)").as("jaccard_micro"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q185 — audience COVERAGE FRONTIER: for every channel-subset size
    * k, the best reach any k event types achieve together (and which
    * subset it is) — the exact set-cover curve behind "how many
    * channels do we actually need", solved EXACTLY by exhaustive
    * subset enumeration because the subset lattice is calendar-bounded
    * (2^|event types|), not data-bounded. Like q181 the user
    * dimension collapses first: one bit_or pass folds each user to a
    * type BITMASK, a hash agg builds the ≤2^|types|-row mask
    * histogram, and the frontier is a cross of that tiny frame with
    * the 2^|types|−1 candidate masks — the only data-sized work is
    * the first distinct. The type list is collected once (a bounded
    * calendar domain, the q124 broadcast-bounds discipline) to mint
    * bit positions and subset names deterministically
    * (alphabetical). The DuckDB twin enumerates the same lattice with
    * generate_series + bit_count and a correlated string_agg. */
  val coverageFrontier: Q = (s, d) => {
    val spark = s
    val typeList = Tables.events(s, d).select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted
    if (typeList.isEmpty) {
      // empty corpus: an empty, correctly-typed frontier
      spark.range(0).select(col("id").cast("int").as("subset_size"),
        col("id").as("best_covered"), lit("").as("subset_types"))
    } else frontierOf(s, d, typeList)
  }

  private def frontierOf(s: SparkSession, d: String,
                         typeList: Array[String]): DataFrame = {
    // Exact set cover is intrinsically exponential in the TYPE domain
    // (2^|types| lattice rows) — data-scale-invariant for a bounded
    // event-type calendar (5 here), but a 40-type corpus would
    // silently attempt a 10^12-row lattice. Make the cliff an error,
    // not an OOM: past 20 types (~10^6 lattice rows, still trivial)
    // the exact frontier is off the table and the caller should use
    // a greedy cover (ln(n)-approximate, one max-reach pass per
    // chosen type over the same mask histogram) instead.
    require(typeList.length <= 20,
      s"q185 exact coverage frontier enumerates 2^|types| subsets; " +
        s"|types|=${typeList.length} > 20 would build a " +
        s"${1L << math.min(typeList.length, 62)}-row lattice. " +
        "Use the greedy set-cover pass (q195 greedyCover) for large " +
        "type domains.")
    val spark = s
    val hist = maskHistogram(s, d, typeList)
    val nameCol = concat_ws(",", array_compact(array(
      typeList.zipWithIndex.map { case (t, i) =>
        when(col("m").bitwiseAND(lit(1L << i)) =!= 0, lit(t))
      }: _*)))
    spark.range(1, 1L << typeList.length).select(col("id").as("m"))
      .crossJoin(broadcast(hist))
      .groupBy(col("m"))
      .agg(sum(when(col("mask").bitwiseAND(col("m")) =!= 0, col("n"))
        .otherwise(0L)).as("covered"))
      .select(bit_count(col("m")).as("subset_size"), col("covered"), col("m"),
        nameCol.as("subset_types"))
      .groupBy(col("subset_size"))
      .agg(min(struct((-col("covered")).as("nc"), col("m"),
        col("subset_types").as("st"))).as("pick"))
      .select(col("subset_size"), (-col("pick.nc")).as("best_covered"),
        col("pick.st").as("subset_types"))
      .orderBy(col("subset_size"))
  }

  /** The per-user type-bitmask histogram shared by q185 and q195: one
    * distinct + bit_or pass collapses the user dimension, leaving a
    * (mask, n_users) frame bounded by min(2^|types|, |users|). Bit
    * positions are minted alphabetically so both the exact frontier
    * and the greedy cover (and their DuckDB twins) agree on subset
    * identity. Long masks hold 64 types; past that a shift wraps and
    * two types would share a bit, so the histogram refuses. */
  private def maskHistogram(s: SparkSession, d: String,
                            typeList: Array[String]): DataFrame = {
    require(typeList.length <= 64,
      s"type bitmasks are longs: |types|=${typeList.length} > 64")
    val spark = s
    import spark.implicits._
    val typeIdx = typeList.zipWithIndex.toSeq.toDF("event_type", "idx")
    Tables.events(s, d)
      .select(col("user_id"), col("event_type")).distinct()
      .join(broadcast(typeIdx), Seq("event_type"))
      .groupBy(col("user_id"))
      .agg(expr("bit_or(shiftleft(1L, idx))").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("n"))
  }

  /** How many greedy picks q195 reports (and how many chained CTE
    * steps its twin unrolls — the q186 static-generation pairing). */
  val greedyCoverSteps = 5

  /** Byte cap on the mask histogram q195 collects to the driver: 16
    * bytes a (mask, n) row, so 16 MB holds the whole 2^20-row lattice
    * of q185's largest type domain — the same broadcast-feasibility
    * class as [[graft.ops.Dedup]]'s fused edge cap. */
  val greedyDriverBytes = 16L << 20

  /** q195 — GREEDY set cover: the scalable escape hatch the q185
    * guard names. The exact frontier is 2^|types| by construction;
    * the greedy recurrence — repeatedly add the type with the largest
    * marginal reach — is |steps| passes over the SAME mask histogram
    * and carries the classic (1 − 1/e) ≈ 0.632 approximation
    * guarantee per prefix size, which CohortsSpec asserts against the
    * exact frontier alongside an independent driver replay.
    *
    * Scale shape: the histogram (the only data-sized work) has at
    * most min(2^|types|, |users|) rows, and ONE `limit(cap + 1)`
    * query collects it when it fits [[greedyDriverBytes]]; the steps
    * then run on the driver, one pass over the collected rows each.
    * Past the cap the histogram is built again and cached (the probe
    * collect's work is not reused), and each step is ONE
    * map-combined conditional agg over it (|candidates| sums in a
    * single row, no shuffle), one row collected per step — the
    * q83/q154 domain-bounded-collect discipline. Both paths share the
    * argmax and its (cov DESC, name ASC) tie-break, and work up to
    * the histogram's 64 types, where q185 refuses past 20. The DuckDB
    * twin runs the same greedy as [[greedyCoverSteps]] chained
    * single-row CTEs. */
  val greedyCover: Q = (s, d) => greedyCoverOf(s, d)

  private[graft] def greedyCoverOf(s: SparkSession, d: String,
                                   driverBytes: Long = greedyDriverBytes): DataFrame = {
    val spark = s
    import spark.implicits._
    val typeList = Tables.events(s, d).select(col("event_type")).distinct()
      .collect().map(_.getString(0)).sorted
    if (typeList.isEmpty) {
      spark.range(0).select(col("id").cast("int").as("step"),
        lit("").as("chosen_type"), col("id").as("covered"))
    } else {
      val hist = maskHistogram(s, d, typeList)
      val capRows = driverBytes / 16
      val rows = hist.limit(math.min(capRows + 1, Int.MaxValue).toInt).collect()
      val steps = math.min(greedyCoverSteps, typeList.length)
      val picks =
        if (rows.length <= capRows) {
          val masks = rows.map(_.getLong(0))
          val ns = rows.map(_.getLong(1))
          greedyPicks(typeList, steps) { (chosen, cands) =>
            cands.map { i =>
              val pick = chosen | (1L << i)
              var cov = 0L
              for (r <- masks.indices) if ((masks(r) & pick) != 0) cov += ns(r)
              cov
            }
          }
        } else {
          val cached = Dedup.materializedSketch(hist)
          greedyPicks(typeList, steps) { (chosen, cands) =>
            val aggs = cands.map { i =>
              sum(when(col("mask").bitwiseAND(lit(chosen | (1L << i))) =!= 0,
                col("n")).otherwise(0L)).as(s"c$i")
            }
            val row = cached.agg(aggs.head, aggs.tail: _*).head()
            cands.indices.map(j => if (row.isNullAt(j)) 0L else row.getLong(j))
          }
        }
      picks.toDF("step", "chosen_type", "covered")
    }
  }

  /** The greedy shared by both q195 paths: `covers(chosen, cands)`
    * gives each candidate bit's reach with `chosen` already picked,
    * and each step takes the largest, ties to the smaller type name. */
  private def greedyPicks(typeList: Array[String], steps: Int)(
      covers: (Long, Seq[Int]) => Seq[Long]): Seq[(Int, String, Long)] = {
    var chosen = 0L
    (1 to steps).map { k =>
      val cands = typeList.indices.filter(i => (chosen & (1L << i)) == 0)
      val (i, cov) = cands.zip(covers(chosen, cands))
        .minBy { case (i, cov) => (-cov, typeList(i)) }
      chosen |= 1L << i
      (k, typeList(i), cov)
    }
  }

  /** q155 — cumulative user reach: per day, how many users appear for
    * the FIRST time, the running total of users ever seen, and its
    * micro-ratio of the final audience. The "distinct count over an
    * ever-growing prefix" operator, made scalable by the first-touch
    * identity: a user contributes to exactly one day's new count, so
    * the cumulative distinct IS the prefix sum of the per-day
    * first-seen histogram — one user-keyed agg + a day-domain prefix
    * (sharded; total falls out of the shard sums driver-side). */
  val cumulativeReach: Q = (s, d) => {
    val firstDays = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .groupBy(col("first_ts").cast(DateType).as("day"))
      .agg(count(lit(1)).as("n_new"))
    val (ranged, shards) = Stats.rangeShards(firstDays, Seq(col("day")),
      sum(col("n_new")).as("s"))
    val (offDf, totals) = Stats.exclusiveOffsets(s, shards, Seq("_off"), Seq(0L))
    val total = totals.head.asInstanceOf[Long]
    val w = Window.partitionBy(col("_pid")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.join(broadcast(offDf), Seq("_pid"))
      .withColumn("cum_users", col("_off") + sum(col("n_new")).over(w))
      // day as formatted string — the q152 oracle-dtype convention
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_new"), col("cum_users"),
        expr(s"1000000 * cum_users div $total").as("reach_ppm"))
      .orderBy(col("day"))
  }

  /** q159 — semi-structured property extraction: events carry a
    * JSON-ish `props` payload ('{"k": 69}'); pull the numeric field
    * with a REGEX (codegen'd string function — deliberately not a
    * JSON parser: the oracle twin must run on a stock DuckDB with no
    * extension loads, and both engines' regexp engines agree on this
    * digit-group pattern), treat non-matching payloads as NULL (the
    * coerce-to-null house semantics), and profile the field per event
    * type. The per-row extraction is pure map-side work fused into
    * the scan; the only exchange is the |event types|-sized rollup. */
  val propsProfile: Q = (s, d) => {
    val k = regexp_extract(col("props"), """"k"\s*:\s*(-?\d+)""", 1)
    Tables.events(s, d)
      .select(col("event_type"),
        when(k =!= "", k).cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, Q] = Map(
    "q152_first_touch_retention" -> cohortRetention,
    "q154_open_order_backlog" -> openOrderBacklog,
    "q155_cumulative_reach" -> cumulativeReach,
    "q159_props_profile" -> propsProfile,
    "q172_busy_periods" -> busyPeriods,
    "q181_audience_overlap" -> audienceOverlap,
    "q185_coverage_frontier" -> coverageFrontier,
    "q188_order_overlap_series" -> orderOverlapSeries,
    "q190_repeat_survival" -> repeatSurvival,
    "q195_greedy_cover" -> greedyCover,
  )

  /** One greedy step of the q195 twin, generated from the same
    * recurrence as the Spark fold (the q186 chained-CTE pairing):
    * `cum` carries the cumulative chosen bitmask, each step picks the
    * not-yet-chosen type with the largest covered-user sum under the
    * (cov DESC, name ASC) tie-break, as a single-row CTE the next
    * step reads back as scalars. */
  private def greedyStepSql(k: Int): String = {
    val prev = if (k == 1) "CAST(0 AS BIGINT)" else s"(SELECT cum FROM s${k - 1})"
    s"""s$k AS (
       |  SELECT name, cum, cov FROM (
       |    SELECT ty.name, $prev | ty.bit AS cum,
       |      (SELECT coalesce(CAST(sum(n) AS BIGINT), 0) FROM hist
       |        WHERE (mask & ($prev | ty.bit)) <> 0) AS cov
       |    FROM ty WHERE (ty.bit & $prev) = 0)
       |  ORDER BY cov DESC, name LIMIT 1
       |)""".stripMargin
  }

  private def greedyCoverSql: String = {
    val steps = (1 to greedyCoverSteps).map(greedyStepSql).mkString(",\n")
    val selects = (1 to greedyCoverSteps).map { k =>
      s"SELECT CAST($k AS INTEGER) AS step, name AS chosen_type," +
        s" CAST(cov AS BIGINT) AS covered FROM s$k"
    }.mkString("\nUNION ALL\n")
    s"""WITH ty AS (
       |  SELECT event_type AS name,
       |    CAST(1 AS BIGINT) << CAST(row_number()
       |      OVER (ORDER BY event_type) - 1 AS INTEGER) AS bit
       |  FROM (SELECT DISTINCT event_type FROM events)
       |), um AS (
       |  SELECT user_id, CAST(bit_or(bit) AS BIGINT) AS mask
       |  FROM (SELECT DISTINCT user_id, event_type FROM events) e
       |  JOIN ty ON e.event_type = ty.name
       |  GROUP BY user_id
       |), hist AS (
       |  SELECT mask, count(*) AS n FROM um GROUP BY mask
       |),
       |$steps
       |$selects
       |ORDER BY step""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // the same greedy recurrence as five chained single-row CTEs,
    // generated from greedyCoverSteps (the q186 pairing). NB the twin
    // is generated for the testdata's 5-type event calendar; the
    // Spark side itself runs min(steps, |types|) on any corpus.
    "q195_greedy_cover" -> greedyCoverSql,
    // first/second order via row_number over a per-customer window —
    // the independent-engine replay of the array-fold spelling
    "q190_repeat_survival" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS dt,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders
        |), fs AS (
        |  SELECT a.o_custkey, a.dt AS first_d, b.dt AS second_d
        |  FROM o a LEFT JOIN o b ON a.o_custkey = b.o_custkey AND b.rn = 2
        |  WHERE a.rn = 1
        |), g AS (
        |  SELECT c_mktsegment, second_d - first_d AS gap
        |  FROM fs JOIN customer ON o_custkey = c_custkey
        |)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  count(gap) AS n_repeat,
        |  CAST(sum(CASE WHEN gap <= 30 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS r30_ppm,
        |  CAST(sum(CASE WHEN gap <= 60 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS r60_ppm,
        |  CAST(sum(CASE WHEN gap <= 90 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS r90_ppm
        |FROM g GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // the quadratic spelling the Spark side's closed form avoids: a
    // literal interval self-join enumerating every overlapping pair
    "q188_order_overlap_series" ->
      """WITH spans AS (
        |  SELECT o_orderkey, CAST(min(o_orderdate) AS DATE) AS open_day,
        |    greatest(CAST(max(l_shipdate) AS DATE),
        |             CAST(min(o_orderdate) AS DATE)) AS close_day
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY o_orderkey
        |), anchored AS (
        |  SELECT b.open_day AS anchor_day, count(*) AS pairs
        |  FROM spans a JOIN spans b
        |    ON (a.open_day < b.open_day
        |        OR (a.open_day = b.open_day AND a.o_orderkey < b.o_orderkey))
        |   AND a.close_day >= b.open_day
        |  GROUP BY 1
        |), op AS (
        |  SELECT open_day, count(*) AS n FROM spans GROUP BY 1
        |)
        |SELECT strftime(date_trunc('month', op.open_day), '%Y-%m') AS month,
        |  CAST(sum(op.n) AS BIGINT) AS n_opens,
        |  CAST(coalesce(sum(a.pairs), 0) AS BIGINT) AS n_pairs
        |FROM op LEFT JOIN anchored a ON a.anchor_day = op.open_day
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same lattice enumerated with generate_series + bit_count
    // and a correlated string_agg for the subset names
    "q185_coverage_frontier" ->
      """WITH ti AS (
        |  SELECT event_type,
        |    CAST(row_number() OVER (ORDER BY event_type) - 1 AS INTEGER) AS idx
        |  FROM (SELECT DISTINCT event_type FROM events)
        |), um AS (
        |  SELECT user_id, bit_or(1 << idx) AS mask
        |  FROM (SELECT DISTINCT user_id, event_type FROM events)
        |  JOIN ti USING (event_type) GROUP BY user_id
        |), hist AS (
        |  SELECT mask, count(*) AS n FROM um GROUP BY mask
        |), cand AS (
        |  SELECT unnest(generate_series(1,
        |    (SELECT (1 << count(*)) - 1 FROM ti))) AS m
        |), cov AS (
        |  SELECT c.m,
        |    CAST(sum(CASE WHEN (h.mask & c.m) <> 0 THEN h.n ELSE 0 END)
        |      AS BIGINT) AS covered
        |  FROM cand c CROSS JOIN hist h GROUP BY c.m
        |), named AS (
        |  SELECT m, covered, CAST(bit_count(m) AS INTEGER) AS subset_size,
        |    (SELECT string_agg(ti.event_type, ',' ORDER BY ti.event_type)
        |     FROM ti WHERE (m & (1 << ti.idx)) <> 0) AS subset_types,
        |    row_number() OVER (PARTITION BY bit_count(m)
        |      ORDER BY covered DESC, m) AS rn
        |  FROM cov
        |)
        |SELECT subset_size, covered AS best_covered, subset_types
        |FROM named WHERE rn = 1 ORDER BY subset_size""".stripMargin,
    // the naive user self-join — deliberately the other algorithm
    // from the Spark side's type-set histogram
    "q181_audience_overlap" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events
        |), tot AS (
        |  SELECT event_type, count(*) AS n FROM ut GROUP BY 1
        |), ovl AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_both
        |  FROM ut a JOIN ut b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT type_a, type_b, n_both, ta.n AS n_a, tb.n AS n_b,
        |  (n_both * 1000000) // (ta.n + tb.n - n_both) AS jaccard_micro
        |FROM ovl JOIN tot ta ON type_a = ta.event_type
        |         JOIN tot tb ON type_b = tb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    // brute day-explosion (generate_series per span, distinct days,
    // lag-gap islands) — deliberately the OTHER algorithm from the
    // Spark side's O(n log n) interval sweep
    "q172_busy_periods" ->
      """WITH spans AS (
        |  SELECT o_custkey, o_orderkey, CAST(min(o_orderdate) AS DATE) AS open_day,
        |    greatest(CAST(max(l_shipdate) AS DATE),
        |             CAST(min(o_orderdate) AS DATE)) AS close_day
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY o_custkey, o_orderkey
        |), days AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(unnest(generate_series(open_day, close_day, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM spans
        |), flags AS (
        |  SELECT o_custkey, day,
        |    CASE WHEN lag(day) OVER (PARTITION BY o_custkey ORDER BY day) = day - 1
        |         THEN 0 ELSE 1 END AS new_period
        |  FROM days
        |), n AS (
        |  SELECT o_custkey, count(*) AS n_orders FROM spans GROUP BY o_custkey
        |)
        |SELECT f.o_custkey, n.n_orders,
        |  CAST(sum(f.new_period) AS BIGINT) AS n_periods,
        |  count(*) AS days_covered
        |FROM flags f JOIN n USING (o_custkey)
        |GROUP BY f.o_custkey, n.n_orders
        |ORDER BY days_covered DESC, f.o_custkey LIMIT 20""".stripMargin,
    "q152_first_touch_retention" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
        |), firsts AS (
        |  SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
        |), ret AS (
        |  SELECT cohort_week,
        |    CAST(date_diff('day', cohort_week, week) // 7 AS BIGINT) AS week_offset,
        |    count(*) AS n_active
        |  FROM uw JOIN firsts USING (user_id)
        |  GROUP BY 1, 2
        |)
        |SELECT strftime(CAST(r.cohort_week AS DATE), '%Y-%m-%d') AS cohort_week,
        |  r.week_offset,
        |  r.n_active, s.n_active AS cohort_size,
        |  1000000 * r.n_active // s.n_active AS retention_ppm
        |FROM ret r JOIN ret s
        |  ON r.cohort_week = s.cohort_week AND s.week_offset = 0
        |ORDER BY r.cohort_week, r.week_offset""".stripMargin,
    "q154_open_order_backlog" ->
      """WITH spans AS (
        |  SELECT o_orderkey, CAST(min(o_orderdate) AS DATE) AS open_day,
        |    CAST(max(l_shipdate) AS DATE) AS last_ship_day
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  GROUP BY o_orderkey
        |), ep AS (
        |  SELECT open_day AS day, CAST(1 AS BIGINT) AS delta FROM spans
        |  UNION ALL
        |  SELECT last_ship_day + 1, CAST(-1 AS BIGINT) FROM spans
        |), grid AS (
        |  SELECT day, sum(delta) AS d,
        |    sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS n_opened
        |  FROM ep GROUP BY day
        |), run AS (
        |  SELECT day, n_opened,
        |    sum(d) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS open_orders
        |  FROM grid
        |)
        |SELECT strftime(CAST(date_trunc('month', day) AS DATE), '%Y-%m-%d') AS month,
        |  CAST(max(open_orders) AS BIGINT) AS peak_open_orders,
        |  CAST(sum(n_opened) AS BIGINT) AS n_opened
        |FROM run GROUP BY 1 ORDER BY month""".stripMargin,
    "q155_cumulative_reach" ->
      """WITH firsts AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS day FROM events GROUP BY user_id
        |), hist AS (
        |  SELECT day, count(*) AS n_new FROM firsts GROUP BY day
        |), run AS (
        |  SELECT day, n_new,
        |    sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum_users,
        |    sum(n_new) OVER () AS total
        |  FROM hist
        |)
        |SELECT strftime(day, '%Y-%m-%d') AS day, n_new,
        |  CAST(cum_users AS BIGINT) AS cum_users,
        |  CAST(1000000 * cum_users // total AS BIGINT) AS reach_ppm
        |FROM run ORDER BY day""".stripMargin,
    "q159_props_profile" ->
      """WITH ext AS (
        |  SELECT event_type,
        |    CAST(nullif(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1), '')
        |         AS BIGINT) AS k
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
        |  min(k) AS min_k, max(k) AS max_k,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  count(DISTINCT k) AS n_distinct_k
        |FROM ext GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
