package graft.queries

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The exact-statistics family (q108/q109/q112/q113). The oracle gate
  * pins cross-engine bit-identity; these tests pin the MATH — each
  * query's closed-form output is cross-checked against an independent
  * Spark spelling (the built-in double aggregates, or a directly
  * computed threshold), so a formula typo can't hide behind a twin
  * that repeats the same typo. */
class StatsSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def q(name: String) = graft.SparkEntry.queries(name)(spark, sf)

  test("q187 Kendall counts equal a driver-side brute-force pair scan") {
    val rows = graft.Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("int"),
        (col("l_discount").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    var (c, dd) = (0L, 0L)
    var i = 0
    while (i < rows.length) {
      var j = i + 1
      while (j < rows.length) {
        val s = (rows(i)._1 - rows(j)._1).toLong * (rows(i)._2 - rows(j)._2)
        if (s > 0) c += 1 else if (s < 0) dd += 1
        j += 1
      }
      i += 1
    }
    val r = q("q187_kendall_tau").collect().head
    assert(r.getAs[Long]("n") == rows.length.toLong)
    assert(r.getAs[Long]("conc") == c, s"conc ${r.getAs[Long]("conc")} vs $c")
    assert(r.getAs[Long]("disc") == dd)
    // tau within float tolerance of the from-scratch formula
    val n = rows.length.toLong
    val n0 = n * (n - 1) / 2
    val tie = (m: Map[Int, Long]) => m.values.map(v => v * (v - 1) / 2).sum
    val n1 = tie(rows.groupBy(_._1).map { case (k, v) => k -> v.length.toLong })
    val n2 = tie(rows.groupBy(_._2).map { case (k, v) => k -> v.length.toLong })
    val want = (c - dd).toDouble / math.sqrt((n0 - n1).toDouble * (n0 - n2).toDouble)
    assert(math.abs(r.getAs[Double]("tau_b") - want) < 1e-12)
  }

  test("q197 Mann-Whitney u2 equals a driver-side brute-force rank scan") {
    val rows = graft.Tables.lineitem(spark, sf)
      .select(col("l_quantity").cast("int"),
        (col("l_returnflag") === "R").cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1) == 1))
    val ret = rows.filter(_._2).map(_._1)
    val kept = rows.filterNot(_._2).map(_._1)
    var u2 = BigInt(0)
    ret.foreach { a =>
      kept.foreach { b =>
        if (a > b) u2 += 2 else if (a == b) u2 += 1
      }
    }
    val r = q("q197_mann_whitney").collect().head
    assert(r.getAs[Long]("n_r") == ret.length.toLong)
    assert(r.getAs[Long]("n_o") == kept.length.toLong)
    assert(BigInt(r.getAs[Long]("u2")) == u2,
      s"u2 ${r.getAs[Long]("u2")} vs brute $u2")
    val wantMicro = (u2 * 1000000) / (BigInt(2) * ret.length * kept.length)
    assert(BigInt(r.getAs[Long]("mw_micro")) == wantMicro)
  }

  test("keyedRank equals the per-key window spelling it replaces") {
    // real frame with keys straddling shard boundaries: per-quarter
    // supplier revenue at sf0.001, ranked both ways
    val revMicro = ((col("l_extendedprice").cast(Qx.D6) *
      (lit(1) - col("l_discount").cast(Qx.D6))).cast(Qx.D6) * lit(1000000L))
      .cast("long")
    val qrev = graft.Tables.lineitem(spark, sf)
      .select(date_trunc("quarter", col("l_shipdate"))
        .cast(org.apache.spark.sql.types.DateType).as("qtr"),
        col("l_suppkey"), revMicro.as("rev_micro"))
      .groupBy(col("qtr"), col("l_suppkey"))
      .agg(sum(col("rev_micro")).as("rev_micro"))
    val got = Stats.keyedRank(qrev, "qtr",
      Seq(col("rev_micro").desc, col("l_suppkey")), "rnk")
      .select(col("qtr"), col("l_suppkey"), col("rnk")).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2)).toMap
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qtr"))
      .orderBy(col("rev_micro").desc, col("l_suppkey"))
    val want = qrev.withColumn("rnk", row_number().over(w))
      .select(col("qtr"), col("l_suppkey"), col("rnk")).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getInt(2).toLong).toMap
    assert(got == want)
    // the frame genuinely spans shards: more rows than one shard holds
    assert(got.size > got.keys.map(_._1).toSet.size)
  }

  test("q108 regression matches the built-in regr_slope/corr to float tolerance") {
    val got = q("q108_discount_qty_regression").collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("slope"), r.getAs[Double]("intercept"), r.getAs[Double]("corr")))
      .toMap
    val ref = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(expr("regr_slope(l_discount, l_quantity)").as("s"),
        expr("regr_intercept(l_discount, l_quantity)").as("i"),
        corr(col("l_discount"), col("l_quantity")).as("c"))
      .collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Double]("s"), r.getAs[Double]("i"), r.getAs[Double]("c")))
      .toMap
    assert(got.keySet == ref.keySet && got.nonEmpty)
    got.foreach { case (k, (s, i, c)) =>
      val (rs, ri, rc) = ref(k)
      assert(math.abs(s - rs) < 1e-9, s"slope($k): $s vs builtin $rs")
      assert(math.abs(i - ri) < 1e-9, s"intercept($k): $i vs builtin $ri")
      assert(math.abs(c - rc) < 1e-9, s"corr($k): $c vs builtin $rc")
      assert(c >= -1.0 && c <= 1.0)
    }
  }

  test("q109 flags exactly the |x-mean| > 3*stddev_pop rows (double cross-check)") {
    val got = q("q109_price_outliers").collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus")) ->
        (r.getAs[Long]("n_items"), r.getAs[Long]("n_outliers"), r.getAs[Long]("outlier_ppm")))
      .toMap
    // independent spelling: window mean/stddev_pop in doubles; the
    // group margins are far from the 3-sigma boundary so double
    // round-off cannot flip a row at this SF
    val li = graft.Tables.lineitem(spark, sf)
    val stats = li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(avg(col("l_extendedprice")).as("mu"),
        stddev_pop(col("l_extendedprice")).as("sd"))
    val ref = li.join(stats, Seq("l_returnflag", "l_linestatus"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("l_extendedprice") - col("mu")) > col("sd") * 3, 1L)
          .otherwise(0L)).as("o"))
      .collect()
      .map(r => (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("o")))
      .toMap
    assert(got.keySet == ref.keySet && got.nonEmpty)
    got.foreach { case (k, (n, o, ppm)) =>
      assert((n, o) == ref(k), s"group $k: got ($n,$o) vs double cross-check ${ref(k)}")
      assert(ppm == 1000000L * o / n)
    }
  }

  test("q112 trade flows cover both directions of the nation pair only") {
    val rows = q("q112_trade_volume").collect()
    assert(rows.nonEmpty)
    val pairs = rows.map(r =>
      (r.getAs[String]("supp_nation"), r.getAs[String]("cust_nation"))).toSet
    assert(pairs.subsetOf(Set(("NATION_3", "NATION_7"), ("NATION_7", "NATION_3"))))
    rows.foreach(r => assert(r.getAs[Double]("revenue") > 0))
  }

  test("q113 head set is the minimal 80% prefix: monotone shares, crossing row last") {
    val rows = q("q113_pareto_suppliers").orderBy(col("rank")).collect()
    assert(rows.nonEmpty)
    val shares = rows.map(_.getAs[Double]("cum_share"))
    // ranks are the contiguous prefix 1..n and shares strictly increase
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    assert(shares.zip(shares.tail).forall { case (a, b) => a < b })
    // every row but the last is strictly below the threshold; the
    // last row crosses it — the definition of a minimal prefix
    assert(shares.dropRight(1).forall(_ < 0.8))
    assert(shares.last >= 0.8)
    // revenues arrive in the rank order (desc, key tiebreak)
    val revs = rows.map(_.getAs[Double]("revenue"))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b })
  }

  test("globalRank equals the single-partition row_number on a total order") {
    import org.apache.spark.sql.expressions.{Window => W}
    val df = graft.Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"))
    val got = Stats.globalRank(df, Seq("o_custkey", "o_orderkey"), "rk")
      .collect().map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Long]("rk"))).toMap
    val want = df.withColumn("rk",
        row_number().over(W.orderBy(col("o_custkey"), col("o_orderkey"))).cast("long"))
      .collect().map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Long]("rk"))).toMap
    assert(got == want)
    // and no single-partition window in the distributed plan: every
    // window partitions on the range-partition id
    val plan = Stats.globalRank(df, Seq("o_custkey", "o_orderkey"), "rk")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition()"), plan)
  }

  test("ntileOfRank matches Spark's ntile across remainder shapes") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    for ((n, k) <- Seq((25L, 10), (30L, 10), (7L, 10), (1L, 5), (100L, 7))) {
      val df = (1L to n).toDF("rk")
      val got = df.withColumn("b", Stats.ntileOfRank(col("rk"), n, k))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = df.withColumn("b", ntile(k).over(W.orderBy(col("rk"))))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == want, s"n=$n k=$k: $got vs $want")
    }
  }

  test("q128 quintiles partition customers evenly; segments cover everyone") {
    val rows = q("q128_rfm_segments").collect()
    val nCust = graft.Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == nCust)
    for (dim <- Seq("r_q", "f_q", "m_q")) {
      val byQ = rows.groupBy(_.getAs[Int](dim))
        .view.mapValues(_.map(_.getAs[Long]("n_customers")).sum).toMap
      assert(byQ.keySet.subsetOf((1 to 5).toSet))
      // ntile balance: bucket sizes differ by at most one
      assert(byQ.values.max - byQ.values.min <= 1, s"$dim: $byQ")
    }
  }

  test("q129 basket metrics recompute exactly from their own counts") {
    val rows = q("q129_market_basket").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val items = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val nOrders = items.select(col("l_orderkey")).distinct().count()
    // independent per-item order counts
    val itemCnt = items.groupBy(col("l_partkey")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"))
      val (nab, na, nb) = (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(a < b && nab >= 2 && nab <= math.min(na, nb))
      assert(na == itemCnt(a) && nb == itemCnt(b))
      assert(r.getAs[Long]("support_ppm") == nab * 1000000L / nOrders)
      assert(r.getAs[Long]("confidence_ppm") == nab * 1000000L / na)
      assert(r.getAs[Long]("lift_ppm") == (nab * 1000000L / na) * nOrders / nb)
    }
    // the ranking is by lift desc with a total tiebreak
    val lifts = rows.map(r => (-r.getAs[Long]("lift_ppm"),
      r.getAs[Long]("part_a"), r.getAs[Long]("part_b"))).toSeq
    assert(lifts == lifts.sorted)
  }

  test("q130 sketch audit: every (flag, pct) priced, approx within the accuracy bound") {
    val rows = q("q130_quantile_sketch_audit").collect()
    val flags = graft.Tables.lineitem(spark, sf)
      .select(col("l_returnflag")).distinct().count()
    assert(rows.length == flags * 4)
    rows.foreach { r =>
      val (ex, ap) = (r.getAs[Double]("exact_price"), r.getAs[Double]("approx_price"))
      assert(ex > 0 && ap > 0)
      // accuracy 1000 => rank error <= n/1000; on this distribution
      // that is far below 5% of value — a blown sketch (or a
      // regression in the audit itself) trips this loudly
      assert(r.getAs[Long]("rel_err_ppm") < 50000L,
        s"${r.getAs[String]("l_returnflag")}/p${r.getAs[Int]("pct")}: $ap vs $ex")
    }
  }

  test("q131 embedding profile matches the built-in double stats to quantization error") {
    val rows = q("q131_embedding_profile").collect()
    val nVec = graft.Tables.embeddings(spark, sf).count()
    // complete contiguous dimension coverage, every dim over every vector
    assert(rows.map(_.getAs[Int]("dim")).sorted.toSeq == (0 until rows.length))
    assert(rows.forall(_.getAs[Long]("n_vals") == nVec))
    // independent spelling: double mean/var_pop per dim (the floor
    // quantization moves each value < 1 micro-unit, so mean is within
    // 1 unit and variance within ~2*range units)
    val ref = graft.Tables.embeddings(spark, sf)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(avg(col("v").cast("double")).as("mu"),
        var_pop(col("v").cast("double")).as("vr"))
      .collect().map(r => r.getAs[Int]("dim") ->
        (r.getAs[Double]("mu"), r.getAs[Double]("vr"))).toMap
    rows.foreach { r =>
      val (mu, vr) = ref(r.getAs[Int]("dim"))
      assert(math.abs(r.getAs[Long]("mean_u") - mu * 1e6) <= 1.5,
        s"dim ${r.getAs[Int]("dim")} mean")
      assert(math.abs(r.getAs[Long]("var_u2") - vr * 1e12) <= 5e6,
        s"dim ${r.getAs[Int]("dim")} var: ${r.getAs[Long]("var_u2")} vs ${vr * 1e12}")
      assert(r.getAs[Long]("min_u") <= r.getAs[Long]("mean_u") &&
        r.getAs[Long]("mean_u") <= r.getAs[Long]("max_u"))
    }
  }

  test("q132 norm buckets cover all vectors; bounds sit inside their bucket") {
    val rows = q("q132_vector_norms").collect()
    val nVec = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == nVec)
    rows.foreach { r =>
      val b = r.getAs[Long]("norm_bucket")
      val (lo, hi) = (r.getAs[Long]("min_n2_u"), r.getAs[Long]("max_n2_u"))
      assert(lo <= hi && lo / 100000000000L == b && hi / 100000000000L == b)
    }
    // the synthetic embeddings are unit-ish: the mass sits around
    // norm^2 = 1e12 (buckets 9-10), not at 0 and not at the 64e12 cap
    val heavy = rows.maxBy(_.getAs[Long]("n_vectors")).getAs[Long]("norm_bucket")
    assert(heavy >= 5 && heavy <= 15, s"unexpected modal norm bucket $heavy")
  }

  test("q139 median/MAD/outliers equal a driver-side recompute exactly") {
    val got = q("q139_mad_outliers").collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        ((r.getAs[Long]("n_items"), r.getAs[Long]("median_cents"),
          r.getAs[Long]("mad_cents"), r.getAs[Long]("n_outliers"),
          r.getAs[Long]("outlier_ppm"))))
      .toMap
    val raw = graft.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    assert(got.keySet == raw.keySet && got.nonEmpty)
    raw.foreach { case (k, cs) =>
      val n = cs.length.toLong
      def nearestRank(sorted: Array[Long]): Long =
        sorted(((50 * n + 99) / 100 - 1).toInt)
      val med = nearestRank(cs.sorted)
      val mad = nearestRank(cs.map(c => math.abs(c - med)).sorted)
      val out = cs.count(c => math.abs(c - med) > 3 * mad).toLong
      assert(got(k) == ((n, med, mad, out, 1000000L * out / n)),
        s"group $k: got ${got(k)} want ${(n, med, mad, out, 1000000L * out / n)}")
      // MAD flags a robust (possibly different) outlier set vs 3-sigma;
      // both must be a small minority on this distribution
      assert(out < n / 4)
    }
  }

  test("q146 skyline equals a driver-side NOT-EXISTS recompute; front is monotone") {
    val rows = q("q146_price_qty_skyline").collect()
    assert(rows.nonEmpty)
    val pts = graft.Tables.lineitem(spark, sf)
      .select((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long").as("p"),
        col("l_quantity").cast("long").as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val grid = pts.groupBy(identity).map { case (k, v) => (k._1, k._2, v.length.toLong) }
    val want = grid.filter { case (p, qv, _) =>
      !grid.exists { case (p2, q2, _) =>
        p2 <= p && q2 >= qv && (p2 < p || q2 > qv)
      }
    }.toSeq.sortBy(_._1)
    val got = rows.map(r => (r.getAs[Long]("price_cents"), r.getAs[Long]("best_qty"),
      r.getAs[Long]("n_items"))).toSeq
    assert(got == want, s"got ${got.take(5)}... want ${want.take(5)}...")
    // a 2-D front is strictly monotone: price up, qty strictly up
    // looking back from the cheap end... qty must strictly DECREASE
    // as price falls; equivalently along increasing price qty rises
    val qs = got.map(_._2)
    assert(qs.zip(qs.tail).forall { case (a, b) => a < b },
      "front quantities must strictly increase with price")
  }

  test("q122 quantiles equal the driver-side nearest-rank values exactly") {
    val got = q("q122_quantile_profile").collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        ((r.getAs[Long]("n_items"), r.getAs[Double]("p25"), r.getAs[Double]("p50"),
          r.getAs[Double]("p75"), r.getAs[Double]("p90"))))
      .toMap
    // independent oracle: collect + sort per group, index ceil(p*n)
    val raw = graft.Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_extendedprice")).collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    assert(got.keySet == raw.keySet && got.nonEmpty)
    raw.foreach { case (k, sortedVals) =>
      val n = sortedVals.length.toLong
      def nr(pct: Int) = sortedVals(((pct * n + 99) / 100 - 1).toInt)
      val (gn, p25, p50, p75, p90) = got(k)
      assert(gn == n, s"n_items($k)")
      // nearest-rank quantiles are SELECTED values, so equality is
      // exact — no tolerance
      assert(p25 == nr(25) && p50 == nr(50) && p75 == nr(75) && p90 == nr(90),
        s"quantiles($k): got ${(p25, p50, p75, p90)} want ${(nr(25), nr(50), nr(75), nr(90))}")
      assert(p25 <= p50 && p50 <= p75 && p75 <= p90)
    }
  }

  test("exclusiveOffsets: exclusive prefix per shard, exact totals, typed empty frame") {
    // mixed Long count + exact BigDecimal sum over an unevenly
    // sharded frame — the contract all ten prefix-pass queries lean on
    val df = (1 to 20).map(i => (i, new java.math.BigDecimal(s"$i.25")))
      .toDF("k", "v").withColumn("v", col("v").cast("decimal(18,6)"))
    val (ranged, shards) = Stats.rangeShards(df, Seq(col("k")),
      count(lit(1)).as("c"), sum(col("v")).as("s"))
    val (offDf, totals) = Stats.exclusiveOffsets(spark, shards,
      Seq("_coff", "_soff"), Seq(0L, java.math.BigDecimal.ZERO))
    assert(totals.head.asInstanceOf[Long] == 20L)
    assert(totals(1).asInstanceOf[java.math.BigDecimal]
      .compareTo(new java.math.BigDecimal("215.00")) == 0) // 210 + 20*0.25
    // joining offsets back and adding the local prefix reproduces the
    // serial running count/sum exactly, independent of shard layout
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_pid")).orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rows = ranged.join(broadcast(offDf), Seq("_pid"))
      .select(col("k"), (col("_coff") + count(lit(1)).over(w)).as("rn"),
        (col("_soff") + sum(col("v")).over(w)).as("run"))
      .collect().map(r => (r.getLong(1), r.getDecimal(2).doubleValue()))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == (1L to 20L))
    assert(rows.last._2 == 215.0)
    // empty shard table still yields a well-typed, empty offset frame
    val (emptyDf, emptyTotals) = Stats.exclusiveOffsets(spark,
      Array.empty, Seq("_off"), Seq(0L))
    assert(emptyDf.columns.toSeq == Seq("_pid", "_off") && emptyDf.isEmpty)
    assert(emptyTotals.head.asInstanceOf[Long] == 0L)
  }

  test("groupedCumCounts keeps a null group: same rows as the partitionBy window") {
    import org.apache.spark.sql.expressions.Window
    val hist = Seq[(Option[String], Long, Long)](
      (Some("A"), 1L, 2L), (Some("A"), 3L, 1L), (Some("A"), 7L, 5L),
      (None, 1L, 4L), (None, 2L, 1L), (None, 9L, 2L),
      (Some("B"), 5L, 3L), (Some("B"), 6L, 1L)).toDF("g", "v", "cnt")
      .repartition(3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("g", "v", "cum", "n").as[(Option[String], Long, Long, Long)]
        .collect().toSeq.sortBy(r => (r._1.getOrElse(""), r._1.isDefined, r._2))
    val cum = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = rows(hist
      .withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("g")))))
    assert(want.count(_._1.isEmpty) == 3)
    assert(rows(Stats.groupedCumCounts(hist, "g", "v", "cnt")) == want)
  }
}
