package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** q93's store lifecycle: HLL union is a register-wise max, so the
  * merged-from-rounds estimate must equal the one-shot estimate
  * EXACTLY (not approximately), compaction must be estimate-invariant,
  * and the end-to-end q93 audit row must carry a small error vs the
  * exact count. */
class HllStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def partitions(path: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.collect {
      case s if s.isDirectory && s.getPath.getName.startsWith("ingest_round=") =>
        s.getPath.getName.stripPrefix("ingest_round=").toLong
    }.toSet
  }

  // three doc-disjoint "rounds" of events: overlapping users on
  // purpose, so union must dedup across rounds, not just concatenate
  private def round(ids: Range, types: Seq[String]) =
    ids.map(i => (i.toLong, (i % 50).toLong, types(i % types.size)))
      .toDF("event_id", "user_id", "event_type")

  private val r0 = round(0 until 400, Seq("view", "click"))
  private val r1 = round(400 until 700, Seq("view", "purchase"))
  private val r2 = round(700 until 900, Seq("click", "purchase"))

  private def estimates(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.select(col("event_type"), hll_sketch_estimate(col("sketch")).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("merged per-round sketches estimate exactly like a one-shot sketch") {
    val path = tmpDir("hll-merge") + "/sketches"
    val store = new HllDistinctStore(spark, path)
    store.appendRound(r0, 0L); store.appendRound(r1, 1L); store.appendRound(r2, 2L)
    val oneShot = estimates(
      r0.unionByName(r1).unionByName(r2)
        .groupBy(col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sketch")))
    assert(estimates(store.state()) == oneShot,
      "round-wise union must be indistinguishable from one-shot build")
  }

  test("compaction is estimate-invariant and drops folded partitions") {
    val path = tmpDir("hll-compact") + "/sketches"
    val store = new HllDistinctStore(spark, path)
    store.appendRound(r0, 0L); store.appendRound(r1, 1L); store.appendRound(r2, 2L)
    val before = estimates(store.state())
    store.compact(1L)
    assert(partitions(path) == Set(1L, 2L))
    assert(estimates(store.state()) == before)
    store.compact(2L)
    assert(partitions(path) == Set(2L))
    assert(estimates(store.state()) == before)
  }

  test("beforeRound replay guard excludes a re-delivered round") {
    val path = tmpDir("hll-replay") + "/sketches"
    val store = new HllDistinctStore(spark, path)
    store.appendRound(r0, 0L); store.appendRound(r1, 1L)
    val upTo0 = estimates(store.state(beforeRound = Some(1L)))
    val only0 = estimates(
      r0.groupBy(col("event_type")).agg(hll_sketch_agg(col("user_id")).as("sketch")))
    assert(upTo0 == only0, "beforeRound=1 must see exactly round 0")
  }

  test("q93 production mode: one watermarked events scan, no exact-count history rescan") {
    val dir = "/root/testdata/sf0.001"
    val prod = EventTime.hllDistinct(spark, dir, audit = false)
    // the only events scan left is the watermark-pruned DELTA: the
    // store contributes parquet sketches, never raw history (collect
    // on sparkPlan — executedPlan is the opaque AQE wrapper)
    def eventScans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("Location").exists(_.contains("events")) => f
      }
    val prodScans = eventScans(prod)
    assert(prodScans.size == 1,
      s"production q93 must scan events exactly once (the delta), saw ${prodScans.size}")
    assert(prodScans.head.dataFilters.exists(_.toString.contains("event_id")),
      "delta scan lost its watermark pushdown")
    assert(!prod.queryExecution.sparkPlan.toString.contains("count(distinct"),
      "production q93 still computes the exact-count audit")
    // the audit form, by contrast, pays the second (full-history) scan
    val auditDf = EventTime.hllDistinct(spark, dir, audit = true)
    assert(eventScans(auditDf).size == 2,
      "audit mode should scan events twice (delta + exact)")
    // and the production estimates are the audit mode's est_users verbatim
    val prodEst = prod.collect().map(r => r.getString(0) -> r.getAs[Long]("est_users")).toMap
    val auditEst = auditDf.collect()
      .map(r => r.getString(0) -> r.getAs[Long]("est_users")).toMap
    assert(prodEst == auditEst, "audit flag changed the estimates themselves")
  }

  test("q93 audit rows: estimate within 5% of exact, err_ppm consistent") {
    val out = EventTime.hllDistinctIncremental(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (est, exact, ppm) = (r.getAs[Long]("est_users"),
        r.getAs[Long]("exact_users"), r.getAs[Long]("err_ppm"))
      assert(exact > 0)
      assert(ppm == math.abs(est - exact) * 1000000L / exact)
      assert(ppm <= 50000L, s"${r.getString(0)}: est $est vs exact $exact")
    }
    // a second invocation reuses the store (memoized corpus key):
    // identical output, no second round-0 build
    val again = EventTime.hllDistinctIncremental(spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}
