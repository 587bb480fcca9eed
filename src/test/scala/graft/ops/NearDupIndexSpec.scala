package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class NearDupIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def docsDf(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("rounds append disjointly and a retried round replaces its own partition") {
    val store = new NearDupIndexStore(spark, s"${tmpDir("ndidx")}/index")
    val a = docsDf(1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "one two three four five six")
    val b = docsDf(3L -> "alpha beta gamma delta epsilon eta",
      4L -> "seven eight nine ten eleven twelve")
    store.appendRound(a, 0L)
    store.appendRound(b, 1L)
    assert(store.rounds().count() == 4)
    // a crashed-and-retried round REPLACES its partition, never doubles
    store.appendRound(b, 1L)
    assert(store.rounds().count() == 4)
    assert(store.rounds().select("ingest_round").distinct().as[Long].collect().toSet
      == Set(0L, 1L))
  }

  test("a delta round scans the delta and the stored index only") {
    val store = new NearDupIndexStore(spark, s"${tmpDir("ndidx")}/index")
    store.appendRound(docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "completely unrelated words live in this document here"), 0L)
    val delta = docsDf(10L -> "alpha beta gamma delta epsilon zeta eta iota")
    val pairs = store.newPairsAgainst(delta, threshold = 0.3)
    val got = pairs.select("new_doc", "old_doc").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L)), s"expected the planted near-dup pair, got $got")
    // the executed plan's only FILE scan is the stored index artifact:
    // the corpus side is read, not re-sketched from documents
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    var scans = List.empty[String]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case r: ReusedExchangeExec    => walk(r.child)
      case s: FileSourceScanExec =>
        scans ::= s.relation.location.rootPaths.map(_.toString).mkString(",")
      case other => other.children.foreach(walk)
    }
    walk(pairs.queryExecution.executedPlan)
    assert(scans.nonEmpty && scans.forall(_.contains("ndidx")),
      s"delta round read something beyond the stored index: $scans")
  }

  test("q61 store-backed result equals the inline recompute formulation") {
    val docs = graft.Tables.documents(spark, sf)
    val withFp = Dedup.fpShingleIndex(docs)
    val wm = withFp.agg(expr("(max(doc_id) * 4) div 5").as("wm"))
    val tagged = withFp.crossJoin(broadcast(wm))
    val corpus = tagged.filter(col("doc_id") <= col("wm"))
      .select(col("fp"), col("doc_id").as("old_doc"), col("sh").as("sh_o"))
    val delta = tagged.filter(col("doc_id") > col("wm"))
      .select(col("fp"), col("doc_id").as("new_doc"), col("sh").as("sh_n"))
    val inline = delta.join(corpus, Seq("fp"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_n"), col("sh_o"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_o"))))
      .filter(col("jaccard") >= 0.5)
      .select("new_doc", "old_doc", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val stored = Dedup.ngramJaccardIncremental(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(stored == inline, "stored-index q61 diverged from the recompute definition")
    assert(stored.nonEmpty)
  }
}
