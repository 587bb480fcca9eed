package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The fold kernels' null contract: a null field in an input element
  * fails loudly, naming the field, instead of reading as 0 — through
  * a full DataFrame evaluation (the generated Java), for each field
  * of each kernel. */
class FoldOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def failure(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case i: IllegalArgumentException => i.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException in the cause chain of $e"))
  }

  test("wallet_fold: a null ts, event_id or delta fails and names the field") {
    val ok = Seq((1L, 10L, 5L), (2L, 11L, -7L))
    for (name <- Seq("ts", "event_id", "delta")) {
      val df = (ok :+ ((3L, 12L, 1L))).toDF("ts", "event_id", "delta")
        .withColumn(name, when(col("event_id") === 12L, lit(null)).otherwise(col(name)))
        .agg(collect_list(struct(col("ts"), col("event_id"), col("delta"))).as("evs"))
      val msg = failure(df.select(FoldOps.wallet_fold(col("evs"))).collect())
      assert(msg.contains("wallet_fold") && msg.contains(s"`$name`"), msg)
    }
    // the non-null elements alone still fold: 5, then 5 - 7 floors to 0
    val r = ok.toDF("ts", "event_id", "delta")
      .agg(collect_list(struct(col("ts"), col("event_id"), col("delta"))).as("evs"))
      .select(FoldOps.wallet_fold(col("evs")).as("w")).select("w.bal", "w.floors")
      .as[(Long, Long)].head()
    assert(r == ((0L, 1L)))
  }

  test("debounce_fold: a null tsm or event_id fails and names the field") {
    for (name <- Seq("tsm", "event_id")) {
      val df = Seq((100L, 1L), (200L, 2L), (300L, 3L)).toDF("tsm", "event_id")
        .withColumn(name, when(col("event_id") === 2L, lit(null)).otherwise(col(name)))
        .agg(collect_list(struct(col("tsm"), col("event_id"))).as("evs"))
      val msg = failure(df.select(FoldOps.debounce_fold(col("evs"), 150L)).collect())
      assert(msg.contains("debounce_fold") && msg.contains(s"`$name`"), msg)
    }
  }
}
