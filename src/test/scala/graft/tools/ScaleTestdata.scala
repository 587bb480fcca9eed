package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Synthesize an sf1-scale probe dataset by unioning key-shifted
  * copies of sf0.1 (no sf1 directory ships with the harness). Keys
  * are offset per copy so referential integrity holds (lineitem ->
  * orders -> customer; events.user_id; doc_id; vec_id); nation /
  * region / part / supplier stay as dims. Document texts get a
  * per-copy suffix and embeddings a per-copy first-component
  * perturbation so the sketch/ANN tiers face genuinely distinct
  * items (exact-collapse must not trivially eat the scale-up) while
  * every copy family is a planted near-dup cluster — a realistic
  * "10x corpus with heavy near-duplication" stress.
  *
  * Run: sbt "Test/runMain graft.tools.ScaleTestdata /root/testdata/sf0.1 /tmp/graft_sf1 10"
  * then: SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 sbt "runMain graft.Bench"
  */
object ScaleTestdata {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args(2).toInt
    val K = 10000000L // key spacing per copy; >> any sf1 table size
    val spark = graft.GraftSession()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode(SaveMode.Overwrite)
        .parquet(s"$dst/$t.parquet")

    def copies(t: String, f: (DataFrame, Long) => DataFrame): DataFrame =
      (0 until factor).map(i => f(read(t), i * K)).reduce(_ unionByName _)

    // dims: verbatim
    Seq("region", "nation", "part", "supplier").foreach(t => write(read(t), t, 1))

    write(copies("customer", (df, off) =>
      df.withColumn("c_custkey", col("c_custkey") + off)), "customer", 4)
    write(copies("orders", (df, off) =>
      df.withColumn("o_orderkey", col("o_orderkey") + off)
        .withColumn("o_custkey", col("o_custkey") + off)), "orders", 8)
    write(copies("lineitem", (df, off) =>
      df.withColumn("l_orderkey", col("l_orderkey") + off)), "lineitem", 16)
    write(copies("events", (df, off) =>
      df.withColumn("event_id", col("event_id") + off)
        .withColumn("user_id", col("user_id") + off)), "events", 16)
    write(copies("documents", (df, off) =>
      df.withColumn("doc_id", col("doc_id") + off)
        .withColumn("text",
          when(lit(off) === 0, col("text"))
            .otherwise(concat(col("text"), lit(s" variant"), lit(off / K))))
        .withColumn("n_chars", length(col("text")).cast("long"))), "documents", 8)
    write(copies("embeddings", (df, off) =>
      df.withColumn("vec_id", col("vec_id") + off)
        .withColumn("embedding",
          expr(s"transform(embedding, (x, i) -> CASE WHEN i = 0 " +
            s"THEN CAST(x + ${off / K} * 0.001 AS FLOAT) ELSE x END)"))),
      "embeddings", 8)

    println(s"[scale] wrote ${factor}x of $src to $dst")
    spark.stop()
  }
}
