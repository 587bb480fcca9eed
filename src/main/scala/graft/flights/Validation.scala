package graft.flights

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Row-count reconciliation gate (SURVEY.md §2.1/§2.3, V-1..V-4),
  * replicating validation.py:18-49 bit-for-bit:
  *   - staging must match source EXACTLY (validation.py:41-42)
  *   - fact may lose at most 1% of source rows (validation.py:44-47)
  */
object Validation {
  final case class Counts(source: Long, staging: Long, fact: Long)

  /** V-1 and V-2 as ONE query: the three sources are unioned under a
    * tag and counted by tag, so the gate costs one scan job and one
    * result job. Every read is schema-pinned, so no job runs to infer
    * a schema. */
  def counts(spark: SparkSession, csvPath: String, stagingPath: String,
             factPath: String): Counts = {
    def tagged(df: DataFrame, tag: String): DataFrame = df.select(lit(tag).as("tag"))
    // V-1: len(pd.read_csv(path)) — data rows, header excluded (in
    // every file of a directory).
    val source = spark.read.schema(FlightSchemas.rawCsv).option("header", true).csv(csvPath)
    // V-2: SELECT COUNT(*) on staging and fact (schema-pinned so a
    // file-less directory counts as 0 and the gate alarms properly).
    val staging = spark.read.schema(FlightSchemas.staging).parquet(stagingPath)
    val fact = spark.read.schema(FlightSchemas.factFlights).parquet(factPath)
    val n = tagged(source, "source")
      .union(tagged(staging, "staging"))
      .union(tagged(fact, "fact"))
      .groupBy("tag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    Counts(n("source"), n("staging"), n("fact"))
  }

  /** V-3 + V-4. Throws IllegalStateException exactly where the
    * reference raises ValueError. */
  def validate(c: Counts): Unit = {
    if (c.source != c.staging)
      throw new IllegalStateException(
        s"Data Loss detected! Source: ${c.source}, Staging: ${c.staging}")
    val diff = c.source - c.fact
    if (diff > c.source * 0.01)
      throw new IllegalStateException(
        s"High Data Loss in Analytics! Source: ${c.source}, Analytics: ${c.fact}, Dropped: $diff")
  }
}
