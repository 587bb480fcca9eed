package graft.flights

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkTestBase

class PipelineSpec extends SparkTestBase {
  test("end-to-end DAG run on clean data passes both validation gates") {
    val root = tmpDir("pipe")
    val csv = s"$root/flights.csv"
    Files.copy(Paths.get(resource("flights_clean.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    val p = new FlightPipeline(spark, root)
    val c = p.run(csv)
    assert(c.source == 50 && c.staging == 50 && c.fact == 50)
  }

  test("second run is a no-op and still validates (idempotency)") {
    val root = tmpDir("pipe")
    val csv = s"$root/flights.csv"
    Files.copy(Paths.get(resource("flights_clean.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    val p = new FlightPipeline(spark, root)
    p.run(csv)
    val c2 = p.run(csv)
    assert(c2.source == 50 && c2.staging == 50 && c2.fact == 50)
  }

  test("validation raises on staged-vs-source mismatch (V-3)") {
    val c = Validation.Counts(source = 100, staging = 99, fact = 99)
    val e = intercept[IllegalStateException](Validation.validate(c))
    assert(e.getMessage.contains("Data Loss detected"))
  }

  test("validation enforces the 1% fact budget (V-4)") {
    Validation.validate(Validation.Counts(1000, 1000, 990)) // exactly 1%: ok
    val e = intercept[IllegalStateException](
      Validation.validate(Validation.Counts(1000, 1000, 989)))
    assert(e.getMessage.contains("High Data Loss"))
  }

  /** The three counts as separate queries, with the CSV header inferred. */
  private def separateCounts(csv: String, staging: String, fact: String): Validation.Counts =
    Validation.Counts(
      spark.read.option("header", true).csv(csv).count(),
      spark.read.parquet(staging).count(),
      spark.read.parquet(fact).count())

  test("gate counts: one query equals the three separate counts, in at most 2 jobs") {
    val root = tmpDir("pipe")
    val ingest = new FlightIngest(spark, root)
    val wh = new StarWarehouse(spark, s"$root/analytics")
    ingest.ingest(resource("flights_small.csv"))
    wh.transform(ingest.staging)
    val expected = separateCounts(resource("flights_small.csv"), ingest.stagingPath, wh.factPath)
    assert(expected == Validation.Counts(49, 49, 44))
    var c: Validation.Counts = null
    val jobs = jobsIn { c = Validation.counts(spark, resource("flights_small.csv"),
      ingest.stagingPath, wh.factPath) }
    assert(c == expected)
    assert(jobs <= 2, s"Validation.counts ran $jobs jobs")

    // the streaming input shape: a directory of CSV files, each with a header
    val dir = s"$root/csvdir"
    Files.createDirectories(Paths.get(dir))
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(s"$dir/a.csv"))
    Files.copy(Paths.get(resource("flights_clean.csv")), Paths.get(s"$dir/b.csv"))
    val fromDir = Validation.counts(spark, dir, ingest.stagingPath, wh.factPath)
    assert(fromDir == separateCounts(dir, ingest.stagingPath, wh.factPath))
    assert(fromDir.source == 99)
  }
}
