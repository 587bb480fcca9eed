package graft.flights

import java.io.File
import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StarSchemaSpec extends SparkTestBase {
  import spark.implicits._

  private def stagingFromCsv(name: String): DataFrame =
    FlightSchemas.renameToStaging(
      spark.read.schema(FlightSchemas.rawCsv).option("header", true)
        .csv(resource(name)))

  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(_.getName.endsWith(".parquet"))

  /** Every `departure_date_id=` directory under `dir`, at any depth. */
  private def dateDirs(dir: File): Seq[File] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq.filter(_.isDirectory)
      .flatMap(d => (if (d.getName.startsWith("departure_date_id=")) Seq(d) else Nil) ++ dateDirs(d))

  /** Every file under `dir`, with its size and modification time. */
  private def fileStamps(dir: File): Set[(String, Long, Long)] =
    Option(dir.listFiles()).getOrElse(Array.empty[File]).toSet.flatMap { (f: File) =>
      if (f.isDirectory) fileStamps(f)
      else Set((f.getPath, f.length(), f.lastModified()))
    }

  /** MD5 of the frame's rows, rendered and sorted. */
  private def rowsDigest(df: DataFrame): String = {
    val text = df.collect().map(_.mkString("|")).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("transform builds the 13-column fact and three dims") {
    val wh = new StarWarehouse(spark, tmpDir("star"))
    val stats = wh.transform(stagingFromCsv("flights_small.csv"))
    assert(stats.rowsIn == 49)
    assert(stats.rowsDropped == 4) // the four T-5 invalid rows
    assert(wh.fact.columns.toSeq == FlightSchemas.factColumns)
    // fact loses the null-departure row too (T-12 dropna on date FK)
    assert(stats.factRows == 44)
    // dims: 4 distinct title-cased airlines, 6 airports (dedup by code)
    assert(wh.dimAirlines.count() == 4)
    assert(wh.dimAirports.count() == 6)
    val names = wh.dimAirlines.select("airline_name").as[String].collect().toSet
    assert(names == Set("Biman Bangladesh", "Us-Bangla", "Novoair", "Air Astra"))
  }

  test("dim_date: pandas dow convention, weekend flag, seasonality max-wins") {
    val wh = new StarWarehouse(spark, tmpDir("star"))
    wh.transform(stagingFromCsv("flights_small.csv"))
    val d = wh.dimDate.filter(col("date_id") === "2024-01-06").head()
    // 2024-01-06 is a Saturday: pandas dow 5, weekend
    assert(d.getAs[Int]("day_of_week") == 5)
    assert(d.getAs[Boolean]("is_weekend"))
    // 2024-01-05: conflicting labels Winter vs Eid -> max picks Winter
    val s = wh.dimDate.filter(col("date_id") === "2024-01-05").head()
    assert(s.getAs[String]("seasonality") == "Winter")
    // empty-seasonality date falls back to Normal
    val n = wh.dimDate.filter(col("date_id") === "2024-08-09").head()
    assert(n.getAs[String]("seasonality") == "Normal")
  }

  test("surrogate keys are dense, stable across incremental runs") {
    val root = tmpDir("star")
    val wh = new StarWarehouse(spark, root)
    wh.transform(stagingFromCsv("flights_small.csv"))
    val before = wh.dimAirlines.as[(Long, String)].collect().toMap.map(_.swap)
    // incremental run with extra airlines (append fixture has same 4 + none new,
    // so synthesize a new airline)
    val extra = stagingFromCsv("flights_small.csv")
      .withColumn("airline", lit("brand NEW air"))
    val combined = stagingFromCsv("flights_small.csv").unionByName(extra)
    wh.transform(combined)
    val after = wh.dimAirlines.as[(Long, String)].collect().toMap.map(_.swap)
    // old names keep their ids; the new one gets max+1
    before.foreach { case (name, id) => assert(after(name) == id) }
    assert(after("Brand New Air") == before.values.max + 1)
    assert(after.values.toSeq.sorted == (1L to after.size).toSeq)
  }

  test("transform is idempotent on the fact (overwrite, not blind append)") {
    val root = tmpDir("star")
    val wh = new StarWarehouse(spark, root)
    val s1 = wh.transform(stagingFromCsv("flights_small.csv"))
    val s2 = wh.transform(stagingFromCsv("flights_small.csv"))
    assert(s1.factRows == s2.factRows)
    assert(wh.dimAirlines.count() == 4)
    assert(wh.dimAirports.count() == 6)
  }

  test("fact FK resolution: every surviving row joins to real dim rows") {
    val wh = new StarWarehouse(spark, tmpDir("star"))
    wh.transform(stagingFromCsv("flights_small.csv"))
    val fact = wh.fact
    val orphans = fact
      .join(wh.dimAirlines, Seq("airline_id"), "left_anti")
    assert(orphans.isEmpty)
    val orphanAirports = fact.join(
      wh.dimAirports.select(col("airport_id").as("source_airport_id")),
      Seq("source_airport_id"), "left_anti")
    assert(orphanAirports.isEmpty)
  }

  test("NULL natural keys are never minted; repeated runs keep ids and facts") {
    val root = tmpDir("star")
    val wh = new StarWarehouse(spark, root)
    val base = stagingFromCsv("flights_small.csv")
    val staging = base
      .unionByName(base.limit(1).withColumn("airline", lit(null).cast("string")))
      .unionByName(base.limit(1).withColumn("source_code", lit(null).cast("string")))
    val s1 = wh.transform(staging)
    val airlines1 = wh.dimAirlines.as[(Long, String)].collect().toMap
    val airports1 = wh.dimAirports.as[(Long, String, String)].collect().toSet
    wh.transform(staging)
    val s3 = wh.transform(staging)
    assert(wh.dimAirlines.filter(col("airline_name").isNull).isEmpty)
    assert(wh.dimAirports.filter(col("airport_code").isNull).isEmpty)
    assert(wh.dimAirlines.as[(Long, String)].collect().toMap == airlines1)
    assert(wh.dimAirports.as[(Long, String, String)].collect().toSet == airports1)
    assert(airlines1.keys.toSeq.sorted == (1L to 4L))
    // both NULL-key rows drop from the fact (T-12), on every run
    assert(s1.factRows == 44 && s3.factRows == 44)
  }

  test("a transform that mints new keys leaves no persistent RDDs behind") {
    val wh = new StarWarehouse(spark, tmpDir("star"))
    val before = spark.sparkContext.getPersistentRDDs.size
    wh.transform(stagingFromCsv("flights_small.csv"))
    assert(wh.dimAirlines.count() == 4) // keys were minted
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("transform writes one flat fact file per commit; rows unchanged") {
    val root = tmpDir("star")
    val wh = new StarWarehouse(spark, root)
    // spread over four partitions, so several tasks hold rows of a date
    wh.transform(stagingFromCsv("flights_small.csv").repartition(4))
    val factDir = new File(wh.factPath)
    assert(parquetFiles(factDir).size == 1, parquetFiles(factDir).map(_.getName))
    assert(dateDirs(factDir).isEmpty)
    // digest of the fact this fixture produced before the rebalanced
    // layout: the write layout moves rows between files, never changes them
    assert(wh.fact.count() == 44)
    assert(rowsDigest(wh.fact) == "b44f3a1ca66e678531afeb855cebb497")
  }

  test("previous per-date layout reads back; transform and compaction rewrite it flat") {
    val flat = new StarWarehouse(spark, tmpDir("star"))
    flat.transform(stagingFromCsv("flights_small.csv"))
    val digest = rowsDigest(flat.fact)

    // batch form: departure_date_id=D/
    val batch = new StarWarehouse(spark, tmpDir("star"))
    flat.fact.write.partitionBy("departure_date_id").parquet(batch.factPath)
    assert(dateDirs(new File(batch.factPath)).nonEmpty)
    assert(rowsDigest(batch.fact) == digest)
    batch.transform(stagingFromCsv("flights_small.csv"))
    assert(dateDirs(new File(batch.factPath)).isEmpty)
    assert(parquetFiles(new File(batch.factPath)).size == 1)
    assert(rowsDigest(batch.fact) == digest)

    // streaming increment form: ingest_batch=N/departure_date_id=D/
    val inc = new StarWarehouse(spark, tmpDir("star"))
    flat.fact.withColumn("ingest_batch", (col("airline_id") % 2).cast("long"))
      .write.partitionBy("ingest_batch", "departure_date_id").parquet(inc.factPath)
    assert(rowsDigest(inc.fact) == digest)
    inc.compactFact()
    val incDir = new File(inc.factPath)
    assert(incDir.listFiles().filter(_.isDirectory).map(_.getName).toSet ==
      Set("ingest_batch=-1"))
    assert(dateDirs(incDir).isEmpty)
    assert(parquetFiles(new File(incDir, "ingest_batch=-1")).size == 1)
    assert(rowsDigest(inc.fact) == digest)
  }

  test("a transform whose fact write fails releases its cache") {
    val root = tmpDir("star")
    val wh = new StarWarehouse(spark, root)
    // the fact path links into a plain file, so the write cannot create
    // its directory (an overwrite would just delete a plain file there)
    val occupied = Files.write(Paths.get(s"$root/occupied"), "not a fact".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(wh.factPath), occupied.resolve("fact"))
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception](wh.transform(stagingFromCsv("flights_small.csv")))
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("steady-state dim upsert: probe-only jobs, no dimension writes") {
    val root = tmpDir("star")
    val wh = new StarWarehouse(spark, root)
    val cleaned = Cleaning.clean(stagingFromCsv("flights_small.csv")).cache()
    try {
      wh.upsertDimsFor(cleaned) // first run mints every key
      val dimDirs = Seq(wh.dimAirlinesPath, wh.dimAirportsPath, wh.dimDatePath).map(new File(_))
      val filesBefore = dimDirs.map(fileStamps)
      val jobs = jobsIn(wh.upsertDimsFor(cleaned))
      // one isEmpty probe per dimension; before the probe-first rule the
      // same call ran 18 jobs (max-id scan and ranking on empty deltas)
      assert(jobs == 6, s"steady-state upsert ran $jobs jobs")
      assert(dimDirs.map(fileStamps) == filesBefore)
    } finally cleaned.unpersist()
  }
}
