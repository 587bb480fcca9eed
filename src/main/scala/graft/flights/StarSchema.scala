package graft.flights

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Star-schema construction (SURVEY.md §2.3: T-6, T-8a/b/c, T-9,
  * T-11, T-12, T-13) over parquet directories that replace the
  * reference's PostgreSQL warehouse.
  *
  * Surrogate keys are minted as `maxExistingId + row_number() over
  * (ORDER BY natural_key)` — append-stable and deterministic across
  * re-runs (deliberately NOT monotonically_increasing_id, which is
  * partition-layout-dependent; SURVEY §2.3 T-9). The global-order
  * window touches only the NEW dimension rows (dims are tiny relative
  * to the fact), so the single-partition sort is not a scale hazard.
  *
  * Pinned semantics where the reference is order-dependent or buggy:
  *  - T-8a: PG enforces UNIQUE(airport_code) (init_postgres.sql:11) but
  *    the code dedups on (code,name) pairs — duplicate codes with
  *    different spellings would crash the reference. We dedup by code,
  *    keeping min(name) (deterministic).
  *  - T-8c: seasonality per date is "last row wins" in arbitrary pandas
  *    order; we pin max(seasonality) (deterministic), NULL -> 'Normal'.
  *  - T-13: the reference re-appends the ENTIRE staging table to the
  *    fact on every run (transformation.py:50,137), duplicating facts
  *    on re-runs. We rebuild the fact deterministically from staging
  *    (overwrite), making transform idempotent; the hash ledger already
  *    guarantees staging itself is append-once.
  *
  * Write layout: every fact commit (the transform's overwrite,
  * [[commitFactIncrement]] and [[compactFact]]) goes through one
  * writer that REBALANCEs on `departure_date_id` and writes flat
  * files: no directory per date, only the streaming `ingest_batch=N`
  * level. Each date lands in one shuffle partition, so a date's rows
  * stay in one file, and while the data is small (fixture and bench
  * scale) adaptive execution coalesces the commit to one file; a date
  * larger than the advisory partition size is still split across
  * tasks, so a skewed day never funnels through one writer. No KPI
  * prunes by date, so a directory per date bought nothing but a file
  * per date and commit to create and to open on every scan.
  */
class StarWarehouse(spark: SparkSession, root: String) {
  import StarWarehouse._

  def dimAirlinesPath: String = s"$root/dim_airlines"
  def dimAirportsPath: String = s"$root/dim_airports"
  def dimDatePath: String     = s"$root/dim_date"
  def factPath: String        = s"$root/fact_flights"
  /** The streaming build's applied-batch markers: one empty file per
    * micro-batch whose fact increment has committed. */
  def markersDir: String      = s"$root/_applied_batches"

  private def readOrEmpty(path: String, schema: StructType): DataFrame =
    if (StarWarehouse.pathExists(spark, path))
      spark.read.schema(schema).parquet(path)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def dimAirlines: DataFrame = readOrEmpty(dimAirlinesPath, FlightSchemas.dimAirlines)
  def dimAirports: DataFrame = readOrEmpty(dimAirportsPath, FlightSchemas.dimAirports)
  def dimDate: DataFrame     = readOrEmpty(dimDatePath, FlightSchemas.dimDate)

  /** The fact, read through the pinned schema: no inference, and a
    * file-less directory (all-dropped batch) reads as empty instead of
    * failing; columns re-ordered to the canonical projection since
    * partition columns surface last.
    *
    * Two layouts are understood: the batch transform's flat files, and
    * the streaming build's `ingest_batch=N` increments (see
    * [[commitFactIncrement]]); the increment column never escapes.
    * `departure_date_id` is an ordinary column of the files.
    *
    * The previous layout, a `departure_date_id=D` directory per date,
    * still reads (the date then comes from the directory name), as long
    * as one fact does not mix depths: Spark's partition discovery
    * rejects a tree with both `ingest_batch=N/departure_date_id=D/` and
    * flat `ingest_batch=N/` files. An increment layout written by the
    * previous code must therefore be compacted once ([[compactFact]])
    * before the first new micro-batch; a batch fact is rewritten flat
    * by the next [[transform]]. */
  def fact: DataFrame = {
    val schema =
      if (hasIncrementLayout)
        org.apache.spark.sql.types.StructType(
          FlightSchemas.factFlights.fields :+
            org.apache.spark.sql.types.StructField(
              "ingest_batch", org.apache.spark.sql.types.LongType))
      else FlightSchemas.factFlights
    readOrEmpty(factPath, schema)
      .select(FlightSchemas.factColumns.map(col).toIndexedSeq: _*)
  }

  private def hasIncrementLayout: Boolean = {
    val p = new org.apache.hadoop.fs.Path(factPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("ingest_batch="))
  }

  /** Date-bounded fact scan: a filter on the date column that the
    * parquet scan receives as pushed data filters (PushedFilters in
    * explain), so row groups whose date statistics miss the range are
    * skipped. */
  def factForDateRange(from: String, to: String): DataFrame =
    fact.filter(col("departure_date_id").between(from, to))

  /** T-9: incremental dim upsert with stable surrogate keys. Returns
    * the post-upsert dimension. `rows` must be distinct on `nk` and
    * carry no NULL `nk` (a left-anti join never matches NULL, so a
    * NULL key would be minted again on every run).
    *
    * Probe first: one `isEmpty` over the new keys decides everything.
    * A steady-state batch (no new keys) returns `existing` as is — no
    * max-id scan, no ranking, no write. Only a batch with new keys
    * pays for key minting, and its ranking caches are released before
    * this returns. */
  private def upsertDim(path: String, schema: StructType, existing: DataFrame,
                        rows: DataFrame, nk: String, idCol: String): DataFrame = {
    val fresh = rows.join(existing.select(nk), Seq(nk), "left_anti")
    if (fresh.isEmpty) existing
    else {
      graft.ops.Dedup.withSketchScope {
        val maxId = existing.agg(coalesce(max(col(idCol)), lit(0L))).head().getLong(0)
        // two-phase distributed ranking (graft.queries.Stats.globalRank),
        // not row_number over an unpartitioned window: these dims are tiny,
        // but an SCD dimension at warehouse scale is not, and the ranking
        // primitive costs the same here while never funnelling the delta
        // through one reducer. nk is unique in `rows` (caller contract),
        // so the order is total and the assigned keys are identical.
        graft.queries.Stats.globalRank(fresh, Seq(nk), "_rn")
          .withColumn(idCol, lit(maxId) + col("_rn"))
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
          .write.mode(SaveMode.Append).parquet(path)
      }
      readOrEmpty(path, schema)
    }
  }

  /** T-6/T-8: upsert all three dims for a cleaned batch; returns the
    * post-upsert dims. Shared by the batch transform and the streaming
    * incremental build (foreachBatch). */
  def upsertDimsFor(cleaned: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // T-6: dim_airlines
    // NULL natural keys never reach a dim: the fact drops their rows
    // at T-12 anyway, and upsertDim would re-mint them every run.
    val airlineRows = cleaned.select(col("airline").as("airline_name"))
      .filter(col("airline_name").isNotNull).distinct()
    val airlines = upsertDim(dimAirlinesPath, FlightSchemas.dimAirlines,
      dimAirlines, airlineRows, "airline_name", "airline_id")

    // T-8a: dim_airports — union of both roles, dedup by code.
    val src = cleaned.select(col("source_code").as("airport_code"),
      col("source_name").as("airport_name"))
    val dst = cleaned.select(col("destination_code").as("airport_code"),
      col("destination_name").as("airport_name"))
    val airportRows = src.unionByName(dst)
      .filter(col("airport_code").isNotNull)
      .groupBy("airport_code").agg(min("airport_name").as("airport_name"))
    val airports = upsertDim(dimAirportsPath, FlightSchemas.dimAirports,
      dimAirports, airportRows, "airport_code", "airport_id")

    // T-8b/T-8c: dim_date — calendar derivation + seasonality lookup.
    // date_id is its own natural key (no minting).
    val dateRows = StarBuild.dimDateRows(cleaned)
    val freshDates = dateRows.join(dimDate.select("date_id"), Seq("date_id"), "left_anti")
    if (!freshDates.isEmpty)
      freshDates.write.mode(SaveMode.Append).parquet(dimDatePath)
    val dates = readOrEmpty(dimDatePath, FlightSchemas.dimDate)
    (airlines, airports, dates)
  }

  /** T-11/T-12: the fact projection for a cleaned batch against the
    * given dims — FK resolution via broadcast joins (airports joined
    * twice under role aliases), then inner-join semantics of dropna. */
  def factRowsFor(cleaned: DataFrame, airlines: DataFrame,
                  airports: DataFrame): DataFrame = {
    val fa = broadcast(airlines.select(col("airline_name"), col("airline_id")))
    val fs = broadcast(airports.select(col("airport_code").as("source_code"),
      col("airport_id").as("source_airport_id")))
    val fd = broadcast(airports.select(col("airport_code").as("destination_code"),
      col("airport_id").as("destination_airport_id")))
    cleaned
      .withColumn("airline_name", col("airline"))
      .join(fa, Seq("airline_name"), "left")
      .join(fs, Seq("source_code"), "left")
      .join(fd, Seq("destination_code"), "left")
      .withColumn("departure_date_id", to_date(col("departure_dt")))
      .withColumn("days_before_departure", col("days_before_departure").cast(IntegerType))
      .na.drop("any", Seq("airline_id", "source_airport_id",
        "destination_airport_id", "departure_date_id"))
      .select(FlightSchemas.factColumns.map(col).toIndexedSeq: _*)
  }

  /** Commit a fact increment under an `ingest_batch=N` partition with
    * DYNAMIC partition overwrite — the streaming micro-batch sink.
    *
    * This is what makes the foreachBatch star build effectively
    * exactly-once on plain parquet: a micro-batch's content is pinned
    * by the checkpoint's offset log, so a crash-replayed batch N
    * rewrites exactly the `ingest_batch=N` subtree it wrote before
    * (dynamic overwrite replaces only the touched partitions) instead
    * of appending a second copy. The previous design appended into the
    * shared date partitions, leaving an unclosable duplicate window
    * between the append and any applied-marker write. */
  def commitFactIncrement(batchId: Long, factDf: DataFrame): Unit =
    writeFact(factDf.withColumn("ingest_batch", lit(batchId)), factPath,
      dynamicOverwrite = true)

  /** The one fact writer (see the class doc's write layout): overwrite
    * `dest` with flat files, under `ingest_batch` when `df` carries it,
    * after a REBALANCE on the date so each date is written by one task
    * unless it is skewed. */
  private def writeFact(df: DataFrame, dest: String,
                        dynamicOverwrite: Boolean = false): Unit = {
    val w = df.hint("rebalance", col("departure_date_id"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", if (dynamicOverwrite) "dynamic" else "static")
    (if (df.columns.contains("ingest_batch")) w.partitionBy("ingest_batch") else w)
      .parquet(dest)
  }

  /** Compact the streaming increment layout: merge every
    * `ingest_batch=N` subtree into a single `ingest_batch=-1` base
    * (micro-batches accumulate many small files — the classic 100 TB
    * streaming-sink problem; compaction restores scan efficiency and
    * keeps the layout increment-compatible so later batches land
    * beside the base).
    *
    * MAINTENANCE OP — single writer, stream stopped (AvailableNow
    * drained): after compaction the applied-batch markers are what
    * stops a hypothetically replayed old batch from re-adding
    * compacted rows, so markers must be retained alongside the fact.
    * Compaction therefore RE-CREATES the marker for every batch it
    * folds (gcMarkers may have deleted it while the partition was
    * live), making the marker invariant hold under any interleaving
    * of GC and compaction.
    * Crash-safe via build-aside + swap: the new dir is fully written
    * before the old one is touched, and a torn swap is healed on the
    * next call (the `.pre-compact` backup is restored first).
    *
    * The base is written in the current flat layout, so compaction is
    * also the one-time migration of an increment layout written by the
    * previous code (`ingest_batch=N/departure_date_id=D/`): run it once
    * before the first new micro-batch, because a fact that mixes both
    * depths fails partition discovery (see [[fact]]). */
  def compactFact(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(factPath)
    val fs = p.getFileSystem(conf)
    val bak = new org.apache.hadoop.fs.Path(factPath + ".pre-compact")
    val tmp = new org.apache.hadoop.fs.Path(factPath + ".compact-tmp")
    // heal a torn previous swap (fact dir missing, backup present)
    if (!fs.exists(p) && fs.exists(bak)) fs.rename(bak, p)
    // nothing to do unless some increment OTHER than the compacted
    // base exists
    val increments = if (!fs.exists(p)) Array.empty[String] else
      fs.listStatus(p).collect {
        case s if s.isDirectory && s.getPath.getName.startsWith("ingest_batch=") &&
          s.getPath.getName != "ingest_batch=-1" =>
          s.getPath.getName.stripPrefix("ingest_batch=")
      }
    if (increments.isEmpty) { fs.delete(tmp, true); return }
    // Re-create the applied-marker for every batch about to be folded,
    // BEFORE any destructive step. gcMarkers may legitimately delete a
    // live batch's marker (replay stays idempotent while the
    // ingest_batch=N partition exists), but once this compaction folds
    // the partition the marker is again the only replay guard — without
    // this, the GC -> compact -> checkpoint-loss-replay ordering
    // re-adds the batch's rows beside the compacted base. Restoring
    // markers first is crash-safe: a marker for a still-live partition
    // is always harmless (it only short-circuits an idempotent rewrite).
    val markers = new java.io.File(markersDir)
    markers.mkdirs()
    increments.foreach(id => new java.io.File(markers, id).createNewFile())
    writeFact(fact.withColumn("ingest_batch", lit(-1L)), tmp.toString)
    fs.delete(bak, true)
    fs.rename(p, bak)
    fs.rename(tmp, p)
    fs.delete(bak, true)
  }

  /** MARKER-RETENTION RULE (load-bearing once compaction exists): a
    * marker for batch N may be deleted ONLY while the fact still
    * carries an `ingest_batch=N` partition — replaying N without its
    * marker merely dynamic-overwrites that subtree, which is
    * idempotent. Once [[compactFact]] has folded batch N into the
    * `ingest_batch=-1` base, the marker is the ONLY thing standing
    * between a replayed batch N (e.g. after checkpoint loss) and
    * re-adding its rows BESIDE the compacted copy, so it must be
    * retained as long as the compacted base lives. This GC implements
    * exactly that rule; it never deletes a marker whose batch
    * partition is gone. The rule alone is necessary but not
    * sufficient: compaction can fold a partition AFTER its marker was
    * (legitimately) deleted, so [[compactFact]] re-creates the marker
    * for every batch it folds — the two ops are coupled, and the
    * GC -> compact -> checkpoint-loss-replay ordering cannot duplicate
    * rows. Markers are tiny (one empty file per batch), so retaining
    * the compacted ones forever is cheap; the deletable set is the
    * uncompacted tail.
    * Returns (deleted, retained). */
  def gcMarkers(): (Int, Int) = {
    val livePartitions = Option(new java.io.File(factPath).listFiles())
      .getOrElse(Array.empty).filter(_.isDirectory).map(_.getName).toSet
    val (deletable, retained) =
      Option(new java.io.File(markersDir).listFiles()).getOrElse(Array.empty)
        .partition(f => livePartitions.contains(s"ingest_batch=${f.getName}"))
    deletable.foreach(_.delete())
    (deletable.length, retained.length)
  }

  /** The batch transform stage (T-1..T-13): staging -> cleaned ->
    * dims -> fact, with the fact rebuilt deterministically. */
  def transform(staging: DataFrame): TransformStats = {
    val rowsIn = staging.count()
    val cleaned = Cleaning.clean(staging).cache()
    try {
      val rowsClean = cleaned.count() // materializes the cache; T-5 drop count

      val (airlines, airports, _) = upsertDimsFor(cleaned)
      writeFact(factRowsFor(cleaned, airlines, airports), factPath)
      // count the committed files (schema-pinned read handles the
      // file-less all-dropped case) — cheaper than re-running the plan
      TransformStats(rowsIn, rowsIn - rowsClean, fact.count())
    } finally cleaned.unpersist()
  }
}

object StarWarehouse {
  /** rowsDropped = T-5 validity filter drops (logged by the reference,
    * transformation.py:77-79). */
  case class TransformStats(rowsIn: Long, rowsDropped: Long, factRows: Long)

  /** Quiet existence probe (a speculative read would log exceptions). */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

/** Pure dim-derivation plans shared by the warehouse and the oracle
  * query surface. */
object StarBuild {
  /** T-8b/T-8c over a cleaned frame (must carry departure_dt and
    * standardized seasonality). */
  def dimDateRows(cleaned: DataFrame): DataFrame =
    cleaned
      .filter(col("departure_dt").isNotNull)
      .groupBy(to_date(col("departure_dt")).as("date_id"))
      .agg(max(col("seasonality")).as("seasonality"))
      .select(
        col("date_id"),
        year(col("date_id")).as("year"),
        month(col("date_id")).as("month"),
        dayofmonth(col("date_id")).as("day"),
        quarter(col("date_id")).as("quarter"),
        // pandas dayofweek: Mon=0..Sun=6; Spark dayofweek: Sun=1..Sat=7
        ((dayofweek(col("date_id")) + lit(5)) % 7).as("day_of_week"),
        (((dayofweek(col("date_id")) + lit(5)) % 7) >= 5).as("is_weekend"),
        coalesce(col("seasonality"), lit("Normal")).as("seasonality"))
}
