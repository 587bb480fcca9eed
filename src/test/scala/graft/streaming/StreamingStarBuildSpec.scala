package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkTestBase
import graft.flights.{FlightSchemas, StarWarehouse}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StreamingStarBuildSpec extends SparkTestBase {
  import spark.implicits._

  private def staged(csv: String): DataFrame =
    FlightSchemas.renameToStaging(
      spark.read.schema(FlightSchemas.rawCsv).option("header", true)
        .csv(resource(csv)))

  private def stage(csv: String, outDir: String): Unit =
    staged(csv).write.mode("append").parquet(outDir)

  test("micro-batches accumulate facts; dims converge with stable keys") {
    val root = tmpDir("sstar")
    val stagingDir = s"$root/staging"
    val wh = new StarWarehouse(spark, s"$root/wh")

    // batch 1: the clean fixture (50 valid rows)
    stage("flights_clean.csv", stagingDir)
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()
    val facts1 = wh.fact.count()
    assert(facts1 == 50)
    val keys1 = wh.dimAirlines.as[(Long, String)].collect().toMap

    // batch 2: more files land — same airlines + new rows (the small
    // fixture shares airlines/airports; its invalid rows are dropped)
    stage("flights_small.csv", stagingDir)
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()
    val facts2 = wh.fact.count()
    assert(facts2 == facts1 + 44) // 44 = small fixture's surviving fact rows
    // dims deduped, surrogate keys unchanged for existing names
    val keys2 = wh.dimAirlines.as[(Long, String)].collect().toMap
    keys1.foreach { case (id, name) => assert(keys2(id) == name) }
    assert(wh.dimAirlines.count() == wh.dimAirlines.select("airline_name").distinct().count())
  }

  test("restart with no new staged files appends nothing (exactly-once)") {
    val root = tmpDir("sstar")
    val stagingDir = s"$root/staging"
    stage("flights_clean.csv", stagingDir)
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()
    val wh = new StarWarehouse(spark, s"$root/wh")
    assert(wh.fact.count() == 50)
  }

  test("compaction merges increments into one base; later batches land beside it") {
    val root = tmpDir("sstar")
    val stagingDir = s"$root/staging"
    val wh = new StarWarehouse(spark, s"$root/wh")
    stage("flights_clean.csv", stagingDir)
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()
    assert(wh.fact.count() == 50)

    wh.compactFact()
    assert(wh.fact.count() == 50) // same data, one base partition
    val subdirs = new java.io.File(s"$root/wh/fact_flights").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs == Set("ingest_batch=-1"))
    // idempotent when there is nothing to merge
    wh.compactFact()
    assert(wh.fact.count() == 50)

    // the next micro-batch appends a fresh increment beside the base
    stage("flights_small.csv", stagingDir)
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()
    assert(wh.fact.count() == 94)
  }

  test("replay after compaction does not resurrect compacted rows (marker coupling)") {
    val root = tmpDir("sstar")
    val stagingDir = s"$root/staging"
    val wh = new StarWarehouse(spark, s"$root/wh")
    stage("flights_clean.csv", stagingDir)
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()
    wh.compactFact()
    assert(wh.fact.count() == 50)

    // Checkpoint loss: a fresh checkpoint re-delivers every staged
    // file as batch 0 — the exact replay compaction must survive.
    // The retained marker skips the body, so nothing lands beside the
    // compacted base.
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt2")
      .awaitTermination()
    assert(wh.fact.count() == 50, "replayed batch resurrected compacted rows")
    val subdirs = new java.io.File(s"$root/wh/fact_flights").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs == Set("ingest_batch=-1"), s"increment reappeared: $subdirs")
  }

  test("marker GC retains compacted batches' markers and deletes only replay-safe ones") {
    val root = tmpDir("sstar")
    val stagingDir = s"$root/staging"
    val wh = new StarWarehouse(spark, s"$root/wh")
    stage("flights_clean.csv", stagingDir)
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()

    // BEFORE compaction ingest_batch=0 still exists: its marker is
    // replay-safe to drop (dynamic overwrite is idempotent), so GC
    // may delete it...
    val (deleted0, retained0) = wh.gcMarkers()
    assert(deleted0 == 1 && retained0 == 0)
    // ...and a marker-less replay (fresh checkpoint) rewrites the
    // batch-0 subtree instead of duplicating it.
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt2")
      .awaitTermination()
    assert(wh.fact.count() == 50)
    assert(Files.exists(Paths.get(s"$root/wh/_applied_batches/0"))) // re-marked

    // AFTER compaction the partition is gone: the marker is
    // load-bearing and GC must retain it.
    wh.compactFact()
    val (deleted1, retained1) = wh.gcMarkers()
    assert(deleted1 == 0 && retained1 == 1,
      "GC deleted a compacted batch's marker — replay would resurrect rows")

    // Prove the rule is load-bearing: violating it (deleting the
    // marker by hand post-compaction) makes the same replay duplicate
    // every compacted row.
    Files.delete(Paths.get(s"$root/wh/_applied_batches/0"))
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt3")
      .awaitTermination()
    assert(wh.fact.count() == 100,
      "expected the rule violation to resurrect rows — test premise broken")
  }

  test("GC then compaction then checkpoint-loss replay does not duplicate (ops coupled)") {
    // ADVICE r3: gcMarkers' retention rule alone is necessary but not
    // sufficient — GC may delete the marker of a still-live batch, and
    // a LATER compaction folds that partition. Without compactFact
    // re-creating the folded batches' markers, the subsequent
    // checkpoint-loss replay has neither marker nor partition and
    // re-adds its rows beside the base. This is that exact ordering.
    val root = tmpDir("sstar")
    val stagingDir = s"$root/staging"
    val wh = new StarWarehouse(spark, s"$root/wh")
    stage("flights_clean.csv", stagingDir)
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()

    // 1. GC: batch 0's partition is live, so its marker is deletable.
    val (deleted, _) = wh.gcMarkers()
    assert(deleted == 1 && !Files.exists(Paths.get(s"$root/wh/_applied_batches/0")))
    // 2. Compaction folds ingest_batch=0 — and must restore its marker.
    wh.compactFact()
    assert(Files.exists(Paths.get(s"$root/wh/_applied_batches/0")),
      "compactFact did not re-create the folded batch's marker")
    // 3. Checkpoint loss: a fresh checkpoint re-delivers everything as
    // batch 0. The restored marker must stop it.
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt2")
      .awaitTermination()
    assert(wh.fact.count() == 50, "GC->compact->replay duplicated compacted rows")
    val subdirs = new java.io.File(s"$root/wh/fact_flights").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs == Set("ingest_batch=-1"), s"increment reappeared: $subdirs")
  }

  test("crash between fact commit and marker write replays without duplicates") {
    val root = tmpDir("sstar")
    val stagingDir = s"$root/staging"
    stage("flights_clean.csv", stagingDir)
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()
    val wh = new StarWarehouse(spark, s"$root/wh")
    assert(wh.fact.count() == 50)
    val dimRows = wh.dimAirlines.count()

    // Simulate the torn run: the fact increment landed but BOTH the
    // applied-marker and the checkpoint's commit record were lost, so
    // the restarted stream re-delivers batch 0 and re-executes the
    // full foreachBatch body against already-committed state.
    Files.delete(Paths.get(s"$root/wh/_applied_batches/0"))
    Files.delete(Paths.get(s"$root/ckpt/commits/0"))
    Files.deleteIfExists(Paths.get(s"$root/ckpt/commits/.0.crc"))
    StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
      .awaitTermination()

    // dynamic overwrite of ingest_batch=0 + anti-join dim upserts:
    // the replay rewrites, never duplicates
    assert(wh.fact.count() == 50)
    assert(wh.dimAirlines.count() == dimRows)
    assert(Files.exists(Paths.get(s"$root/wh/_applied_batches/0"))) // healed
  }

  test("one parquet file per commit: micro-batch and compaction") {
    val root = tmpDir("sstar")
    val stagingDir = s"$root/staging"
    val wh = new StarWarehouse(spark, s"$root/wh")
    def batchDirs(): Seq[java.io.File] =
      new java.io.File(wh.factPath).listFiles().toSeq.filter(_.isDirectory)
    def assertOneFilePerBatch(): Unit = {
      val dirs = batchDirs()
      assert(dirs.nonEmpty)
      dirs.foreach { d =>
        assert(!d.listFiles().exists(_.isDirectory), s"${d.getName} has subdirectories")
        val files = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        assert(files.length == 1, s"${d.getName}: ${files.toSeq}")
      }
    }
    // four staged files per batch, so several tasks hold rows of a date
    Seq("flights_clean.csv", "flights_small.csv").foreach { csv =>
      staged(csv).repartition(4).write.mode("append").parquet(stagingDir)
      StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
        .awaitTermination()
    }
    assert(batchDirs().map(_.getName).toSet == Set("ingest_batch=0", "ingest_batch=1"))
    assertOneFilePerBatch()
    wh.compactFact()
    assert(batchDirs().map(_.getName).toSet == Set("ingest_batch=-1"))
    assertOneFilePerBatch()
    assert(wh.fact.count() == 94)
  }
}
