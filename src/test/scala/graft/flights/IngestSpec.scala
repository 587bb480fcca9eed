package graft.flights

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkTestBase

class IngestSpec extends SparkTestBase {
  private def freshRoot(csv: String): (FlightIngest, String) = {
    val root = tmpDir("ingest")
    val live = s"$root/flights.csv"
    Files.copy(Paths.get(resource(csv)), Paths.get(live),
      StandardCopyOption.REPLACE_EXISTING)
    (new FlightIngest(spark, root), live)
  }

  test("first load: all distinct rows land in staging, offset advances") {
    val (ing, csv) = freshRoot("flights_small.csv")
    val r = ing.ingest(csv)
    assert(r.rowsScanned == 49)
    assert(r.rowsLoaded == 49) // fixture has no exact duplicate rows
    assert(r.newOffset == 49)
    assert(ing.staging.count() == 49)
    assert(ing.ledger.count() == 49)
    // staging carries the renamed snake_case layout
    assert(ing.staging.columns.toSeq == FlightSchemas.renameMap.map(_._2))
  }

  test("re-run with no new rows: early exit, nothing written") {
    val (ing, csv) = freshRoot("flights_small.csv")
    ing.ingest(csv)
    val r2 = ing.ingest(csv)
    assert(r2.rowsScanned == 0 && r2.rowsLoaded == 0)
    assert(ing.staging.count() == 49)
  }

  test("file growth: only appended rows are scanned; exact dupes are dropped by the ledger") {
    val (ing, csv) = freshRoot("flights_small.csv")
    ing.ingest(csv)
    // The file grows in place: flights_append.csv = small + 15 new + 3 dupes
    Files.copy(Paths.get(resource("flights_append.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    val r2 = ing.ingest(csv)
    assert(r2.rowsScanned == 18)
    assert(r2.rowsLoaded == 15) // 3 dupes deduped via hash ledger
    assert(ing.staging.count() == 64)
    assert(ing.ledger.count() == 64)
  }

  test("shrink reset: smaller all-seen file leaves staging intact (reference parity)") {
    val (ing, csv) = freshRoot("flights_append.csv")
    ing.ingest(csv)
    Files.copy(Paths.get(resource("flights_shrunk.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    val r2 = ing.ingest(csv)
    assert(r2.rowsScanned == 10)
    // shrunk rows are a subset of already-hashed rows => ledger drops all
    assert(r2.rowsLoaded == 0)
    assert(r2.newOffset == 10)
    // empty deduped batch => staging untouched, like the reference's
    // skipped to_sql; stale rows remain and V-3 alarms source!=staging
    assert(ing.staging.count() == 64)
  }

  test("crash retry after ledger commit but before offset write keeps staging") {
    val (ing, csv) = freshRoot("flights_small.csv")
    ing.ingest(csv)
    // Simulate the torn run: staging + ledger committed, offset LOST.
    Files.delete(Paths.get(s"${ing.stagingPath}/../state/flight_csv_offset").normalize())
    assert(ing.offset == 0)
    val r2 = ing.ingest(csv)
    // Retry re-scans from 0; every row is already in the ledger, so the
    // batch dedupes to empty — staging must survive, offset must heal.
    assert(r2.rowsScanned == 49 && r2.rowsLoaded == 0)
    assert(ing.offset == 49)
    assert(ing.staging.count() == 49)
    assert(ing.ledger.count() == 49)
  }

  test("crash between staging and ledger writes: retry does not duplicate staging rows") {
    // VERDICT r3 #3, window (a): the old append-mode staging write
    // meant a retry re-APPENDED the whole batch beside the crashed
    // attempt's rows. The marked-increment protocol overwrites the
    // batch's own ingest_batch partition instead.
    val root = tmpDir("ingest")
    val csv = s"$root/flights.csv"
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    val ing = new FlightIngest(spark, root)
    ing.ingest(csv)
    // grow the file with the append fixture's DISTINCT lines (its 3
    // planted dupe rows would fail V-3 even without a crash — the
    // reference's validation.py has the same property), then crash the
    // append batch right after its staging write commits (ledger +
    // offset + marker-clear all lost)
    val distinct = new java.util.ArrayList[String](new java.util.LinkedHashSet[String](
      Files.readAllLines(Paths.get(resource("flights_append.csv")))))
    Files.write(Paths.get(csv), distinct) // header + 64 data rows
    val crashing = new FlightIngest(spark, root) {
      override protected def afterStagingWrite(): Unit =
        throw new RuntimeException("injected crash: staging committed, ledger lost")
    }
    intercept[RuntimeException](crashing.ingest(csv))
    // the torn batch IS on disk (that's the hazard being healed)
    assert(ing.staging.count() == 64)
    assert(ing.ledger.count() == 49)
    // retry with a healthy instance: the intent marker pins the same
    // extent, the partition overwrite replaces (not duplicates) the
    // crashed attempt, and the ledger/offset catch up
    val r = ing.ingest(csv)
    assert(r.rowsLoaded == 15 && r.newOffset == 64)
    assert(ing.staging.count() == 64, "retry duplicated the crashed batch's staging rows")
    assert(ing.ledger.count() == 64)
    // V-3 stays green: staging reconciles exactly against the source
    Validation.validate(Validation.Counts(source = 64, staging = ing.staging.count(), fact = 64))
  }

  test("legacy 3-field marker resumes under its original seq (ADVICE r5)") {
    // The marker format grew a 4th field (headHash) in r4. A crash
    // that straddles the upgrade leaves a 3-FIELD marker; parsing it
    // as "torn — fresh batch" lets a new seq re-cover the extent
    // beside the orphaned staging partition, duplicating rows — the
    // exact hazard the marker exists to prevent. The legacy arm must
    // resume it (fingerprint check skipped: never recorded).
    val root = tmpDir("ingest")
    val csv = s"$root/flights.csv"
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    val ing = new FlightIngest(spark, root)
    ing.ingest(csv)
    val distinct = new java.util.ArrayList[String](new java.util.LinkedHashSet[String](
      Files.readAllLines(Paths.get(resource("flights_append.csv")))))
    Files.write(Paths.get(csv), distinct) // header + 64 data rows
    val crashing = new FlightIngest(spark, root) {
      override protected def afterStagingWrite(): Unit =
        throw new RuntimeException("injected crash: staging committed, ledger lost")
    }
    intercept[RuntimeException](crashing.ingest(csv))
    // downgrade the crashed batch's marker to the pre-upgrade format
    val marker = Paths.get(s"$root/state/flight_inflight")
    val legacy = new String(Files.readAllBytes(marker)).split(':').take(3).mkString(":")
    Files.write(marker, legacy.getBytes)
    assert(ing.staging.count() == 64 && ing.ledger.count() == 49)
    val r = ing.ingest(csv)
    // resumed under the crashed seq: partition overwrite, no duplicates
    assert(r.rowsLoaded == 15 && r.newOffset == 64)
    assert(ing.staging.count() == 64,
      "legacy marker read as fresh batch — extent duplicated beside the orphan")
    assert(ing.ledger.count() == 64)
    Validation.validate(Validation.Counts(
      source = 64, staging = ing.staging.count(), fact = 64))
  }

  test("first-load crash after ledger write + file growth: staged rows survive the retry") {
    // VERDICT r3 #3, window (b): with off==0 and a non-empty ledger,
    // the old retry rebuilt staging from the fresh (new-tail) rows
    // only, silently dropping the crashed batch's staged rows. The
    // intent marker pins the crashed extent, so the retry re-runs THAT
    // batch (freshCount == 0 -> staging intact, offset heals) and then
    // drains the grown tail as its own increment in the same call.
    val root = tmpDir("ingest")
    val csv = s"$root/flights.csv"
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    val crashing = new FlightIngest(spark, root) {
      override protected def afterLedgerWrite(): Unit =
        throw new RuntimeException("injected crash: ledger committed, offset lost")
    }
    intercept[RuntimeException](crashing.ingest(csv))
    val ing = new FlightIngest(spark, root)
    assert(ing.offset == 0 && ing.staging.count() == 49)
    // the file grows while the pipeline is down
    Files.copy(Paths.get(resource("flights_append.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    val r = ing.ingest(csv)
    // one call: resumed pinned batch (49 scanned, 0 fresh) + grown tail
    // (18 scanned, 15 fresh after ledger dedup)
    assert(r.rowsScanned == 67 && r.rowsLoaded == 15 && r.newOffset == 67)
    assert(ing.staging.count() == 64, "retry lost the crashed batch's staged rows")
    assert(ing.ledger.count() == 64)
  }

  test("shrink-reset kills a stale marker: the dead extent is never resumed") {
    // Self-review r4: a crash between writeOffset and clearInflight
    // leaves a marker for a fully-committed batch. If the file is then
    // REPLACED by a shorter one, the shrink-reset puts the offset back
    // at the marker's offset — without invalidation the dead extent
    // would be resumed against the new file's different rows, and its
    // ledger partition (a committed batch!) dynamically overwritten.
    val (ing, csv) = freshRoot("flights_small.csv")
    ing.ingest(csv)
    assert(ing.ledger.count() == 49)
    // simulate the lost clearInflight: marker for the committed batch
    val marker = Paths.get(s"${ing.stagingPath}/../state/flight_inflight").normalize()
    Files.createDirectories(marker.getParent)
    // (headHash field irrelevant here: the shrink length check kills
    // the marker before the fingerprint is ever consulted)
    Files.write(marker, "0:0:49:12345".getBytes)
    // file replaced by a shorter one
    Files.copy(Paths.get(resource("flights_shrunk.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    val r = ing.ingest(csv)
    // fresh batch over the new file's real extent — not the dead one
    assert(r.rowsScanned == 10 && r.newOffset == 10)
    // the committed batch's ledger history survives intact
    assert(ing.ledger.count() >= 49)
    assert(!Files.exists(marker) || !new String(Files.readAllBytes(marker)).startsWith("0:0:49"))
  }

  test("same-length replacement at a pinned extent: fingerprint kills the marker") {
    // ADVICE r4: the EOF check only catches SHORTER replacements — a
    // replacement file as long as the pinned extent used to be
    // resumed, committing the NEW file's rows under the crashed
    // batch's seq. The marker's headHash (fingerprint of the extent's
    // first data line) must detect it, drop the crashed attempt's
    // uncommitted staging orphan, and re-cover the extent fresh.
    val root = tmpDir("ingest")
    val csv = s"$root/flights.csv"
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    new FlightIngest(spark, root).ingest(csv) // offset 49 committed
    val distinct = new java.util.ArrayList[String](new java.util.LinkedHashSet[String](
      Files.readAllLines(Paths.get(resource("flights_append.csv")))))
    Files.write(Paths.get(csv), distinct) // header + 64 data rows
    val crashing = new FlightIngest(spark, root) {
      override protected def afterStagingWrite(): Unit =
        throw new RuntimeException("injected crash: staging committed, ledger lost")
    }
    intercept[RuntimeException](crashing.ingest(csv))
    // marker pins [49, 64); the crashed attempt's 15-row staging
    // partition is on disk with no ledger partition
    val ing = new FlightIngest(spark, root)
    assert(ing.staging.count() == 64 && ing.ledger.count() == 49)
    // replace the file IN PLACE with one of identical length whose
    // extent rows are different data (every line past 49 mutated)
    val replaced = new java.util.ArrayList[String](distinct)
    for (i <- 50 until replaced.size) // line 0 is the header
      replaced.set(i, replaced.get(i).replaceFirst("^", "zz-"))
    Files.write(Paths.get(csv), replaced)
    val r = ing.ingest(csv)
    // fingerprint mismatch: dead marker, orphan dropped, extent
    // re-covered from the REPLACEMENT under a fresh batch
    assert(r.rowsScanned == 15 && r.rowsLoaded == 15 && r.newOffset == 64)
    assert(ing.staging.count() == 64,
      "crashed attempt's orphaned staging partition double-counts the extent")
    assert(ing.ledger.count() == 64)
    Validation.validate(Validation.Counts(
      source = 64, staging = ing.staging.count(), fact = 64))
  }

  test("resume never rewrites the intent marker (torn-rewrite hazard)") {
    // Self-review r4: rewriting the marker on every attempt means a
    // crash mid-rewrite tears it AFTER the crashed attempt's staging
    // partition exists; the torn marker reads as fresh-batch, a new
    // seq is allocated, and the extent's rows land twice. The fix is
    // to leave a matching marker untouched — prove it stays
    // byte-identical across repeated crashed resumes.
    val root = tmpDir("ingest")
    val csv = s"$root/flights.csv"
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(csv),
      StandardCopyOption.REPLACE_EXISTING)
    new FlightIngest(spark, root).ingest(csv)
    val distinct = new java.util.ArrayList[String](new java.util.LinkedHashSet[String](
      Files.readAllLines(Paths.get(resource("flights_append.csv")))))
    Files.write(Paths.get(csv), distinct)
    def crashing() = new FlightIngest(spark, root) {
      override protected def afterStagingWrite(): Unit =
        throw new RuntimeException("injected crash")
    }
    intercept[RuntimeException](crashing().ingest(csv))
    val marker = Paths.get(s"$root/state/flight_inflight")
    val c1 = new String(Files.readAllBytes(marker))
    intercept[RuntimeException](crashing().ingest(csv)) // crashed RESUME
    assert(new String(Files.readAllBytes(marker)) == c1,
      "resume rewrote the marker — torn-rewrite window reopened")
    // healthy retry heals with no duplicates
    val ing = new FlightIngest(spark, root)
    ing.ingest(csv)
    assert(ing.staging.count() == 64 && ing.ledger.count() == 64)
  }

  test("state files are written whole; an unparsable marker reads as absent") {
    val (ing, csv) = freshRoot("flights_small.csv")
    val state = Paths.get(s"${ing.stagingPath}/../state").normalize()
    Files.createDirectories(state)
    Files.write(state.resolve("flight_inflight"), "0:zero:49:1".getBytes)
    val r = ing.ingest(csv)
    assert(r.rowsScanned == 49 && r.rowsLoaded == 49 && ing.offset == 49)
    // temp-file + rename: no temp or checksum file is left beside them
    val left = state.toFile.list().toSeq
    assert(left == Seq("flight_csv_offset"), s"state dir: $left")
  }

  test("directory ingest: per-file offsets, cross-file dedup, idempotent re-run (VERDICT r5 #8)") {
    val root = tmpDir("ingest")
    val dir = s"$root/csvdir"
    Files.createDirectories(Paths.get(dir))
    // two files with IDENTICAL rows: the shared ledger must dedup the
    // second file completely (cross-file dupes == cross-time dupes)
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(s"$dir/a.csv"))
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(s"$dir/b.csv"))
    val ing = new FlightIngest(spark, root)
    val r1 = ing.ingestDirectory(dir)
    assert(r1.rowsScanned == 98 && r1.rowsLoaded == 49)
    assert(ing.staging.count() == 49 && ing.ledger.count() == 49)
    // per-file state, singleton path untouched
    assert(Files.exists(Paths.get(s"$root/state/flight_csv_offset__a.csv")))
    assert(Files.exists(Paths.get(s"$root/state/flight_csv_offset__b.csv")))
    assert(!Files.exists(Paths.get(s"$root/state/flight_csv_offset")))
    // idempotent re-run: every per-file offset is at EOF
    val r2 = ing.ingestDirectory(dir)
    assert(r2.rowsScanned == 0 && r2.rowsLoaded == 0)
    assert(ing.staging.count() == 49)
    // one file grows in place: only ITS tail is scanned
    Files.copy(Paths.get(resource("flights_append.csv")), Paths.get(s"$dir/a.csv"),
      StandardCopyOption.REPLACE_EXISTING)
    val r3 = ing.ingestDirectory(dir)
    assert(r3.rowsScanned == 18 && r3.rowsLoaded == 15)
    assert(ing.staging.count() == 64 && ing.ledger.count() == 64)
    // a NEW file between runs joins the order with fresh state; its
    // rows are a subset of the already-ledgered set -> all deduped
    Files.copy(Paths.get(resource("flights_shrunk.csv")), Paths.get(s"$dir/c.csv"))
    val r4 = ing.ingestDirectory(dir)
    assert(r4.rowsScanned == 10 && r4.rowsLoaded == 0)
    assert(ing.staging.count() == 64)
  }

  /** a.csv = flights_small (49 rows); b.csv = append's header + tail
    * (18 rows, 15 of them fresh vs a). Disjoint-enough that BOTH files
    * contribute staging rows — the case the all-duplicate fixture
    * above cannot catch. */
  private def disjointDir(): (FlightIngest, String, String) = {
    val root = tmpDir("ingest")
    val dir = s"$root/csvdir"
    Files.createDirectories(Paths.get(dir))
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(s"$dir/a.csv"))
    val append = Files.readAllLines(Paths.get(resource("flights_append.csv")))
    val tail = new java.util.ArrayList[String]()
    tail.add(append.get(0)) // header
    for (i <- 50 until append.size) tail.add(append.get(i))
    Files.write(Paths.get(s"$dir/b.csv"), tail)
    (new FlightIngest(spark, root), root, dir)
  }

  test("serial directory ingest: a later file's fresh rows must not wipe earlier staging") {
    // regression: off==0 used to be a STATIC overwrite even under a
    // per-file state key, so a serial batch at offset 0 replaced the
    // whole staging table (a.csv's partition included). Here the
    // serial batch at offset 0 is b.csv's shrink reset: replaced in
    // place by 10 new rows, fewer than its 18-row offset.
    val (ing, _, dir) = disjointDir()
    assert(ing.ingestDirectory(dir).rowsLoaded == 64)
    val b = Files.readAllLines(Paths.get(s"$dir/b.csv"))
    val replaced = new java.util.ArrayList[String]()
    replaced.add(b.get(0)) // header
    for (i <- 1 to 10) replaced.add(s"new$i-" + b.get(i))
    Files.write(Paths.get(s"$dir/b.csv"), replaced)
    val r = ing.ingestDirectory(dir)
    assert(r.rowsScanned == 10 && r.rowsLoaded == 10)
    assert(ing.staging.count() == 74, "a.csv's staging partition was wiped")
    assert(ing.ledger.count() == 74)
  }

  test("batched directory ingest: one union scan, one seq, same rows as serial") {
    val (ing, root, dir) = disjointDir()
    val r = ing.ingestDirectory(dir)
    assert(r.rowsScanned == 67 && r.rowsLoaded == 64)
    assert(ing.staging.count() == 64 && ing.ledger.count() == 64)
    // the whole batch committed under ONE seq partition
    val parts = new java.io.File(ing.stagingPath).listFiles()
      .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).toSeq
    assert(parts == Seq("ingest_batch=0"))
    // per-file offsets at EOF; idempotent re-run scans nothing
    assert(Files.exists(Paths.get(s"$root/state/flight_csv_offset__a.csv")))
    assert(Files.exists(Paths.get(s"$root/state/flight_csv_offset__b.csv")))
    val r2 = ing.ingestDirectory(dir)
    assert(r2.rowsScanned == 0 && r2.rowsLoaded == 0)
    assert(ing.staging.count() == 64)
    // a file growing afterwards drains via the serial per-file path
    Files.copy(Paths.get(resource("flights_append.csv")),
      Paths.get(s"$dir/a.csv"), StandardCopyOption.REPLACE_EXISTING)
    val r3 = ing.ingestDirectory(dir)
    assert(r3.rowsScanned == 18 && r3.rowsLoaded == 0) // tail == b.csv rows
    assert(ing.staging.count() == 64)
  }

  test("batched directory ingest: a file name with spaces stays on the batched path") {
    // input_file_name() returns URL-encoded URIs ("a%20b.csv"); before
    // the decode fix the count lookup missed, the file silently fell
    // back to the serial loop, and the batch split into two seqs
    val root = tmpDir("ingest")
    val dir = s"$root/csvdir"
    Files.createDirectories(Paths.get(dir))
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(s"$dir/a b.csv"))
    val append = Files.readAllLines(Paths.get(resource("flights_append.csv")))
    val tail = new java.util.ArrayList[String]()
    tail.add(append.get(0))
    for (i <- 50 until append.size) tail.add(append.get(i))
    Files.write(Paths.get(s"$dir/c.csv"), tail)
    val ing = new FlightIngest(spark, root)
    val r = ing.ingestDirectory(dir)
    assert(r.rowsScanned == 67 && r.rowsLoaded == 64)
    // BOTH files committed under the one batched seq — the space-named
    // file did not leak to the serial loop's own seq
    val parts = new java.io.File(ing.stagingPath).listFiles()
      .filter(_.getName.startsWith("ingest_batch=")).map(_.getName).toSeq
    assert(parts == Seq("ingest_batch=0"), s"batch split: $parts")
    val r2 = ing.ingestDirectory(dir)
    assert(r2.rowsScanned == 0 && r2.rowsLoaded == 0)
  }

  test("batched directory ingest: crash before ledger redoes the batch without duplicates") {
    val (_, root, dir) = disjointDir()
    val crashing = new FlightIngest(spark, root) {
      override protected def afterStagingWrite(): Unit =
        throw new RuntimeException("injected crash")
    }
    intercept[RuntimeException](crashing.ingestDirectory(dir))
    // marker present, ledger partition absent => orphaned staging
    assert(Files.exists(Paths.get(s"$root/state/flight_inflight__dirbatch")))
    val ing = new FlightIngest(spark, root)
    val r = ing.ingestDirectory(dir)
    assert(r.rowsScanned == 67 && r.rowsLoaded == 64)
    assert(ing.staging.count() == 64 && ing.ledger.count() == 64,
      "orphaned staging partition double-counts the crashed batch")
    assert(!Files.exists(Paths.get(s"$root/state/flight_inflight__dirbatch")))
  }

  test("a crash after the staging write releases the cached batch") {
    val (_, root, dir) = disjointDir()
    val csv = s"$root/flights.csv"
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(csv))
    val crashing = new FlightIngest(spark, root) {
      override protected def afterStagingWrite(): Unit =
        throw new RuntimeException("injected crash")
    }
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[RuntimeException](crashing.ingest(csv))
    assert(spark.sparkContext.getPersistentRDDs.size == before, "single-file batch")
    intercept[RuntimeException](crashing.ingestDirectory(dir))
    assert(spark.sparkContext.getPersistentRDDs.size == before, "directory batch")
  }

  test("batched directory ingest: crash after ledger finalizes offsets without rescanning") {
    val (_, root, dir) = disjointDir()
    val crashing = new FlightIngest(spark, root) {
      override protected def afterLedgerWrite(): Unit =
        throw new RuntimeException("injected crash")
    }
    intercept[RuntimeException](crashing.ingestDirectory(dir))
    val ing = new FlightIngest(spark, root)
    val r = ing.ingestDirectory(dir)
    // the batch had logically committed: recovery only finalizes
    // per-file offsets from the marker — nothing is rescanned
    assert(r.rowsScanned == 0 && r.rowsLoaded == 0)
    assert(ing.staging.count() == 64 && ing.ledger.count() == 64)
    val r2 = ing.ingestDirectory(dir)
    assert(r2.rowsScanned == 0 && ing.staging.count() == 64)
  }

  test("batched directory ingest: file replaced during crash window re-ingests fresh") {
    val (_, root, dir) = disjointDir()
    val crashing = new FlightIngest(spark, root) {
      override protected def afterLedgerWrite(): Unit =
        throw new RuntimeException("injected crash")
    }
    intercept[RuntimeException](crashing.ingestDirectory(dir))
    // replace b.csv while "down": different first data line
    val b = Files.readAllLines(Paths.get(s"$dir/b.csv"))
    val mut = new java.util.ArrayList[String](b)
    mut.set(1, mut.get(1).replaceFirst("^", "zz-"))
    Files.write(Paths.get(s"$dir/b.csv"), mut)
    val ing = new FlightIngest(spark, root)
    val r = ing.ingestDirectory(dir)
    // a.csv's offset finalizes from the marker; b.csv's fingerprint
    // mismatches so it stays fresh and re-ingests — the one mutated
    // row is new, the other 17 dedup against the committed ledger
    assert(r.rowsScanned == 18 && r.rowsLoaded == 1)
    assert(ing.staging.count() == 65 && ing.ledger.count() == 65)
  }

  test("multi-file directory input is rejected loudly (offset order undefined)") {
    val root = tmpDir("ingest")
    val dir = s"$root/csvdir"
    Files.createDirectories(Paths.get(dir))
    Files.copy(Paths.get(resource("flights_small.csv")), Paths.get(s"$dir/a.csv"))
    Files.copy(Paths.get(resource("flights_clean.csv")), Paths.get(s"$dir/b.csv"))
    val ing = new FlightIngest(spark, root)
    val e = intercept[IllegalArgumentException](ing.ingest(dir))
    assert(e.getMessage.contains("exactly one CSV file"))
    assert(e.getMessage.contains("StreamingIngest"))
    // nothing was written: state, staging, ledger all untouched
    assert(ing.offset == 0L)
    assert(!Files.exists(Paths.get(ing.stagingPath)))
    assert(!Files.exists(Paths.get(ing.ledgerPath)))

    // a single file INSIDE a directory still has a well-defined row
    // order — directory-of-one is accepted
    Files.delete(Paths.get(s"$dir/b.csv"))
    assert(ing.ingest(dir).rowsLoaded == 49)
  }

  test("intra-batch duplicates collapse to one row") {
    val root = tmpDir("ingest")
    val csv = s"$root/flights.csv"
    val lines = Files.readAllLines(Paths.get(resource("flights_small.csv")))
    val dup = new java.util.ArrayList[String](lines)
    dup.add(lines.get(1)) // duplicate first data row inside the same batch
    Files.write(Paths.get(csv), dup)
    val ing = new FlightIngest(spark, root)
    val r = ing.ingest(csv)
    assert(r.rowsScanned == 50 && r.rowsLoaded == 49)
  }
}
