package graft.flights

import graft.ops.RoundStore
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Batch-incremental ingestion (SURVEY.md §2.1, I-1..I-13): CSV ->
  * staging parquet with a persistent content-hash dedup ledger and an
  * offset state file, replicating the reference's incremental contract
  * (ingestion.py:18-129) exactly:
  *
  *  - I-1  line count scan to detect growth
  *  - I-2/I-3  offset state read + shrink-reset detection
  *  - I-4  early exit when no new rows
  *  - I-5  resume from offset (the 10k-row chunk loop disappears —
  *         partitioned scans bound memory instead)
  *  - I-10 row content hash (md5 over a canonical concat; the ledger
  *         contract is "identical row <=> identical hash", not pandas'
  *         str(tuple(...)) formatting — SURVEY §7.3(1))
  *  - I-11 dedup probe as ONE distributed left-anti join (the
  *         reference's per-chunk IN-list round-trips collapse)
  *  - I-7/I-8  staging write (overwrite on first load, else append) +
  *         ledger append
  *  - I-9  offset state write
  *
  * The designed-for-scale path is [[graft.streaming.StreamingIngest]]
  * (file-source checkpointing subsumes this offset machinery); this
  * class exists for exact reference parity and single-file use.
  */
class FlightIngest(spark: SparkSession, root: String) {
  import FlightIngest._

  def stagingPath: String = s"$root/staging"
  def ledgerPath: String  = s"$root/ledger"

  /** Offset and marker files sit on the local disk under `root`. The
    * raw local file system writes them with no checksum side files, so
    * a marker edited in place by hand still reads. Every write is
    * atomic (temp file + rename): a crash never leaves a torn file. */
  private val stateFs =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getRaw

  /** State file `name` under a per-file state `key`: the single-file
    * API keeps the reference's singleton state paths (None), the
    * directory form ([[ingestDirectory]]) keys offset + marker by file
    * name so each file carries its own independent resume contract. */
  private def statePath(name: String, key: Option[String]) =
    new Path(s"$root/state/$name${key.map("__" + _).getOrElse("")}")
  private def offsetPath(key: Option[String]) = statePath("flight_csv_offset", key)
  private def inflightPath(key: Option[String]) = statePath("flight_inflight", key)
  private def readState(p: Path): Option[String] = RoundStore.readSmallFile(stateFs, p)
  private def writeState(p: Path, text: String): Unit =
    RoundStore.writeSmallFile(stateFs, p, text, replace = true)

  /** I-2: Airflow `Variable.get("flight_csv_offset", 0)` equivalent. */
  def offset: Long = offsetOf(None)

  private def offsetOf(key: Option[String]): Long =
    readState(offsetPath(key)).map(_.toLong).getOrElse(0L)

  def ledger: DataFrame =
    if (StarWarehouse.pathExists(spark, ledgerPath))
      spark.read.schema(FlightSchemas.ledger).parquet(ledgerPath)
        .drop("ingest_batch")
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], FlightSchemas.ledger)

  def staging: DataFrame =
    spark.read.schema(FlightSchemas.staging).parquet(stagingPath)
      .drop("ingest_batch")

  /** I-10: canonical row hash (shared definition — see
    * FlightSchemas.rowHashColumn). */
  def rowHash(df: DataFrame): DataFrame =
    df.withColumn("row_hash", FlightSchemas.rowHashColumn(df.columns.toIndexedSeq))

  /** The batch offset contract ("resume at data row N") is defined by
    * ONE file's row order — the reference's contract too
    * (ingestion.py:16 hard-codes a single CSV path). Across multiple
    * files there is no stable global row order (Spark splits and
    * lists files in no contractual sequence), so a glob/directory
    * input would make the persisted offset silently ambiguous.
    * Reject it loudly; multi-file directories are the streaming
    * path's job ([[graft.streaming.StreamingIngest]] tracks per-FILE
    * offsets in its checkpoint, which is the correct unit). */
  private def requireSingleFile(csvPath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(csvPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = Option(fs.globStatus(p)).getOrElse(Array.empty).flatMap { st =>
      if (st.isDirectory)
        fs.listStatus(st.getPath).filter(_.isFile)
          .filterNot(s => s.getPath.getName.startsWith("_") ||
            s.getPath.getName.startsWith("."))
      else Array(st)
    }
    require(files.length == 1,
      s"FlightIngest.ingest requires exactly one CSV file; '$csvPath' resolves to " +
        s"${files.length} files. The row-offset resume contract has no defined " +
        "order across files — use ingestDirectory (per-file offset state, " +
        "filename order) or graft.streaming.StreamingIngest for directories " +
        "(per-file offsets via the stream checkpoint).")
  }

  /** Batch commit protocol (VERDICT r3 #3 — the streaming path's
    * marked-increment pattern applied to the batch path). The two
    * reference crash windows this closes (both previously pinned as
    * parity at this spot):
    *
    *  (a) crash between the staging write and the ledger append
    *      re-appended the batch on retry (duplicate staging rows);
    *  (b) first-load crash after the ledger append but before the
    *      offset write, with the file growing while down: the retry's
    *      off==0 overwrite rebuilt staging from the NEW rows only,
    *      losing the staged batch.
    *
    * Mechanism — each batch is one marked, idempotently re-runnable
    * increment:
    *
    *  1. INTENT marker first. Before any data write, the batch's
    *     extent (seq, off, end) is recorded in `state/flight_inflight`.
    *     A retry that finds a marker matching its offset re-runs
    *     EXACTLY the recorded extent — even if the file grew in
    *     between — so the recomputed batch is bit-identical to the
    *     crashed one (same file rows, same hashes). This closes (b):
    *     the retry's anti-join finds every hash already ledgered,
    *     leaves staging intact, and only then advances the offset;
    *     the grown tail becomes the NEXT batch in the same call.
    *  2. Partition-keyed idempotent writes. Staging and ledger rows
    *     carry `ingest_batch = seq` (a sequence unique across file
    *     replaces, max existing partition + 1), and both writes are
    *     dynamic-partition OVERWRITES of exactly that partition — a
    *     retry REPLACES the crashed attempt's rows instead of
    *     appending beside them. This closes (a). The reference's
    *     replace-on-first-load contract (I-7) is kept: off == 0 is a
    *     full overwrite (new file => staging rebuilt).
    *  3. Commit order: staging -> ledger -> offset -> clear marker.
    *     Every prefix crash re-runs idempotently; after the ledger
    *     write the batch is logically committed (a retry computes
    *     freshCount == 0 and just advances the offset).
    *
    * The ledger is still global-forever across file replaces (its
    * partitions are never full-overwritten), and an ingest() call
    * still drains the file: a resumed crashed batch and the file's
    * grown tail are committed as separate increments in one call. */
  def ingest(csvPath: String): IngestResult = {
    requireSingleFile(csvPath)
    drain(csvPath, None)
  }

  /** [[ingest]]'s batch loop over one file under state `key`. */
  private def drain(csvPath: String, key: Option[String]): IngestResult = {
    var total = IngestResult(0, 0, offsetOf(key))
    var again = true
    while (again) {
      val (r, resumed) = ingestBatch(csvPath, key)
      total = IngestResult(total.rowsScanned + r.rowsScanned,
        total.rowsLoaded + r.rowsLoaded, r.newOffset)
      // a resumed batch was pinned to the crashed extent; the file may
      // hold a tail beyond it — drain with a fresh batch
      again = resumed && r.rowsScanned > 0
    }
    total
  }

  /** Directory form (VERDICT r5 #8): ingest every `*.csv` in `dir`
    * under per-file state keys. FRESH files (offset 0, no crashed
    * per-file marker — the append-only-directory steady state) are
    * batched into ONE union scan/dedup/write under one seq
    * ([[ingestFreshBatchStep]]); files with an offset (grown, or
    * replaced in place) keep the FULL single-file protocol — offset
    * resume, shrink reset, intent marker, growth drain — in
    * deterministic FILENAME order, because only a per-file scan has
    * the row order their resume contract needs. The single-file
    * offset contract is never stretched across files (the ambiguity
    * [[requireSingleFile]] rejects); the ledger/staging/seq are the
    * shared sinks they already are, so rows duplicated ACROSS files
    * dedup exactly like rows duplicated across time. Idempotent: a
    * re-run finds every per-file offset at EOF and early-exits. New
    * files between runs simply join in (their state starts at 0).
    * Returns totals; `newOffset` is the last batch/file's offset
    * (offsets are per-file state, not a meaningful sum). */
  def ingestDirectory(dir: String): IngestResult = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p) && fs.getFileStatus(p).isDirectory,
      s"ingestDirectory requires a directory; got '$dir'")
    def listCsv(): Seq[org.apache.hadoop.fs.FileStatus] = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.toLowerCase.endsWith(".csv"))
      .sortBy(_.getPath.getName)
    require(listCsv().nonEmpty, s"no *.csv files under '$dir'")
    val (fresh, batched) = ingestFreshBatchStep(listCsv)
    listCsv().filterNot(f => batched(f.getPath.getName)).foldLeft(fresh) { (total, f) =>
      val r = drain(f.getPath.toString, Some(fileKey(f)))
      IngestResult(total.rowsScanned + r.rowsScanned,
        total.rowsLoaded + r.rowsLoaded, r.newOffset)
    }
  }

  /** Batched fresh-file fast path (the per-file PARALLEL directory
    * ingest): every file that is FRESH — offset 0, no per-file intent
    * marker — joins ONE union scan, one intra-batch dedup, one
    * ledger anti-join, one staging/ledger write under ONE seq,
    * then per-file offset commits. Grown files keep the serial
    * per-file protocol (their row-offset resume needs a per-file row
    * order that a union scan cannot provide); fresh files need no
    * resume — their extent is simply "the whole file now" — so N
    * first loads collapse from 3N jobs to 3 + N tiny fingerprint
    * probes, and at 1000 files the cluster sees one fat scan instead
    * of a thousand sequential ones.
    *
    * Safety is the single-file marker argument specialized to
    * offset 0, where recovery needs no bit-identical re-read:
    *
    *  - The batch writes a DIRECTORY-level intent marker
    *    (seq + per-file (key, end, head-fingerprint)) before any data
    *    write, atomically (temp + rename).
    *  - Ledger partition `seq` ABSENT on recovery ⇒ the crashed batch
    *    never logically committed: any orphaned staging partition is
    *    dropped and the batch simply re-runs over the CURRENT files —
    *    nothing was ledgered, so nothing can duplicate, and a file
    *    that grew or was replaced in the crash window is ingested as
    *    it now stands under a fresh marker.
    *  - Ledger partition PRESENT ⇒ the batch committed: offsets are
    *    finalized from the marker, but only for files whose first
    *    data line still matches the recorded fingerprint — a file
    *    REPLACED while down stays at offset 0 and is re-ingested as
    *    fresh (the global ledger dedups any overlap), exactly the
    *    single-file headHash rule.
    *
    * Returns the batch totals plus the names it consumed (the serial
    * loop skips them). */
  private def ingestFreshBatchStep(
      listCsv: () => Seq[org.apache.hadoop.fs.FileStatus])
      : (IngestResult, Set[String]) = {
    // recover a crashed batch before looking at per-file state
    readBatchMarker().foreach { case (seq, entries) =>
      val byKey = listCsv().map(f => fileKey(f) -> f).toMap
      if (ledgerPartExists(seq)) {
        entries.foreach { e =>
          byKey.get(e.key).foreach { f =>
            if (extentHeadHash(f.getPath.toString, 0) == e.headHash)
              writeOffset(Some(e.key), e.end)
          }
        }
      } else dropUncommittedStaging(seq)
      clearBatchMarker()
    }
    val fresh = listCsv().filter { f =>
      val key = Some(fileKey(f))
      offsetOf(key) == 0L && !stateFs.exists(inflightPath(key))
    }
    if (fresh.isEmpty) return (IngestResult(0, 0, 0), Set.empty)
    // one distributed line-count pass over ALL fresh files (I-1 batched)
    val countsByFile = spark.read.text(fresh.map(_.getPath.toString): _*)
      .groupBy(input_file_name().as("f")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // input_file_name() returns URL-encoded URIs, so decode before
    // matching on the plain file name — otherwise a name containing a
    // space/percent-encodable char silently misses the batched count
    // (and fell back to the serial loop: correct but unbatched)
    def decodedPath(k: String): String =
      scala.util.Try(new java.net.URI(k).getPath).getOrElse(k)
    def dataRows(f: org.apache.hadoop.fs.FileStatus): Long =
      countsByFile.collectFirst {
        case (k, v) if decodedPath(k).endsWith("/" + f.getPath.getName) => v
      }.getOrElse(0L) - 1L
    val entries = fresh.flatMap { f =>
      val n = dataRows(f)
      if (n > 0)
        Some(f -> BatchEntry(fileKey(f), n,
          extentHeadHash(f.getPath.toString, 0)))
      else None
    }
    if (entries.isEmpty) return (IngestResult(0, 0, 0), Set.empty)
    val seq = nextBatchSeq()
    writeBatchMarker(seq, entries.map(_._2))
    val raw = spark.read.schema(FlightSchemas.rawCsv)
      .option("header", true).csv(entries.map(_._1.getPath.toString): _*)
    // over the union, cross-file duplicates collapse exactly like
    // cross-time duplicates (identical rows share a hash)
    val freshCount = commitFresh(raw, seq, replaceStaging = false)
    entries.foreach { case (_, e) => writeOffset(Some(e.key), e.end) }
    clearBatchMarker()
    (IngestResult(entries.map(_._2.end).sum, freshCount, entries.last._2.end),
      entries.map(_._1.getPath.getName).toSet)
  }

  private def ingestBatch(csvPath: String, key: Option[String]): (IngestResult, Boolean) = {
    // I-1: raw line count (includes header, like the reference's rb scan)
    val lineCount = spark.read.text(csvPath).count()
    var off = offsetOf(key)
    // I-3: file shrank => new file, reset. PINNED REFERENCE BUG
    // (ingestion.py:41: `if total_lines < offset`): lineCount includes
    // the header while the offset counts data rows, so a file that
    // shrinks by exactly one data row gives lineCount == off — the
    // reset is skipped and the replaced file's tail is never ingested.
    // Replicated deliberately for offset-state parity; the fix would be
    // `lineCount - 1 < off`.
    if (lineCount < off) {
      off = 0
      // the marker (if any) pins an extent of the REPLACED file; the
      // new file's rows at those positions are different data, so
      // resuming it would commit wrong rows under a committed batch's
      // seq (overwriting its ledger partition). Shrink-reset kills it.
      clearInflight(key)
    }
    // resume iff an intent marker pins an unfinished extent at OUR
    // offset that FITS the current file; markers from other offsets
    // (superseded by a completed commit) are dead and get overwritten,
    // and an extent past the current EOF means the file was replaced
    // under an offset-0 marker (no shrink signal exists at off == 0) —
    // also dead, the replacement is a fresh first load. The EOF check
    // alone only catches SHORTER replacements (ADVICE r4): a
    // replacement file as long as or longer than the pinned extent
    // would be resumed and its different rows committed under the
    // crashed batch's seq — so the marker also carries a content
    // fingerprint of the extent's first data line, verified here. On
    // a mismatch the marker is dead AND the crashed attempt's staging
    // partition (if any, and only if its ledger partition is absent —
    // i.e. the batch never logically committed) is dropped so the
    // fresh first-load of the replacement cannot double-count.
    val resume = readInflight(key).filter { m =>
      val fits = m.off == off && m.end > off && m.end <= lineCount - 1
      // legacy (3-field) markers carry no fingerprint — forall passes
      // them on the fits check alone, the pre-fingerprint behavior
      val alive = fits && m.headHash.forall(_ == extentHeadHash(csvPath, m.off))
      if (fits && !alive) { dropUncommittedStaging(m.seq); clearInflight(key) }
      alive
    }
    val end = resume.map(_.end).getOrElse(lineCount - 1)
    // I-4: early exit
    val rowsToProcess = end - off
    if (rowsToProcess <= 0) { clearInflight(key); return (IngestResult(0, 0, off), false) }
    val seq = resume.map(_.seq).getOrElse(nextBatchSeq())
    // on a resume the marker on disk already records exactly this
    // extent — do NOT rewrite it (a crash mid-rewrite would tear the
    // file AFTER the crashed attempt's partitions exist; the torn
    // marker then reads as fresh-batch and a new seq would duplicate
    // the extent's rows beside the orphaned partition)
    if (resume.isEmpty)
      writeInflight(key, Inflight(seq, off, end, Some(extentHeadHash(csvPath, off))))

    // I-5: header-aware resume — skip data rows outside [off, end) in
    // file order. zipWithIndex preserves file order for a single CSV
    // file (the reference's contract is also a single growing file).
    val raw = spark.read.schema(FlightSchemas.rawCsv)
      .option("header", true).csv(csvPath)
    val batch: DataFrame =
      if (off == 0 && end == lineCount - 1) raw
      else {
        val rdd = raw.rdd.zipWithIndex()
          .filter { case (_, i) => i >= off && i < end }.map(_._1)
        spark.createDataFrame(rdd, FlightSchemas.rawCsv)
      }

    // I-7 replace semantics apply to the SINGLETON contract only: in
    // directory mode (a per-file key) staging holds other files'
    // partitions, which a static overwrite would silently wipe — a file
    // replaced in place (shrink reset to offset 0) must land beside
    // them, not replace them. Consequence: the replaced file keeps its
    // old rows under their old seqs (same documented residue as the
    // all-seen shrink reset; V-3 alarms, compaction is the cleanup
    // path).
    val freshCount = commitFresh(batch, seq, replaceStaging = off == 0 && key.isEmpty)
    // I-9: offset advances by rows *scanned* (incl. dupes), as in the
    // reference (ingestion.py:126: offset + rows_processed).
    writeOffset(key, end)
    clearInflight(key)
    (IngestResult(rowsToProcess, freshCount, end), resume.isDefined)
  }

  /** The commit body both batch paths share: I-10 row hash and
    * intra-batch dedup (identical rows share a hash, so dropDuplicates
    * on it is deterministic in effect), the I-11 ledger anti-join as
    * one distributed join, then — only for a non-empty result — the
    * I-7 staging write and the I-8 ledger write, each an overwrite of
    * batch `seq`'s own partition. `replaceStaging` replaces all of
    * staging instead (the reference's first-load overwrite). Staging is
    * touched ONLY when the deduped batch is non-empty, exactly as the
    * reference skips to_sql for an empty chunk (ingestion.py:117-119):
    * a fully-committed batch whose retry recomputes 0 fresh rows leaves
    * staging INTACT and only advances the offset. Consequence on a
    * shrink-reset whose "new" file is all already-seen rows: stale
    * staging rows from the replaced file remain and V-3 alarms on
    * source != staging — the reference behaves identically there
    * (global-forever ledger). Returns the fresh row count. */
  private def commitFresh(raw: DataFrame, seq: Long, replaceStaging: Boolean): Long = {
    val fresh = rowHash(raw).dropDuplicates("row_hash")
      .join(ledger.select("row_hash"), Seq("row_hash"), "left_anti")
      .cache()
    try {
      val n = fresh.count()
      if (n > 0) {
        // I-13 rename + I-12 drop helper column
        val staged = FlightSchemas.renameToStaging(fresh.drop("row_hash"))
          .withColumn("ingest_batch", lit(seq))
          .write.partitionBy("ingest_batch").mode(SaveMode.Overwrite)
        if (replaceStaging) staged.parquet(stagingPath)
        else staged.option("partitionOverwriteMode", "dynamic").parquet(stagingPath)
        afterStagingWrite() // crash-injection seam (no-op in production)
        fresh.select(col("row_hash"))
          .withColumn("load_timestamp", current_timestamp())
          .withColumn("ingest_batch", lit(seq))
          .write.partitionBy("ingest_batch")
          .option("partitionOverwriteMode", "dynamic")
          .mode(SaveMode.Overwrite).parquet(ledgerPath)
        afterLedgerWrite() // crash-injection seam (no-op in production)
      }
      n
    } finally fresh.unpersist()
  }

  /** Crash-injection seams for the IngestSpec torn-commit tests: a
    * test subclass overrides one to throw mid-protocol. Production
    * no-ops (and monomorphic, so the JIT erases them). */
  protected def afterStagingWrite(): Unit = ()
  protected def afterLedgerWrite(): Unit = ()

  // ---- per-file + batch state helpers --------------------------------

  private def fileKey(f: org.apache.hadoop.fs.FileStatus): String =
    f.getPath.getName.replaceAll("[^A-Za-z0-9._-]", "_")

  private def writeOffset(key: Option[String], v: Long): Unit =
    writeState(offsetPath(key), v.toString)

  /** Directory-batch intent marker: `seq|key=end:headHash|...`. The
    * `__dirbatch` suffix cannot collide with a per-file key (only
    * `*.csv` files are listed, so every per-file key ends in a
    * sanitized ".csv"). */
  private case class BatchEntry(key: String, end: Long, headHash: Long)
  private def batchMarkerPath = inflightPath(Some("dirbatch"))

  private def readBatchMarker(): Option[(Long, Seq[BatchEntry])] =
    readState(batchMarkerPath).flatMap { text =>
      try {
        val parts = text.split('|')
        val es = parts.tail.toSeq.map { e =>
          val Array(k, rest) = e.split('=')
          val Array(end, h) = rest.split(':')
          BatchEntry(k, end.toLong, h.toLong)
        }
        if (es.isEmpty) None else Some(parts.head.toLong -> es)
      } catch { case _: RuntimeException => None }
    }

  private def writeBatchMarker(seq: Long, es: Seq[BatchEntry]): Unit =
    writeState(batchMarkerPath,
      (seq.toString +: es.map(e => s"${e.key}=${e.end}:${e.headHash}")).mkString("|"))

  private def clearBatchMarker(): Unit = stateFs.delete(batchMarkerPath, false)

  private def ledgerPartExists(seq: Long): Boolean = {
    val part = new org.apache.hadoop.fs.Path(s"$ledgerPath/ingest_batch=$seq")
    part.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(part)
  }

  // ---- intent-marker state -------------------------------------------

  /** `headHash` is None for a LEGACY marker (the pre-fingerprint
    * 3-field format): it still pins its extent and resumes under its
    * original seq — parsing it as "no marker" would let a new seq
    * re-cover the extent beside the orphaned staging partition, the
    * exact duplication the marker exists to prevent — but the
    * content-fingerprint check is skipped (the data to verify against
    * was never recorded). */
  private case class Inflight(seq: Long, off: Long, end: Long, headHash: Option[Long])

  /** Content fingerprint of the first data line of the extent starting
    * at data-row offset `off` — file line `off + 1` (line 0 is the
    * header). A replacement file that passes the length checks but
    * holds different data is caught here: it would have to reproduce
    * the original's exact bytes at that position to slip through,
    * which is no longer "any same-or-longer file" but a deliberate
    * byte-identical prefix (at that point the rows being committed ARE
    * the pinned rows). One distributed pass over the file, same cost
    * class as the lineCount scan this batch already paid. */
  private def extentHeadHash(csvPath: String, off: Long): Long = {
    val target = off + 1
    val line = spark.read.text(csvPath).rdd.zipWithIndex()
      .filter(_._2 == target).map(_._1.getString(0)).collect()
    line.headOption.map(l =>
      scala.util.hashing.MurmurHash3.stringHash(l).toLong).getOrElse(0L)
  }

  /** Drop the staging partition of a dead marker's seq iff that batch
    * never logically committed (no ledger partition): the partition
    * holds rows of a file that no longer exists and the retry will
    * re-cover the extent from the replacement under a new seq. A
    * COMMITTED batch (ledger partition present) is kept — its rows
    * were real data when committed and the ledger already dedups any
    * surviving identical rows on the retry. */
  private def dropUncommittedStaging(seq: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    def part(root: String) = new org.apache.hadoop.fs.Path(s"$root/ingest_batch=$seq")
    val ledgerPart = part(ledgerPath)
    val stagingPart = part(stagingPath)
    val fs = stagingPart.getFileSystem(conf)
    if (!fs.exists(ledgerPart) && fs.exists(stagingPart))
      fs.delete(stagingPart, true)
  }

  /** An unparsable marker reads as absent (fresh batch); the atomic
    * write means only a hand edit can produce one. A torn marker would
    * be worse than none: a retry would re-run the extent under a NEW
    * seq beside the old partitions. */
  private def readInflight(key: Option[String]): Option[Inflight] =
    readState(inflightPath(key)).flatMap { text =>
      try text.split(':') match {
        case Array(s, o, e, h) =>
          Some(Inflight(s.toLong, o.toLong, e.toLong, Some(h.toLong)))
        case Array(s, o, e) => // legacy pre-fingerprint marker: resume
          Some(Inflight(s.toLong, o.toLong, e.toLong, None))
        case _ => None
      } catch { case _: NumberFormatException => None }
    }

  private def writeInflight(key: Option[String], m: Inflight): Unit =
    writeState(inflightPath(key),
      s"${m.seq}:${m.off}:${m.end}:${m.headHash.getOrElse(0L)}")

  private def clearInflight(key: Option[String]): Unit =
    stateFs.delete(inflightPath(key), false)

  /** Next batch sequence: one past the highest `ingest_batch=` partition
    * either sink has ever committed (ledger partitions are never
    * removed, so the sequence never repeats across file replaces —
    * a staging full-overwrite cannot make an old seq reusable). */
  private def nextBatchSeq(): Long = {
    def maxPart(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) -1L
      else fs.listStatus(p).collect {
        case s if s.isDirectory && s.getPath.getName.startsWith("ingest_batch=") =>
          s.getPath.getName.stripPrefix("ingest_batch=").toLong
      }.foldLeft(-1L)(math.max)
    }
    math.max(maxPart(stagingPath), maxPart(ledgerPath)) + 1L
  }
}

object FlightIngest {
  case class IngestResult(rowsScanned: Long, rowsLoaded: Long, newOffset: Long)
}
