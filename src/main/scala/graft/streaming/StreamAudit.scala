package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming state-store observability (VERDICT r7 #7): a
  * `StreamingQueryListener` that records one JSONL line per completed
  * micro-batch — input rows, state-store rows and bytes, watermark,
  * max event time, watermark lag, trigger duration — to a local audit
  * file, queryable back as a DataFrame via [[StreamAudit.metrics]].
  *
  * Why a listener and not in-pipeline instrumentation: progress
  * metrics (state rows/bytes, watermark) exist only on the
  * `StreamingQueryProgress` object the engine emits after each batch;
  * reading them from inside foreachBatch would race the batch that
  * produces them. The listener is the supported post-commit hook, it
  * observes EVERY query on the session (every [[RoundStream]] pipeline
  * is named, so lines are attributable), and it adds
  * zero work to the hot path — serialization happens on the driver's
  * listener bus thread.
  *
  * At scale this is the artifact an operator watches for the two
  * streaming failure modes that don't crash anything: unbounded state
  * growth (state_bytes trending up across batches means a watermark
  * or timeout is not retiring state) and watermark stall (lag_ms
  * growing means event time has run ahead of the watermark column —
  * late data will start dropping). The spec pins both signals on a
  * replay: state present, watermark non-decreasing, lag bounded.
  *
  * Delivery is asynchronous (listener-bus): callers that assert on
  * the file after `awaitTermination` should poll briefly
  * ([[StreamAudit.awaitLines]]) rather than assume synchronous
  * flushes. Lines append under a lock; the file is the unit of
  * attach/detach. */
final class StreamAudit private (spark: SparkSession, val auditPath: String)
  extends StreamingQueryListener {

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val stateRows = p.stateOperators.map(_.numRowsTotal).sum
    val stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum
    def eventTimeMs(k: String): Option[Long] =
      Option(p.eventTime.get(k)).flatMap { s =>
        try Some(java.time.Instant.parse(s).toEpochMilli)
        catch { case _: java.time.format.DateTimeParseException => None }
      }
    val wm = eventTimeMs("watermark")
    val maxEt = eventTimeMs("max")
    val lag = for { w <- wm; m <- maxEt } yield m - w
    val trigMs = Option(p.durationMs.get("triggerExecution")).map(_.longValue)
    def jStr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def jOpt(v: Option[Long]): String = v.map(_.toString).getOrElse("null")
    val line =
      s"""{"query":${jStr(Option(p.name).getOrElse(""))},""" +
        s""""batch_id":${p.batchId},""" +
        s""""input_rows":${p.numInputRows},""" +
        s""""state_rows":$stateRows,""" +
        s""""state_bytes":$stateBytes,""" +
        s""""watermark_ms":${jOpt(wm)},""" +
        s""""max_event_time_ms":${jOpt(maxEt)},""" +
        s""""watermark_lag_ms":${jOpt(lag)},""" +
        s""""trigger_ms":${jOpt(trigMs)}}"""
    StreamAudit.lock.synchronized {
      Files.write(Paths.get(auditPath),
        (line + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  /** Unregister from the session's listener bus. */
  def detach(): Unit = spark.streams.removeListener(this)
}

object StreamAudit {
  private val lock = new Object

  /** Register an audit sink writing JSONL to `auditPath`; caller owns
    * the lifecycle (`detach()` when the pipelines under audit stop). */
  def attach(spark: SparkSession, auditPath: String): StreamAudit = {
    val parent = Paths.get(auditPath).toAbsolutePath.getParent
    if (parent != null) Files.createDirectories(parent)
    val a = new StreamAudit(spark, auditPath)
    spark.streams.addListener(a)
    a
  }

  /** The recorded batches as a DataFrame (schema pinned so an empty
    * or partially-delivered file still yields typed columns). */
  def metrics(spark: SparkSession, auditPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("query", StringType), StructField("batch_id", LongType),
      StructField("input_rows", LongType), StructField("state_rows", LongType),
      StructField("state_bytes", LongType),
      StructField("watermark_ms", LongType),
      StructField("max_event_time_ms", LongType),
      StructField("watermark_lag_ms", LongType),
      StructField("trigger_ms", LongType)))
    spark.read.schema(schema).json(auditPath)
  }

  /** Poll until the audit file holds at least `n` lines for `query`
    * (listener delivery is asynchronous); false on timeout. */
  def awaitLines(auditPath: String, query: String, n: Int,
                 timeoutMs: Long = 20000L): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      val path = Paths.get(auditPath)
      val count =
        if (Files.exists(path))
          lock.synchronized {
            Files.readAllLines(path, StandardCharsets.UTF_8)
          }.stream().filter(_.contains("\"query\":\"" + query + "\"")).count()
        else 0L
      if (count >= n) return true
      Thread.sleep(100L)
    }
    false
  }
}
