package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The start chain and the op decoding shared by every `foreachBatch`
  * pipeline. A pipeline keeps only its batch body: the parquet source,
  * the trigger, the checkpoint and the query name are spelled here
  * once, so every pipeline drains the same way and every one of them
  * is named (a session-level [[StreamAudit]] attributes its per-batch
  * lines by that name). */
private[graft] object RoundStream {

  /** Drain everything currently in `dir` (parquet, read with the pinned
    * `schema` a file stream needs) through `body`, one call per
    * micro-batch with its deterministic batchId, as the query `name`
    * with its offsets in `checkpointDir`. One AvailableNow run: the
    * query stops once the directory is drained, and a restart on the
    * same checkpoint picks up only files that arrived since. */
  def drain(spark: SparkSession, schema: StructType, dir: String,
            checkpointDir: String, name: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.schema(schema).parquet(dir)
      .writeStream
      .foreachBatch(body)
      .queryName(name)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The signed-row decoding of a changelog `op` column: `add` is +1
    * and `retract` is -1. Any other value, NULL included, fails the
    * batch loudly naming `stream`: a silently skipped row would be an
    * unexplained drift in an exact view. */
  def sign(op: Column, stream: String): Column =
    when(op === "add", 1L)
      .when(op === "retract", -1L)
      .otherwise(raise_error(concat(lit(s"unknown op in $stream stream: "),
        coalesce(op, lit("NULL")))))
}
