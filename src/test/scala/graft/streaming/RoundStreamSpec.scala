package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.flights.FlightSchemas
import org.apache.spark.sql.functions._

class RoundStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def signs(ops: Option[String]*): Seq[Long] =
    ops.toDF("op").select(RoundStream.sign(col("op"), "test").as("sign"))
      .collect().map(_.getLong(0)).toSeq

  test("sign: add is +1 and retract is -1") {
    assert(signs(Some("add"), Some("retract"), Some("add")) == Seq(1L, -1L, 1L))
  }

  test("sign: any other op, NULL included, fails naming the stream") {
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    Seq(Some("upsert"), None).foreach { op =>
      val err = intercept[Exception](signs(Some("add"), op))
      val shown = op.getOrElse("NULL")
      assert(chain(err).exists(t => Option(t.getMessage)
        .exists(_.contains(s"unknown op in test stream: $shown"))), s"$op: got $err")
    }
  }

  test("a star-build drain under StreamAudit writes its lines as graft_star_stream") {
    val root = tmpDir("rstream-star")
    val stagingDir = s"$root/staging"
    FlightSchemas.renameToStaging(
      spark.read.schema(FlightSchemas.rawCsv).option("header", true)
        .csv(resource("flights_clean.csv")))
      .write.parquet(stagingDir)
    val staged = spark.read.parquet(stagingDir).count()
    val auditPath = s"$root/audit.jsonl"
    val audit = StreamAudit.attach(spark, auditPath)
    try {
      StreamingStarBuild.start(spark, stagingDir, s"$root/wh", s"$root/ckpt")
        .awaitTermination()
      assert(StreamAudit.awaitLines(auditPath, "graft_star_stream", 1),
        "audit line for the star stream never arrived")
      val m = StreamAudit.metrics(spark, auditPath)
        .filter(col("query") === "graft_star_stream").collect()
      assert(m.map(_.getAs[Long]("input_rows")).sum == staged,
        s"audited input rows diverge: ${m.toSeq}")
    } finally audit.detach()
  }

  private def sources(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("RoundStream.scala is the only place a foreachBatch pipeline starts") {
    val needle = "." + "foreachBatch"
    val offenders = sources("src/main/scala")
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).sorted
    assert(offenders == Seq("src/main/scala/graft/streaming/RoundStream.scala"))
  }

  test("RoundStream.sign is the only op decoding in graft.streaming") {
    val needle = "\"" + "retract" + "\""
    val offenders = sources("src/main/scala/graft/streaming")
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).sorted
    assert(offenders == Seq("src/main/scala/graft/streaming/RoundStream.scala"))
  }
}
