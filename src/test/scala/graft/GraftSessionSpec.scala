package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

class GraftSessionSpec extends SparkTestBase {

  test("tests run under the shipped session config") {
    val conf = spark.conf
    assert(conf.get("spark.sql.extensions") == "graft.plans.GraftExtensions")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.ansi.enabled") == "false")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.cbo.enabled") == "true")
    assert(conf.get("spark.sql.cbo.joinReorder.enabled") == "true")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("a second factory call returns the same session") {
    assert(GraftSession() eq spark)
  }

  test("GraftSession.scala is the only place a session is built") {
    val needle = "SparkSession" + ".builder"
    def sources(root: String): Seq[Path] = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val offenders = (sources("src/main/scala") ++ sources("src/test/scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(_.toString).sorted
    assert(offenders == Seq("src/main/scala/graft/GraftSession.scala"))
  }
}
