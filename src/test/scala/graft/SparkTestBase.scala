package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session per suite, built by [[GraftSession]] so the tests
  * run under the config that ships; 4 cores whatever the host. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def resource(name: String): String = s"src/test/resources/$name"
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession(cores = 4,
    warehouseDir = Some(Files.createTempDirectory("graft-wh").toString))
}
