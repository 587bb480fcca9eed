package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session per suite, built by [[GraftSession]] so the tests
  * run under the config that ships; 4 cores whatever the host. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def resource(name: String): String = s"src/test/resources/$name"
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** The Spark jobs `body` starts, counted under a job group of its
    * own (jobs a broadcast starts inherit the group). */
  def jobsIn(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try body
    finally {
      sc.clearJobGroup()
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}

object SparkTestBase {
  lazy val session: SparkSession = GraftSession(cores = 4,
    warehouseDir = Some(Files.createTempDirectory("graft-wh").toString))
}
