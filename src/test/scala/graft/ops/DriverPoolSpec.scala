package graft.ops

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

class DriverPoolSpec extends SparkTestBase {
  private val sc = spark.sparkContext // run labels jobs of the active session

  test("results come back in task order, not completion order") {
    val out = DriverPool.run("order")((1 to 4).map { i =>
      s"t$i" -> (() => { Thread.sleep(100L * (5 - i)); i })
    }: _*)
    assert(out == Seq(1, 2, 3, 4))
  }

  test("a failing task is rethrown only after its slower sibling finishes") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      DriverPool.run("fail")(
        "fast" -> (() => throw new IllegalStateException("first")),
        "slow" -> (() => { Thread.sleep(500); siblingDone.set(true); 0 }),
        "also" -> (() => throw new IllegalArgumentException("second")))
    }
    assert(siblingDone.get(), "run threw while a sibling task was still running")
    assert(e.getMessage == "first")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
  }

  test("tasks inherit the job group and label their jobs") {
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    def counts() = DriverPool.run("pool")(Seq("a", "b", "c").map { name =>
      name -> (() => sc.parallelize(1 to 10, 2).count())
    }: _*)
    // an earlier call outside the group: its threads must not be the
    // ones that serve the counted call
    counts()
    sc.addSparkListener(listener)
    try {
      val jobs = jobsIn(assert(counts() == Seq(10L, 10L, 10L)))
      assert(jobs == 3)
      TestListenerBus.drain(sc)
      assert(descriptions.asScala.toSeq.sorted == Seq("pool a", "pool b", "pool c"))
    } finally sc.removeSparkListener(listener)
  }
}
