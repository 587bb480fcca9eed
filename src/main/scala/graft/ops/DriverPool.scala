package graft.ops

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.SparkSession

/** The engine's one source of driver-side concurrency: a query whose
  * actions are independent runs them as concurrent Spark jobs, so one
  * job's stage tail does not leave the executor pool idle while the
  * next job waits its turn.
  *
  * [[run]]'s contract:
  *  - Width: one thread per task, created per call from the calling
  *    thread, so Spark's inheritable local properties (job group,
  *    scheduler pool) reach every task. There is no shared long-lived
  *    pool: its threads would keep the properties of whichever caller
  *    created them.
  *  - Labels: each task's jobs carry the description `"$label $name"`.
  *  - Order: results come back in task order, not completion order.
  *  - Failure: `run` waits for every task before it returns or throws,
  *    so no task is still launching jobs when the caller moves on. It
  *    rethrows the first failure in task order, with the others added
  *    as suppressed.
  *  - The threads are shut down on every path.
  *
  * Tasks share no mutable state beyond what the caller hands them;
  * a frame that several tasks read is materialized before `run`. */
private[graft] object DriverPool {
  def run[A](label: String)(tasks: (String, () => A)*): Seq[A] = {
    val sc = SparkSession.active.sparkContext
    val pool = Executors.newFixedThreadPool(math.max(1, tasks.size))
    try {
      val futures = tasks.map { case (name, task) =>
        pool.submit(new Callable[A] {
          def call(): A = {
            sc.setJobDescription(s"$label $name")
            task()
          }
        })
      }
      val outcomes = futures.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(a) => a }
      }
    } finally pool.shutdown()
  }
}
