package org.apache.spark {
  /** The listener bus is `private[spark]`; a count is read only after
    * the bus has delivered every job event. */
  object TestListenerBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {
  import java.util.concurrent.atomic.AtomicInteger

  import org.apache.spark.TestListenerBus
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.apache.spark.sql.SparkSession

  /** Counts the Spark jobs a block of code submits — the unit the
    * storage layers are charged in: every extra action (a listing job,
    * a `collect`, a staged write) is one more job. Suites in one test
    * JVM run one at a time, so every job started inside the block is
    * the block's own. */
  object JobCounter {
    def count[A](spark: SparkSession)(body: => A): (A, Int) = {
      val sc = spark.sparkContext
      TestListenerBus.drain(sc)
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      try {
        val out = body
        TestListenerBus.drain(sc)
        (out, jobs.get)
      } finally sc.removeSparkListener(listener)
    }
  }
}
