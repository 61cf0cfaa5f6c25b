package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark job counts of the benchmarked storage queries (perfbench
  * `queries`: the MV upkeep and the three snapshot-table queries). The
  * commit protocol runs on the driver through the Hadoop filesystem, so
  * it must add no job to these queries; a count that moves is a change
  * in how much scheduling each query pays. Counts are for the second
  * call in the shared test session (the first warms the function
  * registry and the fixture reads) at sf0.001. */
class JobCountSpec extends AnyFunSuite {
  import TestSpark.spark

  private val pinned = Seq(
    "x111_incremental_mv" -> 20,
    "x68_snapshot_upsert" -> 18,
    "x67_compaction" -> 11,
    "x58_time_travel" -> 10)

  pinned.foreach { case (name, expected) =>
    test(s"$name submits $expected Spark jobs") {
      def run() = SparkEntry.queries(name)(spark, TestSpark.sf).collect()
      val (warm, _) = JobCounter.count(spark)(run())
      val (rows, jobs) = JobCounter.count(spark)(run())
      assert(rows.toSeq === warm.toSeq)
      assert(jobs === expected, s"$name: Spark jobs per call")
    }
  }
}
