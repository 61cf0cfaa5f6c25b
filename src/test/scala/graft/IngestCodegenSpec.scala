package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.ValidateRoute
import graft.schema.Schemas
import graft.stream.Streaming

/** Code generation of the streaming single-pass route: a micro-batch
  * after a query's first ones reuses the classes already generated and
  * compiled instead of compiling new ones. The compile counter
  * (`CodegenMetrics`) is JVM-wide, so this suite has a forked test group
  * of its own (build.sbt): a suite compiling beside it would read as
  * growth. */
class IngestCodegenSpec extends AnyFunSuite with StreamingFixtures {
  import TestSpark.spark

  test("single-pass route: no Janino compile after each query's second " +
    "micro-batch; the streaming plan stays small") {
    val root = Files.createTempDirectory("graft-route-codegen")
    val in = root.resolve("in").toString
    val files = 6
    StreamSoak.buildMessages(spark, TestSpark.sf).repartition(files)
      .write.json(in)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    // compile count when each (query, batch) progress event arrives:
    // events are posted after the batch's jobs finished
    val seen = new ConcurrentHashMap[(String, Long), java.lang.Long]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        seen.put((e.progress.name, e.progress.batchId), compiles.getCount)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val stream = spark.readStream.schema(msgSchema)
        .option("maxFilesPerTrigger", 1).json(in)
      val routed = ValidateRoute.planSinglePass(stream, Schemas.specs)
      val (qv, qr) = Streaming.startRoutes(routed, root.resolve("out").toString,
        root.resolve("chk").toString, Trigger.AvailableNow())
      qv.awaitTermination(); qr.awaitTermination()
      Seq(qv, qr).foreach(q => q.exception.foreach(e => throw e))
      val names = Seq(qv.name, qr.name)
      eventually(60000)(names.forall(n =>
        (0L until files).forall(b => seen.containsKey((n, b)))))
      val afterSecond = names.map(n => seen.get((n, 1L)).longValue).max
      val atEnd = compiles.getCount
      assert(atEnd == afterSecond, s"${atEnd - afterSecond} compiles after " +
        s"both queries' second micro-batch (of $files each)")

      Seq(qv, qr).foreach { q =>
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.optimizedPlan
        val (nodes, clones) = PlanSpec.routeShape(plan)
        assert(nodes < 200, s"${q.name}: $nodes expression nodes:\n$plan")
        assert(clones.isEmpty, s"${q.name}: from_json cloned into\n" +
          clones.mkString("\n"))
      }
    } finally spark.streams.removeListener(listener)
  }
}
