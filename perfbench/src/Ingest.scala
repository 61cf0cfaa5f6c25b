package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.ingest.ValidateRoute
import graft.schema.Schemas
import graft.stream.Streaming

/** `ingest`: the corpus is drained through the single-pass route into
  * the two parquet sinks, `filesPerBatch` files per micro-batch (closed loop: each
  * batch is planned after the previous one commits). A round drains
  * the whole corpus into fresh sink and checkpoint directories; rounds
  * repeat until the run length is used. One operation is one
  * micro-batch of either query. */
object Ingest {
  val files = 8
  val rowsPerFile = 400
  val filesPerBatch = 1

  final case class Batch(query: String, round: Int, p: StreamingQueryProgress)

  def run(spark: SparkSession, a: Args, rec: Recorder): (Double, Outcome) = {
    val corpus = a.in("corpus")
    val warm = a.in("warm")
    Corpus.write(corpus, a.seed, files, rowsPerFile)
    // the warm-up drains a corpus as large as the timed one: the first
    // drain in a JVM used about 40% more CPU than the next (JIT compiling),
    // and a one-file warm-up left most of that in the first timed round
    Corpus.write(warm, a.seed + 7919, files, rowsPerFile)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    def drain(src: java.nio.file.Path, out: java.nio.file.Path): Unit = {
      val stream = spark.readStream.schema(Corpus.envelope)
        .option("maxFilesPerTrigger", filesPerBatch).json(src.toString)
      val routed = ValidateRoute.planSinglePass(stream, Schemas.specs)
      val (qv, qr) = Streaming.startRoutes(routed, out.toString,
        out.resolve("_chk").toString, Trigger.AvailableNow())
      qv.awaitTermination()
      qr.awaitTermination()
      Seq(qv, qr).foreach(q => q.exception.foreach(e => throw e))
    }

    drain(warm, a.root.resolve("warm-out"))
    Main.deleteTree(a.root.resolve("warm-out"))
    rec.drain() // no late warm-up progress event is counted in round 0
    progress.clear()
    val ready = rec.now()

    val batches = ArrayBuffer.empty[Batch]
    val costs = ArrayBuffer.empty[Seq[Double]]
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val c0 = Main.costs()
      rec.span("ingest.round") { drain(corpus, a.out(s"r$r")) }
      costs += Main.costs().zip(c0).map { case (x, y) => x - y }
      Main.logRound(s"round $r", rec.spans.last.ms, costs.last)
      rec.drain() // every progress event of the round is delivered
      progress.asScala.filter(_.numInputRows > 0).foreach { p =>
        batches += Batch(p.name, r, p)
      }
      progress.clear()
      r += 1
    }
    val roundSpans = rec.spans.filter(_.name == "ingest.round").toSeq
    val corpusRows = files.toLong * rowsPerFile
    val trig = batches.map(_.p.durationMs.get("triggerExecution").doubleValue()).toSeq
    val (cpuE2e, cpuLayer) = Main.costMetrics(costs.toSeq)
    val e2e = cpuE2e + ("round_s" -> Main.median(roundSpans.map(_.ms / 1000.0)))

    val layer =
      if (!a.trace) Map.empty[String, Double]
      else layerMetrics(rec, a, batches.toSeq, roundSpans, corpusRows) ++ cpuLayer ++ Map(
        "op_ms_p50" -> Main.median(trig), "op_ms_gmean" -> Main.geomean(trig))

    val check =
      s"""{"corpus":${Json.str(corpus.toString)},"rounds":""" +
        Json.arr((0 until r).map(i => Json.str(a.out(s"r$i").toString))) + "}"
    (ready, Outcome(batches.length, 0L, e2e, layer, check))
  }

  private def layerMetrics(rec: Recorder, a: Args, batches: Seq[Batch],
                           rounds: Seq[Span], corpusRows: Long): Map[String, Double] = {
    // one span per micro-batch, under its round; streaming jobs carry the
    // query name and batch id in their description
    val batchSpan = batches.map { b =>
      val start = java.time.Instant.parse(b.p.timestamp).toEpochMilli.toDouble
      val round = rounds(b.round)
      rec.external(s"stream.${b.query}.batch", round.id, start,
        start + b.p.durationMs.get("triggerExecution").doubleValue())
      (b.query, b.round, b.p.batchId) -> rec.spans.last.id
    }.toMap
    rec.attribute()
    rec.jobs.foreach { j =>
      val d = Option(j.desc).getOrElse("")
      val name = d.linesIterator.toSeq.headOption.getOrElse("")
      val batchId = "batch = (\\d+)".r.findFirstMatchIn(d).map(_.group(1).toLong)
      val round = rounds.indexWhere(s => s.start <= j.start && j.start <= s.end)
      batchId.flatMap(id => batchSpan.get((name, round, id))).foreach(j.span = _)
    }
    // median over batches (of query `q`, or of both) of the summed phases `keys`
    def dur(q: Option[String], keys: String*): Double = Main.median(
      batches.filter(b => q.forall(_ == b.query)).map(b =>
        keys.map(k => b.p.durationMs.asScala.get(k).map(_.doubleValue).getOrElse(0.0)).sum))
    val perBatch = batches.map(b => rec.spans(batchSpan((b.query, b.round, b.p.batchId))))
    val jobsPer = perBatch.map(s => rec.jobsUnder(s))
    val perRound = rounds.map(s => (s, rec.jobsUnder(s), rec.tasksOf(rec.jobsUnder(s))))
    val scanRows = Main.median(rounds.indices.map(i =>
      batches.filter(_.round == i).map(_.p.numInputRows.toDouble).sum / corpusRows))
    Common.sparkLayer(rec, a, jobsPer, perBatch, perRound) ++ Map(
      "ingest.rows_per_s" -> Main.median(rounds.map(s => corpusRows / (s.ms / 1000.0))),
      "stream.validated.add_batch_ms" -> dur(Some("validated-all"), "addBatch"),
      "stream.rejected.add_batch_ms" -> dur(Some("rejected-all"), "addBatch"),
      "stream.planning_ms" -> dur(None, "queryPlanning"),
      "stream.commit_ms" -> dur(None, "walCommit", "commitOffsets"),
      "ingest.scan_rows_per_input_row" -> scanRows)
  }
}
