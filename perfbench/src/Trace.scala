package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call: `parent` is the id of the enclosing span (-1 at the
  * top). Times are epoch milliseconds with sub-millisecond digits. */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double) {
  def ms: Double = end - start
}

final case class JobRec(id: Int, start: Long, var end: Long, desc: String,
                        var span: Int = -1)

final case class TaskAgg(var tasks: Long = 0, var runMs: Long = 0, var cpuNs: Long = 0,
                         var gcMs: Long = 0, var shuffleWrite: Long = 0, var spill: Long = 0,
                         var bytesWritten: Long = 0)

/** Spans around every call the benchmark makes into the program, kept
  * in memory. With `traced` on, each call's Spark jobs carry the job
  * description `pb:<span id>` and a [[SparkListener]] records jobs,
  * stages and task metrics, so a span's jobs, executor time and
  * off-job time can be read back. With it off, only the wall times
  * are kept (they are the end-to-end samples). */
final class Recorder(val traced: Boolean) {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var sc: SparkContext = _

  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, now(), Double.NaN)
    stack = id :: stack
    if (traced && sc != null) sc.setJobDescription(s"pb:$id")
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = now())
      if (traced && sc != null)
        sc.setJobDescription(stack.headOption.map(p => s"pb:$p").orNull)
    }
  }

  /** A span measured elsewhere (a streaming micro-batch's progress). */
  def external(name: String, parent: Int, start: Double, end: Double): Unit =
    spans += Span(spans.length, name, parent, start, end)

  // ---- Spark listener side (traced runs only) ----
  val jobs = ArrayBuffer.empty[JobRec]
  private val jobOfStage = scala.collection.mutable.HashMap.empty[Int, Int]
  val stageCount = scala.collection.mutable.HashMap.empty[Int, Int] // job -> stages run
  val taskByJob = scala.collection.mutable.HashMap.empty[Int, TaskAgg]

  def attach(ctx: SparkContext): Unit = {
    sc = ctx
    if (traced) ctx.addSparkListener(listener)
  }

  /** Wait until every listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
      jobs += JobRec(e.jobId, e.time, -1L, desc)
      e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      jobOfStage.get(e.stageInfo.stageId).foreach { j =>
        stageCount(j) = stageCount.getOrElse(j, 0) + 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) jobOfStage.get(e.stageId).foreach { j =>
        val a = taskByJob.getOrElseUpdate(j, TaskAgg())
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Give every job the span it ran under: its `pb:` description when
    * it has one, else the innermost span open when it started (jobs
    * started by threads that do not inherit the description, such as
    * streaming micro-batches). */
  def attribute(): Unit = synchronized {
    jobs.foreach { j =>
      j.span =
        if (j.desc != null && j.desc.startsWith("pb:")) j.desc.drop(3).toInt
        else spans.filter(s => s.start <= j.start && j.start <= s.end)
          .sortBy(s => -s.start).headOption.map(_.id).getOrElse(-1)
    }
  }

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants)
  }

  /** Jobs that ran under `s` or any span nested in it. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = descendants(s.id) + s.id
    jobs.filter(j => ids.contains(j.span)).toSeq
  }

  def tasksOf(js: Seq[JobRec]): TaskAgg = {
    val t = TaskAgg()
    js.flatMap(j => taskByJob.get(j.id)).foreach { a =>
      t.tasks += a.tasks; t.runMs += a.runMs; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.shuffleWrite += a.shuffleWrite; t.spill += a.spill; t.bytesWritten += a.bytesWritten
    }
    t
  }

  def stagesOf(js: Seq[JobRec]): Int = js.map(j => stageCount.getOrElse(j.id, 0)).sum

  /** Milliseconds of `s` during which none of `js` was running. */
  def offJobMs(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.filter(_.end >= 0)
      .map(j => (math.max(j.start.toDouble, s.start), math.min(j.end.toDouble, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    math.max(0.0, s.ms - covered)
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
      f""""start":${s.start}%.3f,"end":${s.end}%.3f}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Per-layer numbers every workload reports from the listener. */
object Common {
  /** `ops`: each operation's jobs and span; `rounds`: each round's span,
    * jobs and task totals. Per-round values are medians over rounds. */
  def sparkLayer(rec: Recorder, a: Args, jobsPerOp: Seq[Seq[JobRec]], ops: Seq[Span],
                 rounds: Seq[(Span, Seq[JobRec], TaskAgg)]): Map[String, Double] = {
    def perRound(f: ((Span, Seq[JobRec], TaskAgg)) => Double) = Main.median(rounds.map(f))
    val opJobs = jobsPerOp.map(_.length.toDouble)
    Map(
      "spark.jobs_per_op" -> Main.median(opJobs),
      "spark.stages_per_op" -> Main.median(jobsPerOp.map(js => rec.stagesOf(js).toDouble)),
      "spark.tasks_per_op" -> Main.median(jobsPerOp.map(js => rec.tasksOf(js).tasks.toDouble)),
      "spark.wall_per_job_ms" -> perRound { case (s, js, _) => s.ms / math.max(1, js.length) },
      "spark.off_job_ms_per_op" -> Main.median(ops.zip(jobsPerOp).map { case (s, js) =>
        rec.offJobMs(s, js) }),
      "spark.executor_run_s_per_round" -> perRound(_._3.runMs / 1000.0),
      "spark.executor_cpu_s_per_round" -> perRound(_._3.cpuNs / 1e9),
      "spark.executor_utilisation" -> perRound { case (s, _, t) => t.runMs / (s.ms * a.cores) },
      "spark.gc_s_per_round" -> perRound(_._3.gcMs / 1000.0),
      "spark.shuffle_write_bytes_per_round" -> perRound(_._3.shuffleWrite.toDouble),
      "spark.spill_bytes_per_round" -> perRound(_._3.spill.toDouble),
      "spark.output_bytes_per_round" -> perRound(_._3.bytesWritten.toDouble))
  }
}
