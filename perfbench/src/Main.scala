package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: operations attempted and failed,
  * the end-to-end numbers, the per-layer numbers (traced runs) and a
  * JSON object telling the output checker where to look. */
final case class Outcome(attempted: Long, failed: Long,
                         e2e: Map[String, Double], layer: Map[String, Double],
                         check: String)

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      root: Path, cores: Int) {
  def in(p: String): Path = root.resolve("in").resolve(p)
  def out(p: String): Path = root.resolve("out").resolve(p)
}

/** JVM side of the benchmark: `perfbench.Main <workload> <seed>
  * <seconds> <trace 0|1> <run root> <cores>`. Inputs made by gen.py are
  * under `<root>/in`, outputs go to `<root>/out`, and the result object
  * is written to `<root>/result.json`. */
object Main {
  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, root, cores) = argv
    val a = Args(workload, seed.toLong, seconds.toDouble, trace == "1",
      Paths.get(root).toAbsolutePath, cores.toInt)
    val rec = new Recorder(a.trace)
    val calibMs = if (a.trace) calibrate() else 0.0
    val spark = session(a)
    rec.attach(spark.sparkContext)
    try {
      val body: (SparkSession, Args, Recorder) => (Double, Outcome) = a.workload match {
        case "ingest" => Ingest.run
        case "queries" => Queries.run
        case w => sys.error(s"unknown workload $w")
      }
      val (readyMs, o) = body(spark, a, rec)
      val layer: Map[String, Double] =
        if (a.trace) o.layer ++ Map("calib.cpu_kernel_ms" -> calibMs,
          "jvm.peak_rss_mb" -> peakRssMb())
        else Map.empty
      if (a.trace) Files.writeString(a.root.resolve("spans.json"), rec.spansJson)
      Files.writeString(a.root.resolve("result.json"),
        s"""{"ready_ms":${Json.num(readyMs)},"attempted":${o.attempted},""" +
          s""""failed":${o.failed},"metrics":${Json.obj(o.e2e)},""" +
          s""""layer":${Json.obj(layer)},"check":${o.check}}""")
    } finally spark.stop()
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", a.root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", a.root.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed single-thread integer/float kernel (best of five), read at
    * run start so that figures from different machines can be set side
    * by side. No change to the program can move it. */
  def calibrate(): Double = {
    def once(): (Double, Double) = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var acc = 0.0
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += (x & 0xffff).toDouble * 1e-5
        i += 1
      }
      ((System.nanoTime() - t0) / 1e6, acc)
    }
    (1 to 5).map(_ => once()._1).min
  }

  /** CPU time the whole JVM has used so far (all threads), in seconds. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds the JIT compiler threads have used so far, from
    * `/proc/self/task/<tid>/stat` (utime + stime, in clock ticks). The
    * JVM runs with `-XX:-UseDynamicNumberOfCompilerThreads`, so these
    * threads live as long as the JVM and no compiler CPU is lost with
    * an exited thread. */
  def compilerCpuS(): Double = {
    val tasks = Paths.get("/proc/self/task")
    val ls = Files.list(tasks)
    try ls.iterator().asScala.map { t =>
      try {
        if (!Files.readString(t.resolve("comm")).trim.matches("C[12] CompilerThre.*")) 0L
        else {
          val stat = Files.readString(t.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong // fields 14 and 15 of stat(5)
        }
      } catch { case _: java.io.IOException => 0L } // the thread has ended
    }.sum / 100.0 // USER_HZ
    finally ls.close()
  }

  /** (CPU, compiler CPU, JIT, GC) seconds the JVM has used so far; the
    * difference of two readings is what a round cost. */
  def costs(): Seq[Double] = Seq(processCpuS(), compilerCpuS(), jitS(), gcS())

  def logRound(what: String, ms: Double, cost: Seq[Double]): Unit =
    System.err.println(f"[perfbench] $what: $ms%.0f ms wall, ${cost(0)}%.2f s CPU, " +
      f"${cost(1)}%.2f s of it in compiler threads")

  /** Per-round medians of the differences of `costs()` readings. The
    * end-to-end `round_work_cpu_s` leaves out the JIT compiler threads:
    * the program compiles new code in every micro-batch and every query,
    * so those threads stay busy for most of a round, and their
    * CPU follows its wall time (and the machine's load) more than the
    * work done. Per layer: all threads, the compiler threads, the JIT's
    * own compile time and GC. */
  def costMetrics(perRound: Seq[Seq[Double]]): (Map[String, Double], Map[String, Double]) = {
    def med(f: Seq[Double] => Double) = median(perRound.map(f))
    (Map("round_work_cpu_s" -> med(c => c(0) - c(1))),
      Map("round_cpu_s" -> med(_(0)), "jvm.compiler_cpu_s_per_round" -> med(_(1)),
        "jvm.jit_s_per_round" -> med(_(2)), "jvm.gc_s_per_round" -> med(_(3))))
  }

  /** Seconds the JVM has spent in JIT compilation and in garbage
    * collection so far. */
  def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcS(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** The JVM's high-water resident set size (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean: the typical latency of a set of unlike operations
    * (one slow query moves it by its own share only). */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "no samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** Linear-interpolated quantile (the `statistics` / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val paths = Files.walk(p)
    try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally paths.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
