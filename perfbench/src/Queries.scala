package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** `queries`: a fixed named subset of `SparkEntry.queries` (analyst
  * queries and the warehouse-upkeep queries that drive `IncrementalMv`
  * and `Snapshots`) over the seeded star-schema tables made by gen.py.
  * A warm pass runs the `warmSet` families once over the small `warm`
  * tables; each timed pass then runs the whole subset once over a fresh
  * copy of the `sf` tables,
  * so that the MV and snapshot tables the upkeep queries keep under
  * per-table-directory paths are built inside the pass. Passes repeat
  * until the run length is used. One operation is one query. */
object Queries {
  /** (query, family); README.md says why each is in. */
  val subset: Seq[(String, String)] = Seq(
    "q18_subquery_family" -> "olap", "s30_market_share" -> "star",
    "v03_single_pass_route" -> "route", "x111_incremental_mv" -> "mv",
    "x68_snapshot_upsert" -> "snapshots", "x67_compaction" -> "snapshots",
    "x58_time_travel" -> "snapshots", "x112_ivf_pq_rerank" -> "ann",
    "x114_nb_lang_classify" -> "text", "x65_source_cap" -> "dedup")

  val families: Seq[String] = subset.map(_._2).distinct

  /** Families run in the warm pass: the plain-SQL ones, which warm the
    * planner, the parquet reader and whole-stage code generation that
    * every query uses. The others run cold in the timed pass, so their
    * times include loading and compiling their own operators (x111 and
    * x114 took about twice their warm time); warming them as well would
    * add about 25 s to every run on 4 cores. */
  val warmSet: Set[String] = Set("olap", "star", "route")

  def run(spark: SparkSession, a: Args, rec: Recorder): (Double, Outcome) = {
    val missing = subset.map(_._1).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(", ")}")
    val warmDir = a.in("warm").toString
    subset.filter(q => warmSet(q._2)).foreach { case (name, _) =>
      SparkEntry.queries(name)(spark, warmDir).collect()
      spark.catalog.clearCache()
    }
    val ready = rec.now()

    val t0 = System.nanoTime()
    val passes = ArrayBuffer.empty[Span]
    val firstPass = ArrayBuffer.empty[(String, Array[Row], StructType)]
    val failed = ArrayBuffer.empty[String]
    val costs = ArrayBuffer.empty[Seq[Double]]
    var p = 0
    while (p == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val dir = copyTables(a.in("sf"), a.root.resolve(s"in/sf-pass$p"))
      val c0 = Main.costs()
      rec.span("queries.pass") {
        subset.foreach { case (name, family) =>
          try {
            val (rows, schema) = rec.span(s"query:$family:$name") {
              val df = SparkEntry.queries(name)(spark, dir.toString)
              (df.collect(), df.schema)
            }
            System.err.println(f"[perfbench] $name ${rec.spans.last.ms}%.0f ms")
            if (p == 0) firstPass += ((name, rows, schema))
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[perfbench] $name failed: $e")
              failed += name
          }
          spark.catalog.clearCache()
        }
      }
      costs += Main.costs().zip(c0).map { case (x, y) => x - y }
      passes += rec.spans.filter(_.name == "queries.pass").last
      Main.logRound(s"pass $p", passes.last.ms, costs.last)
      p += 1
    }
    // the first pass's rows go to the checker (untimed)
    val outDir = a.out("queries")
    firstPass.foreach { case (name, rows, schema) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(outDir.resolve(name).toString)
    }
    val querySpans = rec.spans.filter(_.name.startsWith("query:")).toSeq
    val (cpuE2e, cpuLayer) = Main.costMetrics(costs.toSeq)
    val e2e = cpuE2e + ("round_s" -> Main.median(passes.map(_.ms / 1000.0).toSeq))

    val layer = if (!a.trace) Map.empty[String, Double] else {
      rec.drain()
      rec.attribute()
      val rounds = passes.toSeq.map { s => val js = rec.jobsUnder(s); (s, js, rec.tasksOf(js)) }
      val fam = families.flatMap { f =>
        val perPass = passes.toSeq.map { pass =>
          val qs = querySpans.filter(q => q.parent == pass.id && q.name.startsWith(s"query:$f:"))
          (qs.map(_.ms).sum / 1000.0, qs.map(q => rec.jobsUnder(q).length).sum.toDouble)
        }
        Seq(s"queries.$f.wall_s" -> Main.median(perPass.map(_._1)),
          s"queries.$f.jobs" -> Main.median(perPass.map(_._2)))
      }
      Common.sparkLayer(rec, a, querySpans.map(rec.jobsUnder), querySpans, rounds) ++ fam ++
        cpuLayer ++ Map("op_ms_p50" -> Main.median(querySpans.map(_.ms)),
          "op_ms_gmean" -> Main.geomean(querySpans.map(_.ms)))
    }

    // a query that failed is counted in `failed`, and its output is not checked
    val oracle = firstPass.map { case (name, _, _) =>
      s"${Json.str(name)}:${Json.str(SparkEntry.oracleSql(name))}"
    }.mkString("{", ",", "}")
    val check = s"""{"tables":${Json.str(a.in("sf").toString)},""" +
      s""""out":${Json.str(outDir.toString)},"oracle":$oracle}"""
    (ready, Outcome(p.toLong * subset.length, failed.length, e2e, layer, check))
  }

  /** A fresh copy of the table directory, under a path no query has seen. */
  private def copyTables(src: Path, dst: Path): Path = {
    Files.createDirectories(dst)
    val ls = Files.list(src)
    try ls.forEach(f => Files.copy(f, dst.resolve(f.getFileName)))
    finally ls.close()
    dst
  }
}
