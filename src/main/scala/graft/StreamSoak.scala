package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.ingest.ValidateRoute
import graft.schema.Schemas

/** Streaming-throughput soak for the validate-and-route path — the
  * reference's actual production job (`spark/jobs/validate_json.py:
  * 540-683`) driven end-to-end as a stream: a 13-topic message corpus
  * synthesized from the `events` fixture is dripped through a file
  * source in bounded micro-batches (`maxFilesPerTrigger` under
  * `Trigger.AvailableNow`), through `ValidateRoute.plan` over ALL 13
  * reference topic specs, into the two-query routed parquet sink
  * topology (ST6). Reports rows/s and per-batch latency from the
  * queries' own progress events.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.StreamSoak /root/testdata/sf0.1"
  *
  * The corpus fans each event row into one of the 13 topics (uniform by
  * id), fully populating that topic's declared schema — nested
  * `lookup_player` included — with a seasoning of invalid traffic:
  * ~10% wrong-sport rows (reject route) and ~4% unparseable payloads
  * (parse-failure route), so both sinks do real work like production.
  *
  * Regression guard: rows/s is compared against the recorded baseline
  * below with a ±2× band; outside the band the tool prints SOAK-WARN
  * (and exits nonzero on the slow side) so a round-over-round collapse
  * of the streaming path is loud, not a silent NOTES diff.
  */
object StreamSoak {

  /** Recorded on the round-7 run of record (sf0.1, local[32], 100k
    * messages, 8 batches of 8 files; see NOTES — single-batch peak was
    * 17.3k rows/s): update when the corpus or topology changes shape. */
  val baselineRowsPerSec = 10800.0

  /** One column per declared field, recursively: structs recurse,
    * `ingested_at` doubles take the event epoch, sport-ish fields get
    * the (mostly) valid sport literal, everything else a short string
    * derived from the event id — string-typed like real API traffic. */
  private def fieldValue(f: StructField, id: Column, sport: Column): Column =
    f.dataType match {
      case DoubleType => unix_timestamp(col("ts")).cast("double")
      case st: StructType =>
        struct(st.fields.toSeq.map(sf => fieldValue(sf, id, sport).as(sf.name)): _*)
      case _ =>
        if (f.name.toLowerCase.contains("sport")) sport
        else concat(lit(f.name + "-"), id)
    }

  /** The 13-topic message corpus: `(topic, value, timestamp)`. */
  def buildMessages(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val id = col("event_id").cast("string")
    val sport = when(pmod(col("event_id"), lit(10)) === 0, lit("Basketball"))
      .otherwise(lit("Soccer"))
    val frames = Schemas.specs.zipWithIndex.map { case (spec, i) =>
      val payload = to_json(struct(
        spec.schema.fields.toSeq.map(f => fieldValue(f, id, sport).as(f.name)): _*))
      ev.filter(pmod(col("event_id"), lit(13)) === i)
        .select(
          lit(s"soccer.${spec.name}").as("topic"),
          when(pmod(col("event_id"), lit(23)) === 0, lit("NOT JSON {{["))
            .otherwise(payload).as("value"),
          col("ts").as("timestamp"))
    }
    frames.reduce(_.unionByName(_))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nFiles = if (args.length > 1) args(1).toInt else 64
    val filesPerBatch = if (args.length > 2) args(2).toInt else 8
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Graft.session("graft-streamsoak", master = s"local[$cpus]",
      shufflePartitions = cpus.toInt)
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-soak").toString
      val inDir = s"$root/in"
      buildMessages(spark, dir).repartition(nFiles)
        .write.mode("overwrite").parquet(inDir)
      val corpus = spark.read.parquet(inDir)
      val n = corpus.count()

      println(f"soak: corpus=$n rows in $nFiles files, $filesPerBatch files/batch")
      val topologies = Seq(
        "per-topic-union" -> ((df: DataFrame) => ValidateRoute.plan(df, Schemas.specs)),
        "single-pass" -> ((df: DataFrame) => ValidateRoute.planSinglePass(df, Schemas.specs)))
      var singlePassRate = 0.0
      topologies.foreach { case (name, planFn) =>
        val stream = spark.readStream
          .schema(corpus.schema)
          .option("maxFilesPerTrigger", filesPerBatch)
          .parquet(inDir)
        val routed = planFn(stream)
        val t0 = System.nanoTime()
        val (qv, qr) = graft.stream.Streaming.startRoutes(
          routed, s"$root/out-$name", s"$root/chk-$name", Trigger.AvailableNow())
        qv.awaitTermination(600000)
        qr.awaitTermination(600000)
        val wallSec = (System.nanoTime() - t0) / 1e9

        def stats(q: org.apache.spark.sql.streaming.StreamingQuery) = {
          val ps = q.recentProgress.filter(_.numInputRows > 0)
          val rows = ps.map(_.numInputRows).sum
          val ms = ps.map(_.durationMs.get("triggerExecution").longValue()).sum
          (ps.length, rows, ms)
        }
        val (bv, rv, mv) = stats(qv)
        val (br, rr, mr) = stats(qr)
        val validated = spark.read.parquet(s"$root/out-$name/validated-all").count()
        val rejected = spark.read.parquet(s"$root/out-$name/rejected-all").count()
        // each query consumes the full corpus independently (two-query
        // topology, like the reference job) — end-to-end throughput is
        // corpus rows over the wall time both queries took to drain it.
        // source-rows/batch above the corpus size exposes the union
        // topology's scan amplification (13×/26× per query).
        val rowsPerSec = n / wallSec
        if (name == "single-pass") singlePassRate = rowsPerSec
        println(f"soak[$name]: validated-all $bv batches, $rv source rows, " +
          f"avg ${mv.toDouble / bv}%.0f ms/batch")
        println(f"soak[$name]: rejected-all  $br batches, $rr source rows, " +
          f"avg ${mr.toDouble / br}%.0f ms/batch")
        println(f"soak[$name]: sink rows validated=$validated rejected=$rejected")
        println(f"soak[$name]: wall=$wallSec%.1fs end-to-end " +
          f"throughput=$rowsPerSec%.0f rows/s")
      }
      if (singlePassRate < baselineRowsPerSec / 2) {
        println(f"SOAK-WARN: single-pass throughput $singlePassRate%.0f rows/s " +
          f"is below half the recorded baseline ($baselineRowsPerSec%.0f)")
        sys.exit(2)
      } else if (singlePassRate > baselineRowsPerSec * 2)
        println(f"SOAK-WARN: single-pass throughput $singlePassRate%.0f rows/s " +
          f"is above twice the recorded baseline ($baselineRowsPerSec%.0f) — re-record it")
    } finally spark.stop()
  }
}
