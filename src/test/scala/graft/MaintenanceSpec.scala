package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.IncrementalMv
import graft.warehouse.Compaction

/** Table-maintenance operators: incremental materialized-view upkeep
  * (delta merge, replay idempotence, partition-scoped rewrites) and
  * small-file compaction. */
class MaintenanceSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("incremental MV over two streamed batches equals the batch recompute") {
    val ev = Tables(spark, TestSpark.sf, "events")
      .select(col("ts"), col("event_type"))
    val cutSec = ev.agg(percentile_approx(unix_timestamp(col("ts")),
      lit(0.5), lit(100))).head.getLong(0)
    val inDir = Files.createTempDirectory("graft-mv-in").toString
    val mvDir = Files.createTempDirectory("graft-mv").toString + "/mv"
    val chkDir = Files.createTempDirectory("graft-mv-chk").toString

    def runOnce(): Unit = {
      val stream = spark.readStream.schema(ev.schema).parquet(inDir)
      val q = IncrementalMv.startDailyCounts(stream, "ts", "event_type",
        mvDir, chkDir, Trigger.AvailableNow())
      q.awaitTermination(120000); q.stop()
    }
    ev.filter(unix_timestamp(col("ts")) <= cutSec)
      .write.mode("append").parquet(inDir)
    runOnce()
    ev.filter(unix_timestamp(col("ts")) > cutSec)
      .write.mode("append").parquet(inDir)
    runOnce()

    val got = IncrementalMv.read(spark, mvDir)
    val want = ev.groupBy(to_date(col("ts")).as("day"),
        col("event_type").as("key"))
      .agg(count(lit(1)).as("n"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "incrementally maintained MV must equal the batch recompute")
  }

  test("replayed batch ids are skipped (exactly-once effect)") {
    val mvDir = Files.createTempDirectory("graft-mv2").toString + "/mv"
    val batch = Seq(
      ("a", ts("2024-01-01 10:00:00")), ("a", ts("2024-01-01 11:00:00")),
      ("b", ts("2024-01-02 10:00:00"))
    ).toDF("k", "ts")
    IncrementalMv.applyDailyCountsDelta(batch, 0L, mvDir, "ts", "k")
    val once = IncrementalMv.read(spark, mvDir).collect().toSet
    // at-least-once delivery replays the same batch id after a crash
    IncrementalMv.applyDailyCountsDelta(batch, 0L, mvDir, "ts", "k")
    val twice = IncrementalMv.read(spark, mvDir).collect().toSet
    assert(once == twice, "replay must not double-count")
    // and a NEW batch id does merge
    IncrementalMv.applyDailyCountsDelta(batch, 1L, mvDir, "ts", "k")
    val merged = IncrementalMv.read(spark, mvDir)
      .filter($"key" === "a" && $"day" === lit("2024-01-01").cast("date"))
      .head.getLong(2)
    assert(merged == 4L)
  }

  test("only touched day partitions are rewritten") {
    val mvDir = Files.createTempDirectory("graft-mv3").toString + "/mv"
    IncrementalMv.applyDailyCountsDelta(
      Seq(("a", ts("2024-01-01 10:00:00"))).toDF("k", "ts"), 0L, mvDir, "ts", "k")
    val fs = new org.apache.hadoop.fs.Path(mvDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesOf(day: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$mvDir/day=$day"))
        .map(_.getPath.getName).toSet
    val day1Before = filesOf("2024-01-01")
    // second batch touches only day 2
    IncrementalMv.applyDailyCountsDelta(
      Seq(("a", ts("2024-01-02 09:00:00"))).toDF("k", "ts"), 1L, mvDir, "ts", "k")
    assert(filesOf("2024-01-01") == day1Before,
      "untouched partition must keep its exact file set")
    assert(filesOf("2024-01-02").nonEmpty)
  }

  test("crash recovery: a complete staging snapshot is installed, not re-merged") {
    val mvDir = Files.createTempDirectory("graft-mv4").toString + "/mv"
    IncrementalMv.applyDailyCountsDelta(
      Seq(("a", ts("2024-01-01 10:00:00"))).toDF("k", "ts"), 0L, mvDir, "ts", "k")
    // simulate a crash AFTER batch 1 staged its merge but BEFORE the
    // commit marker: a _SUCCESS-complete staging snapshot exists. The
    // sentinel count 999 (≠ any re-merge result) proves the replay
    // installs the snapshot instead of re-merging (which could
    // double-count off a half-installed MV).
    Seq((java.sql.Date.valueOf("2024-01-01"), "a", 999L))
      .toDF("day", "key", "n")
      .write.partitionBy("day") // the staging layout IS the MV layout
      .parquet(s"$mvDir/_graft_staging/1")
    IncrementalMv.applyDailyCountsDelta(
      Seq(("a", ts("2024-01-01 11:00:00"))).toDF("k", "ts"), 1L, mvDir, "ts", "k")
    val n = IncrementalMv.read(spark, mvDir)
      .filter($"key" === "a").head.getLong(2)
    assert(n == 999L, s"replay must install the staged snapshot, got n=$n")
    // and the staging area is gone after commit
    val fs = new org.apache.hadoop.fs.Path(mvDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$mvDir/_graft_staging")))
  }

  test("commit ledger stays O(1): older markers prune on each commit") {
    val mvDir = Files.createTempDirectory("graft-mv5").toString + "/mv"
    (0L to 2L).foreach { id =>
      IncrementalMv.applyDailyCountsDelta(
        Seq(("a", ts(s"2024-01-0${id + 1} 10:00:00"))).toDF("k", "ts"),
        id, mvDir, "ts", "k")
    }
    val fs = new org.apache.hadoop.fs.Path(mvDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$mvDir/_graft_commits"))
      .map(_.getPath.getName).toSeq
    assert(markers == Seq("2"), s"expected only the latest marker: $markers")
  }

  test("startAgg streams a KLL-state MV: two AvailableNow drips equal the " +
    "batch recompute through the sketch finish") {
    import graft.stream.MvAgg
    val agg = MvAgg.kll(spark, k = 4096, qs = Seq(0.5, 0.9))
    val ev = Tables(spark, TestSpark.sf, "events")
      .select(col("ts"), col("event_type"), col("value"))
    val cutSec = ev.agg(percentile_approx(unix_timestamp(col("ts")),
      lit(0.5), lit(100))).head.getLong(0)
    val inDir = Files.createTempDirectory("graft-mvk-in").toString
    val mvDir = Files.createTempDirectory("graft-mvk").toString + "/mv"
    val chkDir = Files.createTempDirectory("graft-mvk-chk").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(ev.schema).parquet(inDir)
      val q = IncrementalMv.startAgg(stream, "ts", "event_type", "value",
        agg, mvDir, chkDir, Trigger.AvailableNow())
      q.awaitTermination(120000); q.stop()
    }
    ev.filter(unix_timestamp(col("ts")) <= cutSec)
      .write.mode("append").parquet(inDir)
    runOnce()
    ev.filter(unix_timestamp(col("ts")) > cutSec)
      .write.mode("append").parquet(inDir)
    runOnce()
    val got = IncrementalMv.readAgg(spark, mvDir, agg)
    val want = ev.groupBy(to_date(col("ts")).as("day"),
        col("event_type").cast("string").as("key"))
      .agg(agg.delta(col("value")).as("state"))
      .select(col("day"), col("key"), agg.finish(col("state")).as("value"))
    assert(got.count() > 0 && got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed KLL MV must equal the batch recompute (exact regime)")
  }

  test("streaming growth MV: distinct-set states drip in over two " +
    "AvailableNow batches and serve activeUsers == the batch operator") {
    import graft.stream.MvAgg
    import graft.olap.Growth
    val ev = Tables(spark, TestSpark.sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("ts"), col("user_id"))
    val cutSec = ev.agg(percentile_approx(unix_timestamp(col("ts")),
      lit(0.5), lit(100))).head.getLong(0)
    val inDir = Files.createTempDirectory("graft-mvd-in").toString
    val mvDir = Files.createTempDirectory("graft-mvd").toString + "/mv"
    val chkDir = Files.createTempDirectory("graft-mvd-chk").toString
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(ev.schema).parquet(inDir)
        .withColumn("_all", lit("all"))
      val q = IncrementalMv.startAgg(stream, "ts", "_all", "user_id",
        MvAgg.distinctSet, mvDir, chkDir, Trigger.AvailableNow())
      q.awaitTermination(120000); q.stop()
    }
    // the cut splits DAYS across batches (same-day events land in both
    // drips), so the set-union merge path genuinely exercises
    ev.filter(unix_timestamp(col("ts")) <= cutSec)
      .write.mode("append").parquet(inDir)
    runOnce()
    ev.filter(unix_timestamp(col("ts")) > cutSec)
      .write.mode("append").parquet(inDir)
    runOnce()
    val served = Growth.activeUsersFromMv(spark, mvDir).collect().toSeq
    val batch = Growth.activeUsers(ev, "user_id", "ts").collect().toSeq
    assert(served.nonEmpty)
    assert(served == batch,
      "MV-served DAU/WAU/MAU must equal the batch recompute")
  }

  test("growth MV restart soak (GRACEFUL): the distinct-set maintenance " +
    "runs under a LIVE ProcessingTime trigger, stops between deltas " +
    "with a committed checkpoint and recovers — incremental == " +
    "recompute (ST1/ST3 on the set state; the UNCLEAN mid-batch kill " +
    "is the separate test below)") {
    import graft.stream.MvAgg
    import graft.olap.Growth
    val ev = Tables(spark, TestSpark.sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("ts"), col("user_id"))
    // the cut splits DAYS across the kill: the post-restart delta must
    // MERGE into day partitions the pre-kill run already wrote
    val cutSec = ev.agg(percentile_approx(unix_timestamp(col("ts")),
      lit(0.5), lit(100))).head.getLong(0)
    val inDir = Files.createTempDirectory("graft-mvr-in").toString
    val mvDir = Files.createTempDirectory("graft-mvr").toString + "/mv"
    val chkDir = Files.createTempDirectory("graft-mvr-chk").toString
    def start() = {
      val stream = spark.readStream.schema(ev.schema).parquet(inDir)
        .withColumn("_all", lit("all"))
      IncrementalMv.startAgg(stream, "ts", "_all", "user_id",
        MvAgg.distinctSet, mvDir, chkDir,
        Trigger.ProcessingTime("500 milliseconds"))
    }
    ev.filter(unix_timestamp(col("ts")) <= cutSec)
      .write.mode("append").parquet(inDir)
    val q1 = start()
    q1.processAllAvailable()
    // graceful stop between deltas (checkpoint fully committed): the
    // set state lives only in MV+chk across the restart
    q1.stop()
    assert(spark.read.parquet(mvDir).count() > 0)

    ev.filter(unix_timestamp(col("ts")) > cutSec)
      .write.mode("append").parquet(inDir) // arrives while DOWN
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val served = Growth.activeUsersFromMv(spark, mvDir).collect().toSeq
    val batch = Growth.activeUsers(ev, "user_id", "ts").collect().toSeq
    assert(served.nonEmpty && served == batch,
      "MV recovered from a mid-day kill must serve the batch recompute")

    // a third restart with NOTHING new must be a no-op (checkpoint is
    // the progress source of truth; no marker-less re-merge fires)
    val q3 = start()
    q3.processAllAvailable()
    q3.stop()
    assert(Growth.activeUsersFromMv(spark, mvDir).collect().toSeq == batch)
  }

  test("restart soak parameterized over the SKETCH states (KMV / HLL / " +
    "A-Res / KLL): live trigger, graceful stop between deltas with days " +
    "split across the cut, recover — incremental == recompute per state") {
    import graft.stream.MvAgg
    val ev = Tables(spark, TestSpark.sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("ts"), col("user_id"))
    val cutSec = ev.agg(percentile_approx(unix_timestamp(col("ts")),
      lit(0.5), lit(100))).head.getLong(0)
    // the A-Res state needs a struct(id, w) value; the others fold the
    // raw user id — parameterize both the agg and its value column
    val aresVal = struct(col("user_id").as("id"), lit(1.0).as("w"))
    val hllLgK = 12 // one declaration feeds both the case and its band
    val cases: Seq[(MvAgg, String, org.apache.spark.sql.Column)] = Seq(
      (MvAgg.kmvDistinct(1024), "user_id", col("user_id")),
      (MvAgg.hllDistinct(hllLgK), "user_id", col("user_id")),
      (MvAgg.prioritySample(4), "_v", aresVal),
      // KLL in its exact regime (k far above any day's rows): the
      // quantile read of the recovered sketch must equal the
      // recompute bitwise — closes the one sketch state the r13 soak
      // left to the non-restart law battery
      (MvAgg.kll(spark, 8192, Seq(0.25, 0.5, 0.75)), "user_id",
        col("user_id")))
    for ((agg, valName, valCol) <- cases) {
      val inDir = Files.createTempDirectory(s"graft-soak-${agg.name}-in")
        .toString
      val mvDir = Files.createTempDirectory(s"graft-soak-${agg.name}")
        .toString + "/mv"
      val chkDir = Files.createTempDirectory(s"graft-soak-${agg.name}-chk")
        .toString
      def start() = {
        val stream = spark.readStream.schema(ev.schema).parquet(inDir)
          .withColumn("_all", lit("all"))
          .withColumn("_v", aresVal)
        IncrementalMv.startAgg(stream, "ts", "_all", valName, agg,
          mvDir, chkDir, Trigger.ProcessingTime("500 milliseconds"))
      }
      ev.filter(unix_timestamp(col("ts")) <= cutSec)
        .write.mode("append").parquet(inDir)
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      ev.filter(unix_timestamp(col("ts")) > cutSec)
        .write.mode("append").parquet(inDir) // arrives while DOWN
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      val got = IncrementalMv.readAgg(spark, mvDir, agg)
      // compare SERVED values, not raw state bytes; KMV and A-Res
      // merge laws are exact so equality is bitwise. HLL needs a
      // tolerance: a union-built sketch (composite estimator) and a
      // direct-built one (HIP) agree exactly only in the coupon
      // regime — today's fixture sits there, but the restart claim
      // must not silently depend on it, so HLL compares per-(day,key)
      // estimates within the 4-rsd band instead of exceptAll
      val want = ev
        .groupBy(to_date(col("ts")).as("day"), lit("all").as("key"))
        .agg(agg.delta(valCol).as("state"))
        .select(col("day"), col("key"), agg.finish(col("state")).as("value"))
      assert(got.count() > 0 && got.count() == want.count(), agg.name)
      if (agg.name.startsWith("hll")) {
        val pairs = got.as("g").join(want.as("w"), Seq("day", "key"))
          .select(col("g.value").cast("double"),
            col("w.value").cast("double")).collect()
        // the inner join must cover EVERY (day, key) — a dropped or
        // shifted day would otherwise vanish from the comparison
        assert(pairs.length == want.count(),
          s"${agg.name}: recovered MV keys do not cover the recompute")
        val rsd4 = 4 * 1.04 / math.sqrt(1 << hllLgK)
        assert(pairs.nonEmpty && pairs.forall(r =>
          math.abs(r.getDouble(0) - r.getDouble(1)) <=
            math.max(1.0, rsd4 * r.getDouble(1))),
          s"${agg.name}: recovered estimates outside the 4-rsd band")
      } else
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"${agg.name}: MV recovered across a restart must serve the " +
            "batch recompute")
    }
  }

  test("UNCLEAN restart: the maintenance query is stopped WITHOUT " +
    "draining (mid-batch kill window) and recovery replays the delta " +
    "idempotently — the staging/marker ledger's at-least-once claim") {
    import graft.stream.MvAgg
    val ev = Tables(spark, TestSpark.sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("ts"), col("user_id"))
    val inDir = Files.createTempDirectory("graft-unclean-in").toString
    val mvDir = Files.createTempDirectory("graft-unclean").toString + "/mv"
    val chkDir = Files.createTempDirectory("graft-unclean-chk").toString
    def start(trigger: Trigger) = {
      val stream = spark.readStream.schema(ev.schema).parquet(inDir)
        .withColumn("_all", lit("all"))
      IncrementalMv.startAgg(stream, "ts", "_all", "user_id",
        MvAgg.distinctSet, mvDir, chkDir, trigger)
    }
    ev.write.mode("append").parquet(inDir)
    // stop WITHOUT processAllAvailable: depending on timing the kill
    // lands before, inside, or after the first micro-batch's
    // merge/install/commit phases — every landing must converge after
    // recovery (an interrupted install replays off the _SUCCESS-
    // complete staging snapshot; an uncommitted batch id re-applies;
    // a committed one no-ops on its marker)
    val q1 = start(Trigger.ProcessingTime("100 milliseconds"))
    Thread.sleep(400)
    q1.stop()
    val q2 = start(Trigger.ProcessingTime("100 milliseconds"))
    q2.processAllAvailable()
    q2.stop()
    val served = graft.olap.Growth.activeUsersFromMv(spark, mvDir)
      .collect().toSeq
    val batch = graft.olap.Growth.activeUsers(ev, "user_id", "ts")
      .collect().toSeq
    assert(served.nonEmpty && served == batch,
      "MV recovered from an undrained stop must serve the batch recompute")
  }

  test("readKllQuantiles: the ranged read over a maintained KLL MV " +
    "equals exact percentile / rank-selection over exactly the " +
    "in-range rows (exact regime), under both read conventions, " +
    "with days split across deltas") {
    import graft.stream.MvAgg
    // 5 days x 20 rows, values chosen so day slices have distinct
    // quantiles; two deltas split rows across days (merge law live)
    val rows = for (d <- 1 to 5; i <- 1 to 20)
      yield (d.toLong * 100 + i, ts(f"2024-01-$d%02d 08:00:00"),
        (d * 31 + i * 7 % 13).toDouble)
    val ev = rows.toDF("id", "ts", "v").withColumn("_all", lit("all"))
    val mvDir = Files.createTempDirectory("graft-kllq").toString + "/mv"
    val k = 1024
    val qs = Seq(0.1, 0.5, 0.9)
    Seq(0, 1).foreach(m => IncrementalMv.applyAggDelta(
      ev.filter(pmod(col("id"), lit(2)) === m), m, mvDir, "ts", "_all",
      col("v"), MvAgg.kll(spark, k, qs)))
    val slice = ev.filter(col("ts").cast("date").between(
      lit("2024-01-02"), lit("2024-01-04")))
    // continuous convention == exact percentile over the slice
    val cont = IncrementalMv.readKllQuantiles(spark, mvDir, k, qs,
        range = Some(("2024-01-02", "2024-01-04")))
      .orderBy("qi").collect().map(_.getDouble(2)).toSeq
    val exactCont = slice.agg(percentile(col("v"),
        typedLit(qs)).as("p")).head.getSeq[Double](0)
    assert(cont == exactCont,
      s"interpolating ranged read $cont != exact percentile $exactCont")
    // rank convention == the rank-ceil(q*n) order statistic
    val rank = IncrementalMv.readKllQuantiles(spark, mvDir, k, qs,
        range = Some(("2024-01-02", "2024-01-04")), interpolate = false)
      .orderBy("qi").collect().map(_.getDouble(2)).toSeq
    val vs = slice.select("v").orderBy("v").collect().map(_.getDouble(0))
    val exactRank = qs.map(q => vs(
      math.max(1, math.ceil(q * vs.length).toInt) - 1))
    assert(rank == exactRank,
      s"rank ranged read $rank != order statistics $exactRank")
    // an unranged read covers every day; a bad range fails loudly
    assert(IncrementalMv.readKllQuantiles(spark, mvDir, k, qs)
      .count() == qs.size)
    intercept[IllegalArgumentException] {
      IncrementalMv.readKllQuantiles(spark, mvDir, k, qs,
        range = Some(("2024-01-04", "2024-01-02")))
    }
  }

  test("deterministic crash landings: a fail-once fault at pre-stage / " +
    "post-stage / post-install each replays to incremental == recompute " +
    "— the ledger's at-least-once claim pinned per landing, not by a " +
    "timing lottery") {
    import graft.stream.MvAgg
    import org.apache.hadoop.fs.Path
    val ev = Tables(spark, TestSpark.sf, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("ts"), col("user_id")).withColumn("_all", lit("all"))
    def chunk(m: Int) = ev.filter(pmod(col("user_id"), lit(2)) === m)
    val batch = graft.olap.Growth.activeUsers(ev, "user_id", "ts")
      .collect().toSeq
    def apply1(mvDir: String, id: Long, m: Int): Unit =
      IncrementalMv.applyAggDelta(chunk(m), id, mvDir, "ts", "_all",
        col("user_id"), MvAgg.distinctSet)
    def serve(mvDir: String) =
      graft.olap.Growth.activeUsersFromMv(spark, mvDir).collect().toSeq

    Seq("pre-stage", "post-stage", "post-install").foreach { landing =>
      val mvDir = Files.createTempDirectory(s"graft-fault").toString + "/mv"
      apply1(mvDir, 0, 0) // batch 0 applies cleanly
      val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
      graft.warehouse.Commit.faultHook.set(p =>
        if (p == s"IncrementalMv.$landing" && armed.getAndSet(false))
          throw new RuntimeException(s"injected fault at $landing"))
      try {
        val e = intercept[RuntimeException](apply1(mvDir, 1, 1))
        assert(e.getMessage.contains(landing))
        // on-disk ledger state each landing must leave behind — what
        // the replay's branch decisions key on
        val fs = new Path(mvDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val stagedOk = new Path(s"$mvDir/_graft_staging/1/_SUCCESS")
        val marker = new Path(s"$mvDir/_graft_commits/1")
        assert(!fs.exists(marker),
          s"$landing: the batch marker must not exist before commit")
        if (landing == "pre-stage")
          assert(!fs.exists(stagedOk),
            "pre-stage: staging must not be _SUCCESS-complete — the " +
              "replay has to RECOMPUTE the merge")
        else
          assert(fs.exists(stagedOk),
            s"$landing: staging must be _SUCCESS-complete — the " +
              "replay has to SKIP the merge and (re)install")
        // the two staged landings differ by whether the install
        // already happened: after post-install the serve ALREADY
        // equals the recompute; after post-stage it must not yet
        // (batch 1's delta is staged but not visible)
        if (landing == "post-install")
          assert(serve(mvDir) == batch,
            "post-install: the MV is installed before the crash")
        else
          assert(serve(mvDir) != batch,
            s"$landing: batch 1 must not be visible before the replay")
        // the at-least-once replay: converge to the batch recompute
        apply1(mvDir, 1, 1)
        assert(fs.exists(marker), s"$landing: replay must commit")
        assert(serve(mvDir) == batch,
          s"$landing: replayed MV must serve the batch recompute")
        // and a SECOND replay of the committed id is a marker no-op
        apply1(mvDir, 1, 1)
        assert(serve(mvDir) == batch,
          s"$landing: a replay of a committed batch must be a no-op")
      } finally graft.warehouse.Commit.faultHook.set(_ => ())
    }
  }

  test("generalized MvAgg MVs: incremental maintenance == recompute for " +
    "sum/min/KLL, and a replayed batch id is a no-op for every agg") {
    import graft.stream.MvAgg
    val ev = Tables(spark, TestSpark.sf, "events")
    def chunk(m: Int) = ev.filter(pmod(col("event_id"), lit(3)) === m)
    // integer cents for the SUM case: exact-integer doubles make the
    // state independent of addition order (raw-double sums would differ
    // in the last ulp between the chunked and one-shot groupings)
    val cents = round(col("value") * 100)

    def maintain(agg: MvAgg): String = {
      val mvDir = Files.createTempDirectory(s"graft-mv-${agg.name}")
        .toString + "/mv"
      (0 until 3).foreach(m => IncrementalMv.applyAggDelta(
        chunk(m), m, mvDir, "ts", "event_type", cents, agg))
      // replay the LAST batch id — at-least-once delivery — must no-op
      IncrementalMv.applyAggDelta(
        chunk(2), 2, mvDir, "ts", "event_type", cents, agg)
      mvDir
    }

    def recompute(agg: MvAgg) = ev
      .groupBy(to_date(col("ts")).as("day"),
        col("event_type").cast("string").as("key"))
      .agg(agg.delta(cents).as("state"))
      .select(col("day"), col("key"), agg.finish(col("state")).as("value"))

    // prioritySample needs a struct(id, w) value — run it through the
    // same harness with its own value column (merge law is exact:
    // top-k of a union of top-k's is top-k of the union)
    val aresAgg = MvAgg.prioritySample(4)
    val aresVal = struct(col("event_id").as("id"), cents.as("w"))
    val aresDir = Files.createTempDirectory("graft-mv-ares").toString + "/mv"
    (0 until 3).foreach(m => IncrementalMv.applyAggDelta(
      chunk(m), m, aresDir, "ts", "event_type", aresVal, aresAgg))
    IncrementalMv.applyAggDelta( // replay no-op
      chunk(2), 2, aresDir, "ts", "event_type", aresVal, aresAgg)
    val aresGot = IncrementalMv.readAgg(spark, aresDir, aresAgg)
    val aresWant = ev
      .groupBy(to_date(col("ts")).as("day"),
        col("event_type").cast("string").as("key"))
      .agg(aresAgg.delta(aresVal).as("state"))
      .select(col("day"), col("key"),
        aresAgg.finish(col("state")).as("value"))
    assert(aresGot.count() > 0 && aresGot.count() == aresWant.count())
    assert(aresGot.exceptAll(aresWant).isEmpty &&
      aresWant.exceptAll(aresGot).isEmpty,
      "incrementally maintained A-Res sample must equal recompute")

    // hllDistinct's served estimate is a register-set function of the
    // input values (union = slot-wise max), so exceptAll on the
    // estimates passes regardless of batch slicing
    for (agg <- Seq(MvAgg.sumOf, MvAgg.minOf, MvAgg.avgOf,
        MvAgg.kll(spark, k = 4096, qs = Seq(0.25, 0.5, 0.9)),
        MvAgg.kmvDistinct(1024), MvAgg.hllDistinct(12))) {
      val got = IncrementalMv.readAgg(spark, maintain(agg), agg)
      val want = recompute(agg)
      assert(got.count() > 0 && got.count() == want.count(), agg.name)
      // KLL value is array<double>; sum/min are doubles — exceptAll
      // compares both shapes exactly (exact regime for KLL: k=4096 ≥
      // every per-(day, key) group, so the ladders hold all values and
      // the resolved quantiles are bit-identical)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"${agg.name}: incrementally maintained MV must equal recompute")
    }
  }

  test("compact refuses partitioned directories (flatten hazard)") {
    val dir = Files.createTempDirectory("graft-compact-part").toString + "/t"
    Seq((1, "a"), (2, "b")).toDF("v", "k")
      .write.partitionBy("k").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Compaction.compact(spark, dir, targetBytes = 1L << 20)
    }
    assert(e.getMessage.contains("flat table directories"))
  }

  test("compaction shrinks the file count and preserves the data") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    val ev = Tables(spark, TestSpark.sf, "events")
    ev.repartition(40).write.parquet(dir)
    val beforeFiles = spark.read.parquet(dir).inputFiles.length
    val beforeCount = spark.read.parquet(dir).count()
    assert(beforeFiles >= 40)

    val total = Compaction.dataBytes(spark, dir)
    val n = Compaction.compact(spark, dir, targetBytes = total / 4)
    val after = spark.read.parquet(dir)
    assert(after.inputFiles.length == n && n <= 6,
      s"expected ~5 files, got ${after.inputFiles.length}")
    assert(after.count() == beforeCount)
    assert(after.exceptAll(ev).isEmpty && ev.exceptAll(after).isEmpty)
  }
}
