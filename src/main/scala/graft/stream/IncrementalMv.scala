package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.warehouse.Commit

/** A mergeable aggregate the MV maintenance loop can keep incrementally
  * fresh: `delta` turns raw micro-batch rows into one per-group STATE
  * value (an aggregate Column), `merge` folds states (existing ∪ delta
  * — also an aggregate Column), `finish` presents a state at read time
  * (scalar Column, identity for plain aggregates).
  *
  * Laws the maintenance loop relies on (spec-pinned in
  * MaintenanceSpec): `merge(delta(A), delta(B)) == delta(A ∪ B)` —
  * incremental maintenance equals recompute — and merge is
  * associative + commutative, so any batch arrival order converges.
  * count/sum/min/max satisfy them exactly; sketch states (KLL here,
  * KMV/CMS/HLL by the same pattern) satisfy them up to their
  * documented estimation band, exactly in the exact regime. */
final case class MvAgg(
    name: String,
    delta: Column => Column,
    merge: Column => Column,
    finish: Column => Column)

object MvAgg {
  /** COUNT(*) per group — the value column is ignored. */
  val rowCount: MvAgg =
    MvAgg("count", _ => count(lit(1)), s => sum(s), identity)

  /** SUM(value) per group (double state). */
  val sumOf: MvAgg =
    MvAgg("sum", v => sum(v.cast("double")), s => sum(s), identity)

  /** MIN(value) per group — merge is min of mins. */
  val minOf: MvAgg =
    MvAgg("min", v => min(v.cast("double")), s => min(s), identity)

  /** MAX(value) per group — merge is max of maxes. */
  val maxOf: MvAgg =
    MvAgg("max", v => max(v.cast("double")), s => max(s), identity)

  /** AVG(value) per group — the canonical "average is NOT mergeable,
    * its (sum, n) STATE is" example: the stored state is
    * `struct(sum, n)`, merge adds componentwise, `finish` divides at
    * read time. */
  val avgOf: MvAgg = MvAgg("avg",
    v => struct(sum(v.cast("double")).as("sum"),
      count(v.cast("double")).as("n")),
    s => struct(sum(s.getField("sum")).as("sum"),
      sum(s.getField("n")).as("n")),
    s => when(s.getField("n") > 0,
      s.getField("sum") / s.getField("n").cast("double")))

  /** KLL quantile sketch per group: the state is the SERIALIZED sketch
    * (binary), merged distributedly by `graft_kll_merge`; `finish`
    * resolves the requested quantiles at read time. The ClickHouse
    * `-State`/`-Merge` combinator shape (reference DDL:236-439 keeps
    * such rollups engine-side) expressed as Catalyst aggregates. */
  def kll(spark: SparkSession, k: Int, qs: Seq[Double]): MvAgg = {
    import graft.functions.GraftFunctions
    MvAgg(s"kll$k",
      v => GraftFunctions.kllSketch(spark, v.cast("double"), k),
      s => GraftFunctions.kllMerge(spark, s, k),
      s => GraftFunctions.kllValues(spark, s, k, qs))
  }

  /** KMV distinct-count sketch per group (`array<long>` state: the ≤ k
    * smallest distinct 60-bit hashes, ascending — `Sketches.kmvHash`'s
    * portable derivation). The merge law is EXACT (bottom-k of a union
    * of bottom-k's == bottom-k of the union), so incremental == full
    * recompute holds bit-for-bit, and below saturation (distinct < k)
    * the state IS the distinct set — `finish` then returns the exact
    * count, which is what lets an MV of this agg be value-oracled
    * against COUNT(DISTINCT). State note: the delta's `collect_set`
    * holds one micro-batch × one (day, key) group's distinct hashes
    * before the cut — bounded by the micro-batch, the same trade as
    * any partial aggregate; the PERSISTED state is always ≤ k longs. */
  def kmvDistinct(k: Int, salt: String = "mv-kmv"): MvAgg = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    MvAgg(s"kmv$k",
      v => slice(sort_array(collect_set(
        when(v.isNotNull, graft.ext.Sketches.kmvHash(v, salt)))), 1, k),
      s => slice(sort_array(array_distinct(flatten(collect_list(s)))), 1, k),
      s => graft.ext.Sketches.kmvEstimateCol(s, k))
  }

  /** HLL distinct-count sketch per group (Apache DataSketches HLL via
    * Spark's native `hll_sketch_agg`/`hll_union_agg` — binary state):
    * the DENSEST of the three distinct states — CONSTANT ~2^lgK bytes
    * once promoted, vs [[kmvDistinct]]'s k longs and [[distinctSet]]'s
    * true set. Merge is the DataSketches union — slot-wise register
    * max, so the merged REGISTERS (and therefore the estimate) are a
    * set-function of the inputs: incremental == recompute for the
    * served value under any batch order. Estimates carry the published
    * rsd ≈ 1.04/√(2^lgK); below the coupon-promotion threshold the
    * sketch stores values exactly and the estimate is the exact count.
    * UNLIKE [[kmvDistinct]] the register layout is engine-internal
    * (not DuckDB-replayable), so this state is spec-gated, never
    * value-oracled — the cross-engine-deterministic family stays KMV;
    * this is the production-scale densest option. */
  def hllDistinct(lgK: Int = 12): MvAgg = {
    require(lgK >= 4 && lgK <= 21, s"HLL needs 4 <= lgK <= 21, got $lgK")
    MvAgg(s"hll$lgK",
      v => hll_sketch_agg(v.cast("string"), lgK),
      s => hll_union_agg(s, allowDifferentLgConfigK = false),
      s => hll_sketch_estimate(s))
  }

  /** Exact distinct-VALUE set per group (sorted-array state) — the
    * growth-accounting MV state: per (day, key) the exact set of
    * active users, merged by set union (associative, commutative AND
    * idempotent, so incremental == recompute bit-for-bit under any
    * batch arrival order and even under overlapping deltas). `finish`
    * is the set itself: serving explodes it into the (user, day)
    * activity frame [[graft.olap.Growth.activeUsersFromUserDay]]
    * consumes, which is what makes DAU/WAU/MAU an O(delta) update —
    * a micro-batch touches only its days' sets, and the trailing-
    * window union happens at read time over the day-sized MV, never
    * over event history. Null values drop (collect_set semantics —
    * the activeUsers null-user contract). State size is the group's
    * TRUE distinct count: the exact regime (per-day per-key user
    * sets); when that outgrows a state row, [[kmvDistinct]] (≤ k
    * longs, cross-engine-oracled — x171) or [[hllDistinct]] (constant
    * ~2^lgK bytes, densest) swap into the same loop, trading exactness
    * for bounds — both executed and spec-gated. */
  val distinctSet: MvAgg = MvAgg("dset",
    v => sort_array(collect_set(v)),
    s => sort_array(array_distinct(flatten(collect_list(s)))),
    identity)

  /** Incrementally-maintained deterministic weighted sample per group —
    * A-Res (x97's `Sampling.prioritySample`) as an MV state: the value
    * column must be `struct(id, w)`; each row's priority is the x97
    * arithmetic (round(ln(u(id)) / w, 9), u from the salted sha256 of
    * the id — portable, RNG-free), and the state is the top-k
    * `(np = -priority, id)` pairs ascending (= priority DESC, id ASC
    * ties). Top-k of a union of top-k's IS top-k of the union, so the
    * merge law is exact and incremental == recompute bit-for-bit — a
    * per-stratum training sample that stays fresh under streaming
    * ingest without ever rescanning history. Null ids and null/≤0
    * weights drop (the x97 contract). */
  def prioritySample(k: Int, salt: String = "mv-ares"): MvAgg = {
    require(k > 0, s"k must be positive, got $k")
    val space = 281474976710656.0 // 2^48, the x97 hash space
    def item(v: Column): Column = {
      val id = v.getField("id")
      val w = v.getField("w").cast("double")
      val h = conv(substring(sha2(
        concat_ws(":", lit(salt), id.cast("string")), 256), 1, 12),
        16, 10).cast("long")
      val pr = round(log((h + 1).cast("double") / lit(space)) / w, 9)
      when(id.isNotNull && w.isNotNull && w > 0,
        struct((-pr).as("np"), id.as("id")))
    }
    MvAgg(s"ares$k",
      v => slice(sort_array(collect_list(item(v))), 1, k),
      s => slice(sort_array(flatten(collect_list(s))), 1, k),
      identity)
  }
}

/** Incrementally-maintained aggregate table (materialized view) over a
  * stream — the reference keeps its per-day rollups as engine-side
  * materialized views; this is the Spark-native maintenance loop:
  * `foreachBatch` merges each micro-batch's delta into ONLY the day
  * partitions that batch touched, by moving staged day directories in.
  * Parameterized over any [[MvAgg]] (count/sum/min/max natively, KLL
  * and other mergeable sketch states through their binary form), so a
  * ClickHouse-MV-style ingest rollup can maintain any mergeable
  * aggregate with the same staged-commit idempotence.
  *
  * Correctness under failure: `foreachBatch` is at-least-once — after a
  * crash the last batch replays. A replayed merge would double-count, so
  * each applied batch writes a commit marker
  * (`<mv>/_graft_commits/<batchId>`, a [[Commit.Ledger]]) and a replay
  * with an existing marker is skipped — exactly-once EFFECT on top of
  * at-least-once delivery, the same ledger trick as any idempotent sink.
  *
  * Scale shape: the delta aggregate is one shuffle of the micro-batch
  * (small); the read-back touches only the affected day partitions
  * (partition-pruned scan of the MV, not the fact history); the rewrite
  * replaces only those partitions. A day's full recompute never happens
  * — which is the point of maintaining the MV incrementally.
  */
object IncrementalMv {

  /** Merge one micro-batch of raw events into the MV (schema: day DATE
    * partition, key STRING, state — the [[MvAgg]]'s state type).
    * Idempotent per `batchId` through a write-ahead staging snapshot:
    *
    *  1. MERGE: compute merge(existing(touched days) ∪ delta) into a
    *     day-partitioned staging dir (parquet commit protocol marks
    *     completion with _SUCCESS); the MV itself is untouched, so a
    *     crash here just recomputes.
    *  2. INSTALL: move each staged day partition into the MV with a
    *     directory rename (the staging layout IS the MV layout).
    *     Re-installing the SAME staged snapshot is
    *     idempotent, so a crash mid-install (or after install, before
    *     the marker) replays safely — the replay skips the merge (stage
    *     already _SUCCESS-complete, and re-merging from a half-installed
    *     MV would double-count) and re-installs.
    *  3. COMMIT: write the batch marker, prune older markers (only the
    *     latest batch can ever replay — the streaming checkpoint is the
    *     source of truth for progress), drop the staging dir.
    *
    * The landings between the steps are the fault points
    * `IncrementalMv.pre-stage` (delta computed, staging incomplete),
    * `.post-stage` (staging complete, MV not installed) and
    * `.post-install` (installed, no marker) of [[Commit.FaultPoints]].
    *
    * PRECONDITION — deterministic `batch`: the touched-day set is
    * derived from a second scan of `batch` (column-pruned to `tsCol`)
    * while the delta aggregate is computed inside the staged write; the
    * two scans must see the same rows, or a day present in the delta
    * but absent from `touched` would stage delta-only and rename over
    * the MV's accumulated state for that day. Streaming micro-batches
    * (the [[startAgg]] path) replay a fixed offset range and satisfy
    * this by construction; ad-hoc callers must pass a deterministic
    * frame (no `rand()`, no LIMIT-without-order, no re-read of mutable
    * input).
    */
  def applyAggDelta(batch: DataFrame, batchId: Long, mvPath: String,
                    tsCol: String, keyCol: String, valueCol: Column,
                    agg: MvAgg, stateCol: String = "state"): Unit = {
    val spark = batch.sparkSession
    // sketch-state aggs resolve graft_* by NAME; a streaming micro-batch
    // runs on a cloned session whose registry may predate the caller's
    // lazy registration — re-register here (idempotent) so any MvAgg
    // Column resolves in whichever session executes the merge
    graft.functions.GraftFunctions.register(spark)
    val fs = new Path(mvPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = mvPath.stripSuffix("/")
    val ledger = Commit.Ledger(fs, new Path(s"$root/_graft_commits"))
    if (ledger.has(batchId)) return // replayed batch: already applied
    val staged = new Path(s"$root/_graft_staging/$batchId")

    if (!Commit.complete(fs, staged)) {
      // phase 1 — merge into staging (MV untouched). The delta
      // aggregate is computed inside the staged write itself, not
      // persisted for a separate job over the full-width batch; the
      // touched-days collect exists ONLY to partition-prune the
      // existing-MV read, so when the MV has no day partitions yet
      // (every first batch) it is skipped outright — an empty batch
      // then stages zero day dirs, the install no-ops and the marker
      // commits, the same final state the early return produces.
      val hasMv = fs.exists(new Path(mvPath)) &&
        fs.listStatus(new Path(mvPath)).exists(s =>
          s.getPath.getName.startsWith("day="))
      val delta = batch
        .groupBy(to_date(col(tsCol)).as("day"),
          col(keyCol).cast("string").as("key"))
        .agg(agg.delta(valueCol).as(stateCol))
      val existing =
        if (hasMv) {
          // touched days from a column-pruned scan of the BATCH (the
          // delta's day set IS the batch's distinct day set — groupBy
          // can't mint or drop a day)
          val touched = batch.select(to_date(col(tsCol)).as("day"))
            .distinct().collect().map(_.getDate(0))
          if (touched.isEmpty) { ledger.mark(batchId); return }
          spark.read.parquet(mvPath)
            .filter(col("day").isin(touched.map(d => lit(d)): _*))
        } else delta.limit(0)
      Commit.fault("IncrementalMv.pre-stage")
      // repartition by day BEFORE the merge aggregate: hash(day) is a
      // valid clustering for groupBy(day, key) (a subset of the group
      // keys), so the merge runs on that one exchange AND each staged
      // day partition lands as one file (a task holds whole days) —
      // the serving-scan layout the partition pruning expects. The
      // staged snapshot is written day-PARTITIONED: the staging layout
      // IS the MV layout, which is what lets the install below be a
      // per-directory copy instead of a third Spark job.
      existing.select(col("day"), col("key").cast("string").as("key"),
          col(stateCol))
        .unionByName(delta)
        .repartition(col("day"))
        .groupBy(col("day"), col("key"))
        .agg(agg.merge(col(stateCol)).as(stateCol))
        .write.mode("overwrite").partitionBy("day").parquet(staged.toString)
    }
    Commit.fault("IncrementalMv.post-stage")

    // phase 2 — install the staged snapshot (idempotent re-run): for
    // each staged day partition, drop the MV's version of that day and
    // RENAME the staged directory in — O(touched days) metadata ops,
    // replacing the previous read-back + dynamic-partition-overwrite
    // Spark job (measured ~0.6 s/batch of pure job+commit overhead at
    // bench scale). Moving children out of staging is replay-safe
    // without copying: a day dir is either still in staging (replay
    // re-installs it) or already renamed into the MV (its final state
    // — a replay's listing no longer sees it), and a crash between the
    // delete and the rename replays to the same delete+rename. The
    // _SUCCESS sentinel stays in staging until phase 3, so a replay
    // still skips the merge. Untouched day partitions are never listed
    // or rewritten, exactly as before.
    fs.mkdirs(new Path(mvPath))
    fs.listStatus(staged)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
      .foreach { st =>
        // checked: a silent false would lose the day's data permanently
        // once phase 3 prunes staging; failing before the marker commits
        // keeps the batch replayable
        val target = new Path(mvPath, st.getPath.getName)
        Commit.delete(fs, target)
        Commit.move(fs, st.getPath, target)
      }

    // phase 3 — commit + prune (ledger stays O(1), not one file/batch)
    Commit.fault("IncrementalMv.post-install")
    ledger.mark(batchId)
    ledger.pruneExcept(batchId)
    // the whole staging root is stale once this batch committed (only
    // the latest batch can replay) — drop it, including any leftovers
    // from a batch that crashed after its marker
    Commit.delete(fs, staged.getParent)
  }

  /** The original daily-count MV (schema: day, key, n) — now the
    * [[MvAgg.rowCount]] instance of the general loop. */
  def applyDailyCountsDelta(batch: DataFrame, batchId: Long, mvPath: String,
                            tsCol: String, keyCol: String): Unit =
    applyAggDelta(batch, batchId, mvPath, tsCol, keyCol, lit(1),
      MvAgg.rowCount, stateCol = "n")

  /** Start a maintenance query keeping one [[MvAgg]] MV current from
    * the stream. */
  def startAgg(events: DataFrame, tsCol: String, keyCol: String,
               valueCol: String, agg: MvAgg, mvPath: String, chkDir: String,
               trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : StreamingQuery =
    events.writeStream
      .queryName(s"graft-mv-${agg.name}")
      .option("checkpointLocation", chkDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyAggDelta(batch, id, mvPath, tsCol, keyCol, col(valueCol), agg)
      }
      .start()

  /** Start the maintenance query: one daily-count MV kept current from
    * the stream. */
  def startDailyCounts(events: DataFrame, tsCol: String, keyCol: String,
                       mvPath: String, chkDir: String,
                       trigger: Trigger = Trigger.ProcessingTime("5 seconds"))
      : StreamingQuery =
    events.writeStream
      .queryName("graft-mv-daily-counts")
      .option("checkpointLocation", chkDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        applyDailyCountsDelta(batch, id, mvPath, tsCol, keyCol)
      }
      .start()

  /** Read an [[MvAgg]] MV for serving: `(day, key, value)` with the
    * aggregate's `finish` applied to the stored state. */
  def readAgg(spark: SparkSession, mvPath: String, agg: MvAgg,
              stateCol: String = "state"): DataFrame =
    spark.read.parquet(mvPath).select(col("day"), col("key"),
      agg.finish(col(stateCol)).as("value"))

  /** Read the daily-count MV (for assertions/serving). */
  def read(spark: SparkSession, mvPath: String): DataFrame =
    spark.read.parquet(mvPath).select(col("day"), col("key"), col("n"))

  /** Day-ranged quantile dashboard read over a maintained KLL MV
    * ([[MvAgg.kll]] states): the scan partition-PRUNES to the
    * inclusive `range` days (the MV is day-partitioned parquet, so
    * the filter lands in PartitionFilters — PlanSpec-gated, the x175
    * prune applied to the quantile serve), the surviving day sketches
    * fold per key with `graft_kll_merge` (the mergeable-state law —
    * quantiles themselves don't slice by day, their SKETCHES do), and
    * one read resolves every requested quantile: `interpolate = true`
    * (default) is `percentile`'s continuous convention
    * (`graft_kll_values_cont`, the x176 oracle's spelling —
    * bit-identical to exact `percentile`/DuckDB `quantile_cont` while
    * the range's rows fit the sketch), `false` the rank-⌈q·n⌉ read.
    * Work is manifest-shaped: |range days × keys| sketch blobs, never
    * an event-history rescan — the reference keeps this serve as an
    * engine-side MV over the raw log (DDL:236-439); here the state is
    * the sketch, so the dashboard read is O(days × k) at ANY event
    * volume.
    *
    * Output: `(key, qi, value)` — `qi` is the 0-based index into
    * `qs`, one row per (key, quantile). */
  def readKllQuantiles(spark: SparkSession, mvPath: String, k: Int,
                       qs: Seq[Double],
                       range: Option[(String, String)] = None,
                       interpolate: Boolean = true): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    graft.Guards.validDayRange(range)
    import graft.functions.GraftFunctions
    val mv = spark.read.parquet(mvPath)
    val pruned = range.fold(mv) { case (start, end) =>
      mv.filter(col("day") >= lit(start).cast("date") &&
        col("day") <= lit(end).cast("date"))
    }
    val read: Column => Column =
      if (interpolate) st => GraftFunctions.kllValuesCont(spark, st, k, qs)
      else st => GraftFunctions.kllValues(spark, st, k, qs)
    pruned.groupBy(col("key"))
      .agg(GraftFunctions.kllMerge(spark, col("state"), k).as("_st"))
      .select(col("key"), posexplode(read(col("_st"))).as(Seq("qi", "value")))
      .select(col("key"), col("qi").cast("bigint").as("qi"), col("value"))
  }
}
