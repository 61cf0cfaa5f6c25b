package graft.olap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Funnel and cohort-retention analytics — the ClickHouse
  * `windowFunnel` / `retention` aggregate family re-expressed as
  * relational programs (cf. the reference family's event-funnel
  * dashboards; ClickHouse docs `windowFunnel`, `retention`).
  *
  * Both are exact-integer computations over event timestamps, so every
  * output is engine-deterministic without rounding tricks; both reduce
  * to per-user aggregates that combine map-side — no windows over the
  * raw event stream, no state proportional to history.
  */
object Funnel {

  /** Earliest-anchor greedy funnel: for each user, the number of
    * `steps` completed in order, where the chain anchors at the
    * user's EARLIEST step-1 event and each subsequent step is the
    * earliest event of its type that is strictly after the previous
    * step and within `windowSec` of the anchor.
    *
    * This is the deterministic, SQL-replicable member of the funnel
    * family: ClickHouse's `windowFunnel` scans all candidate anchors
    * (a longest-chain search), which can count one step more on
    * adversarial timelines; the earliest-anchor rule is what its docs
    * recommend reading it as, and makes the result a pure function of
    * the event set (spec + oracle checkable). Documented divergence.
    *
    * Scale shape: one grouped min-aggregate per step (k tiny
    * aggregates, each map-side combined, joined on user_id — the
    * step-k frame is |users| rows); the event table is scanned once
    * per step with the step's type filter pushed down.
    *
    * Returns `(user_id, t1, steps_completed)` for users with at least
    * step 1; `t1` is the anchor in epoch seconds. */
  def windowFunnel(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, steps: Seq[String],
                   windowSec: Long): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val base = events.select(col(userCol).as("user_id"),
      unix_timestamp(col(tsCol)).as("t"), col(typeCol).as("et"))
    var frame = base.filter(col("et") === steps.head)
      .groupBy(col("user_id")).agg(min(col("t")).as("t1"))
      .withColumn("prev_t", col("t1"))
      .withColumn("steps_completed", lit(1L))
    steps.tail.zipWithIndex.foreach { case (step, i) =>
      val expect = i + 1 // only users who completed every prior step advance
      val nxt = base.filter(col("et") === step)
        .select(col("user_id"), col("t").as("t_step"))
      frame = frame
        .join(nxt, Seq("user_id"), "left")
        // null out non-qualifying candidates instead of filtering rows:
        // a user whose candidates ALL miss the window must survive with
        // steps_completed unchanged, and a user who failed an EARLIER
        // step must never advance on a later one
        .withColumn("t_ok",
          when(col("steps_completed") === expect &&
            col("t_step") > col("prev_t") &&
            col("t_step") <= col("t1") + windowSec, col("t_step")))
        .groupBy(col("user_id"), col("t1"), col("prev_t"), col("steps_completed"))
        .agg(min(col("t_ok")).as("t_next"))
        .withColumn("steps_completed",
          when(col("t_next").isNotNull, col("steps_completed") + 1)
            .otherwise(col("steps_completed")))
        .withColumn("prev_t", coalesce(col("t_next"), col("prev_t")))
        .drop("t_next")
    }
    frame.select(col("user_id"), col("t1"), col("steps_completed"))
  }

  /** Cohort retention: users grouped by the period of their FIRST
    * event (`periodSec`-wide buckets on the epoch axis), then for each
    * offset 0..maxOffset the count of cohort members active in
    * cohort_period + offset. Counts and the retained percentage are
    * integer-exact ratios.
    *
    * Returns `(cohort, offset, n_active, cohort_size, pct)` with
    * `cohort` the epoch-second start of the cohort period. */
  def retention(events: DataFrame, userCol: String, tsCol: String,
                periodSec: Long, maxOffset: Int): DataFrame = {
    require(periodSec > 0 && maxOffset >= 0)
    // floor division, NOT truncate-toward-zero: Spark's `/` on longs is
    // double division and a bare cast truncates, which buckets negative
    // (pre-1970) epochs one period too late vs the floor-div (`//`)
    // semantics the SQL oracle uses. floor() makes both engines agree
    // on the whole epoch axis.
    val base = events.select(col(userCol).as("user_id"),
      floor(unix_timestamp(col(tsCol)).cast("long") / periodSec).cast("long")
        .as("period"))
    val firsts = base.groupBy(col("user_id")).agg(min(col("period")).as("cohort_p"))
    val sizes = firsts.groupBy(col("cohort_p"))
      .agg(count(lit(1)).as("cohort_size"))
    val active = base.distinct()
      .join(firsts, "user_id")
      .withColumn("offset", (col("period") - col("cohort_p")).cast("int"))
      .filter(col("offset") >= 0 && col("offset") <= maxOffset)
      .groupBy(col("cohort_p"), col("offset"))
      .agg(count(lit(1)).as("n_active"))
    active.join(sizes, "cohort_p")
      .select(
        (col("cohort_p") * periodSec).as("cohort"),
        col("offset").cast("bigint").as("offset"),
        col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size") * 100, 4)
          .as("pct"))
  }

  /** Top user paths: the most common first-`maxSteps` event sequences
    * (the sankey/"how do users start" report next to [[windowFunnel]]'s
    * fixed funnel and the transition matrix's one-step view).
    *
    * The per-user first-k selection is the `row_number() ≤ k` idiom on
    * the (ts, id)-totalized order, which Spark plans with a partial
    * `WindowGroupLimit` (map tasks ship ≤ k rows per user) ahead of
    * the per-user window sort. Path assembly folds the ≤ k
    * steps in rank order; the final cut is a deterministic
    * (n_users DESC, path) top-K.
    *
    * Output: `(path, n_steps, n_users)`. */
  def topPaths(events: DataFrame, userCol: String, tsCol: String,
               idCol: String, typeCol: String, maxSteps: Int = 5,
               topK: Int = 20): DataFrame = {
    require(maxSteps >= 1 && topK >= 1, "maxSteps and topK must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_u")).orderBy(col("_ts"), col("_id"))
    val firstK = events
      .select(col(userCol).as("_u"), col(tsCol).as("_ts"),
        col(idCol).as("_id"), col(typeCol).as("_t"))
      .filter(col("_t").isNotNull)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxSteps)
    val paths = firstK.groupBy(col("_u"))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("_rn"), col("_t")))),
        e => e.getField("_t"))).as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("path"),
        size(split(col("path"), ">")).cast("long").as("n_steps"),
        col("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topK)
  }

  /** Multi-touch conversion attribution: distribute each conversion's
    * unit of credit over the touch events that preceded it, under the
    * four standard models at once — first-touch, last-touch, linear
    * (1/n each) and position-based (the 40/20/40 "U": 0.4 to the
    * first and last touch, 0.2 split over the middles; a 2-touch path
    * splits 0.5/0.5, a single touch takes 1.0).
    *
    * Windowing: a user's touches attach to their NEXT conversion and
    * each conversion RESETS the window (the standard rule — credit
    * never leaks across conversions). Touches after the final
    * conversion, and conversions with no preceding touch ("direct"),
    * earn/receive nothing and drop out; Σ linear over channels = the
    * number of touched conversions, a spec'd invariant.
    *
    * Determinism at scale: per-touch fractional credits are NEVER
    * summed directly (an unordered double sum). Instead touches
    * reduce to exact integer counts per (channel, path-length n,
    * role ∈ only/first/mid/last) — path length is bounded by the
    * session contract, so this grid is tiny — and each model's credit
    * folds over the channel's sorted (n, role) cells: weight·count
    * products on exact integers, accumulated in a pure-function-of-
    * the-data order. Two window sorts over the same (user → user,seg)
    * partitioning and one grid aggregate; nothing wider than the
    * event table shuffles.
    *
    * Output: `(channel, n_touches, first_touch, last_touch, linear,
    * position)` — the count columns exact longs, the fractional
    * models rounded to `roundTo`. */
  def attribution(events: DataFrame, userCol: String, tsCol: String,
                  idCol: String, channelCol: String,
                  touchChannels: Seq[String], conversionType: String,
                  roundTo: Int = 6): DataFrame = {
    require(touchChannels.nonEmpty, "touchChannels must be non-empty")
    require(!touchChannels.contains(conversionType),
      "the conversion type cannot also be a touch channel")
    import org.apache.spark.sql.expressions.Window
    val ev = events.select(col(userCol).as("_u"), col(tsCol).as("_ts"),
        col(idCol).as("_id"), col(channelCol).as("_ch"))
      .filter(col("_ch").isin(conversionType +: touchChannels: _*))
    val w = Window.partitionBy(col("_u")).orderBy(col("_ts"), col("_id"))
    val isConv = (col("_ch") === conversionType).cast("long")
    // segment = conversions strictly before the row: touches in
    // segment k belong to conversion k+1; conversion rows carry their
    // own 1-based index on the same sort
    val segged = ev
      .withColumn("_seg", coalesce(sum(isConv)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("_cidx", sum(isConv)
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val convs = segged.filter(col("_ch") === conversionType)
      .select(col("_u").as("_cu"), col("_cidx").as("_conv"))
    val touches = segged.filter(col("_ch") =!= conversionType)
      .join(convs, col("_u") === col("_cu") &&
        col("_seg") + 1 === col("_conv"))
      .select(col("_u"), col("_seg"), col("_ts"), col("_id"), col("_ch"))
    val ws = Window.partitionBy(col("_u"), col("_seg"))
      .orderBy(col("_ts"), col("_id"))
    val roled = touches
      .withColumn("_i", row_number().over(ws).cast("long"))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("_u"),
        col("_seg")).rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)).cast("long"))
      .withColumn("_role",
        when(col("_n") === 1, "only")
          .when(col("_i") === 1, "first")
          .when(col("_i") === col("_n"), "last")
          .otherwise("mid"))
    val cells = roled.groupBy(col("_ch"), col("_n"), col("_role"))
      .agg(count(lit(1)).as("_cnt"))
    def fld(weight: Column => Column): Column = {
      val sorted = array_sort(collect_list(struct(col("_n").as("n"),
        col("_role").as("role"), col("_cnt").as("cnt"))))
      aggregate(sorted, lit(0.0), (acc, e) => acc + weight(e))
    }
    def f(e: Column, n: String): Column = e.getField(n)
    cells.groupBy(col("_ch").as("channel"))
      .agg(
        sum(col("_cnt")).as("n_touches"),
        sum(when(col("_role").isin("only", "first"), col("_cnt"))
          .otherwise(0L)).as("first_touch"),
        sum(when(col("_role").isin("only", "last"), col("_cnt"))
          .otherwise(0L)).as("last_touch"),
        round(fld(e => f(e, "cnt").cast("double") / f(e, "n")), roundTo)
          .as("linear"),
        round(fld(e =>
          when(f(e, "n") === 1, lit(1.0) * f(e, "cnt"))
            .when(f(e, "n") === 2, lit(0.5) * f(e, "cnt"))
            .when(f(e, "role") === "mid",
              lit(0.2) / (f(e, "n") - 2).cast("double") * f(e, "cnt"))
            .otherwise(lit(0.4) * f(e, "cnt"))), roundTo)
          .as("position"))
  }
}
