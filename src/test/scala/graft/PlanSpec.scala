package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** §4 plan-quality gates: the optimizations SURVEY.md §4 relies on must
  * actually appear in the physical plans — pushdown, pruning, broadcast,
  * whole-stage codegen. These are executable documentation of the
  * 100 TB design intent: a regression that un-broadcasts a dim join or
  * un-prunes a scan fails CI, not a cluster bill.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def plan(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan.toString
  }

  test("IVF quantized re-rank IO shape: with staged tables, the approx " +
    "stage reads only the code parquet and the float parquet feeds " +
    "queries + re-rank (x112 at 100 TB)") {
    val emb = Tables(spark, sf, "embeddings")
    val model = graft.ext.IvfIndex.fit(emb, "embedding", "vec_id", k = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-plan").toString
    // the production layout: codes and float assignments each staged
    graft.ext.IvfIndex.codes(model, "embedding", "vec_id")
      .write.mode("overwrite").parquet(s"$dir/codes")
    model.assigned.write.mode("overwrite").parquet(s"$dir/assigned")
    val stagedModel = model.copy(assigned = spark.read.parquet(s"$dir/assigned"))
    val codes = spark.read.parquet(s"$dir/codes")
    val queries = emb.filter(col("vec_id") % 200 === 0)
    val whole = plan(graft.ext.IvfIndex.batchTopKQuantized(stagedModel, codes,
      queries, "embedding", "vec_id", k = 3, nProbes = 2))
    // AQE prints Final + Initial plans; gate on the FINAL section only
    val p = whole.split("== Initial Plan ==").head
    // the code parquet is scanned exactly once, and that scan never
    // drags the float vectors along (the narrow-table point of codes)
    val codeScans = p.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("code:binary")).toSeq
    assert(codeScans.size == 1, s"expected one code scan:\n$p")
    assert(!codeScans.head.contains("embedding"), codeScans.head)
    // the re-rank cut and the final cut both plan as the reducing
    // topKBy heap (map-side partial aggregate) — never a full sort of
    // the candidate lists (the probe-selection window over k centroids
    // is the only window, and it is centroid-bounded)
    assert(p.linesIterator.count(_.contains("partial_graft_topk_by")) >= 2, p)
    // the float assignment scan prunes to (vec_id, embedding) — the
    // cluster column belongs to the approx stage, not the re-rank join
    val rerankScan = p.linesIterator.find(l =>
      l.contains("ReadSchema") && l.contains("/assigned")).getOrElse("")
    assert(rerankScan.contains("vec_id") && rerankScan.contains("embedding") &&
      !rerankScan.contains("cluster"), s"re-rank scan not pruned: $rerankScan")
  }

  test("column pruning: q01 scans only event_type (ReadSchema)") {
    val p = plan(SparkEntry.queries("q01_count_by_type")(spark, sf))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("event_type"))
    assert(!read.contains("props") && !read.contains("user_id"), read)
  }

  test("predicate pushdown: q08's IN-list reaches the parquet scan (PushedFilters)") {
    val p = plan(SparkEntry.queries("q08_late_window")(spark, sf))
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("In(event_type") || pushed.contains("event_type"), p)
  }

  test("broadcast joins: star revenue broadcasts the dim sides (J3)") {
    val p = plan(SparkEntry.queries("s02_star_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("s21 waiting-suppliers plans semi + anti joins, broadcast supplier dim") {
    val p = plan(SparkEntry.queries("s21_waiting_suppliers")(spark, sf))
    assert(p.contains("LeftSemi"), "EXISTS must plan as a left-semi join:\n" + p)
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as a left-anti join:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "supplier dim must broadcast:\n" + p)
  }

  test("s22 sales-opportunity: scalar subquery broadcasts, anti join on orders") {
    val p = plan(SparkEntry.queries("s22_global_sales_opportunity")(spark, sf))
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as a left-anti join:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 1-row avg threshold must broadcast, not shuffle:\n" + p)
  }

  test("s23 top-supplier: scalar max broadcasts; supplier dim broadcasts") {
    val p = plan(SparkEntry.queries("s23_top_supplier")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "the 1-row max and the supplier dim must broadcast, not shuffle:\n" + p)
    assert(p.contains("partial_sum"),
      "revenue aggregate must map-side combine:\n" + p)
  }

  test("whole-stage codegen spans the pricing summary aggregate") {
    val p = plan(SparkEntry.queries("s01_pricing_summary")(spark, sf))
    // codegen'd stages print as "*(n) " prefixes in the executed plan
    assert(p.contains("*(1)") && p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum"), "map-side partial aggregation missing:\n" + p)
  }

  test("latestPerKey aggregates with map-side combine, no window (A8)") {
    val p = plan(SparkEntry.queries("s03_latest_order_per_customer")(spark, sf))
    // No window operator: windows sort whole partitions and cannot reduce
    // before the shuffle. max_by plans as SortAggregate (struct buffer),
    // but WITH a partial aggregate — the pre-shuffle reduction to |keys|
    // rows is the property that matters at 100 TB.
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_max_by"), p)
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort (O2)") {
    val p = plan(SparkEntry.queries("q07_topk_type_props")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("brute-force cosine top-k: no shuffle of the full table (ANN baseline)") {
    val p = plan(SparkEntry.queries("x05_cosine_topk")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bucketed tables join without any exchange (co-located join)") {
    val orders = Tables(spark, sf, "orders")
    val lineitem = Tables(spark, sf, "lineitem")
    graft.warehouse.Bucketing.writeBucketed(orders, "orders_bkt", 4, Seq("o_orderkey"))
    graft.warehouse.Bucketing.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_bkt", 4, Seq("o_orderkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"), "o_orderkey")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), "bucketed join still shuffles:\n" + p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hash split / scrub are narrow: no exchange, scan-speed at 100 TB (x14/x17)") {
    val docs = Tables(spark, sf, "documents").select(col("doc_id"))
    val p = plan(graft.ext.Sampling.hashSplit(docs, "doc_id", "split", 0.75, 0.125))
    assert(!p.contains("Exchange"), "hash split must not shuffle:\n" + p)
    val p2 = plan(Tables(spark, sf, "documents")
      .select(graft.ext.TextAnalysis.scrub(col("text"))))
    assert(!p2.contains("Exchange"), "scrub must not shuffle:\n" + p2)
  }

  test("token top-k: map-side partial count + TakeOrderedAndProject (x15)") {
    val p = plan(graft.ext.TextAnalysis.tokenTopK(
      Tables(spark, sf, "documents"), "text", 10))
    assert(p.contains("partial_count"), "vocab count must partial-agg:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("LSH candidate generation: one partial collect_list aggregation, " +
    "pairs generated narrowly (x07/x13)") {
    val docs = Tables(spark, sf, "documents")
    val pairs = graft.ext.TextDedup.minhashDupPairs(docs, "text", "doc_id")
    val p = plan(pairs)
    // map-side partial collect on the bucket key — the single exchange of
    // the candidate stage (the old window+self-join shape had three)
    assert(p.contains("partial_collect_list"), p)
    assert(!p.contains("Window"), "bucket cap must not be a window:\n" + p)
    spark.catalog.clearCache()
  }

  test("SimHash candidate generation: capped bucket aggregate, no self-join, " +
    "no join-back for the Hamming verify (x08)") {
    val docs = Tables(spark, sf, "documents")
    val p = plan(graft.ext.TextDedup.simhashDupPairs(docs, "text", "doc_id"))
    // same one-exchange shape as the MinHash path: partial collect on the
    // block key, pairs exploded narrowly, fingerprint rides as payload
    assert(p.contains("partial_collect_list"), p)
    assert(!p.contains("Window"), "block cap must not be a window:\n" + p)
    assert(!p.contains("Join"), "Hamming verify must not join back:\n" + p)
  }

  test("decontamination: benchmark set broadcasts, corpus never sort-merges (x20)") {
    val p = plan(SparkEntry.queries("x20_decontaminate")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("repetition profile is narrow: no exchange before the sort (x21)") {
    val docs = Tables(spark, sf, "documents")
    val df = graft.ext.TextAnalysis.repetitionProfile(docs, "text", "doc_id")
    val p = plan(df)
    assert(!p.contains("Exchange"), p)
  }

  test("repetition filter is ONE fused kernel, never a HOF lambda (x21)") {
    // predicate pushdown substitutes scratch-column aliases into the
    // filter; with the HOF formulation that re-splices tokenization into
    // an interpreted per-element lambda, and FilterExec does no common-
    // subexpression elimination. The fused verdict kernel appears exactly
    // once — tokenize and shingle run once per row.
    val docs = Tables(spark, sf, "documents")
    val f = graft.ext.TextAnalysis.repetitionFilter(docs, "text", "doc_id")
    f.collect()
    val opt = f.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_repetition_ok"), opt)
    assert(!opt.contains("lambdafunction"), opt)
    assert("graft_repetition_ok".r.findAllIn(opt).size == 1, opt)
  }

  test("partition pruning: monthly-partitioned write is readable by one month") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/fact"
    graft.warehouse.Transforms.writeMonthly(
      Tables(spark, sf, "orders"), "o_orderdate", Seq("o_orderkey"), dir)
    val pruned = spark.read.parquet(dir).filter(col("part_month") === "199506")
    val p = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    // partition filter must be handled at scan planning, not as a data filter
    assert(p.contains("PartitionFilters: [isnotnull(part_month"), p)
  }

  test("ranged growth-MV serve partition-prunes the day-partitioned MV " +
    "scan (the dashboard read touches trailing days, never the full MV)") {
    import graft.stream.{IncrementalMv, MvAgg}
    import spark.implicits._
    val ev = (1 to 10).map(u => (u.toLong,
      java.sql.Timestamp.valueOf(f"2024-01-${1 + u % 5}%02d 12:00:00")))
      .toDF("user_id", "ts")
    val mvDir = java.nio.file.Files
      .createTempDirectory("graft-mv-prune").toString + "/mv"
    IncrementalMv.applyAggDelta(ev.withColumn("_all", lit("all")), 0,
      mvDir, "ts", "_all", col("user_id"), MvAgg.kmvDistinct(64))
    val df = graft.olap.Growth.activeUsersFromKmvMv(spark, mvDir, 64,
      windows = Seq(1, 2), range = Some(("2024-01-03", "2024-01-05")))
    assert(df.count() > 0)
    val p = df.queryExecution.executedPlan.toString
    val pfs = p.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(pfs.nonEmpty, p)
    // every MV scan must carry the day bounds at scan planning — an
    // empty PartitionFilters list means some branch reads the full MV
    assert(pfs.forall(l => l.contains("day") && l.contains(">=") &&
      l.contains("<=")), p)
  }

  test("ranged KLL-MV quantile read partition-prunes the day-partitioned " +
    "MV scan (the x179 dashboard read merges only its slice's sketches)") {
    import graft.stream.{IncrementalMv, MvAgg}
    import spark.implicits._
    val ev = (1 to 40).map(i => (i.toLong,
      java.sql.Timestamp.valueOf(f"2024-01-${1 + i % 5}%02d 12:00:00"),
      (i * 7 % 23).toDouble))
      .toDF("id", "ts", "v").withColumn("_all", lit("all"))
    val mvDir = java.nio.file.Files
      .createTempDirectory("graft-kllmv-prune").toString + "/mv"
    IncrementalMv.applyAggDelta(ev, 0, mvDir, "ts", "_all", col("v"),
      MvAgg.kll(spark, 1024, Seq(0.5)))
    val df = IncrementalMv.readKllQuantiles(spark, mvDir, 1024,
      Seq(0.25, 0.5, 0.75), range = Some(("2024-01-02", "2024-01-04")))
    assert(df.count() == 3)
    val p = df.queryExecution.executedPlan.toString
    val pfs = p.linesIterator.filter(_.contains("PartitionFilters:")).toSeq
    assert(pfs.nonEmpty, p)
    assert(pfs.forall(l => l.contains("day") && l.contains(">=") &&
      l.contains("<=")), p)
  }

  test("packSequences windows are PARTITIONED by the id band — never a " +
    "corpus-wide single-partition cumsum (the x180 scale contract)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val pDf = SparkEntry.queries("x180_pack_sequences")(spark, sf)
    pDf.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other.children.flatMap(walk)
    })
    val windows = walk(pDf.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    // the one allowed unpartitioned window is the band-frame offset
    // prefix-sum, identified by ordering on the band id alone
    assert(windows.forall(w => w.partitionSpec.nonEmpty ||
      (w.orderSpec.nonEmpty && w.orderSpec.flatMap(_.references.toSeq)
        .forall(_.name == "_graft_sb"))),
      "packSequences must never window the corpus unpartitioned:\n" +
        pDf.queryExecution.executedPlan.toString)
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "expected the per-band running-sum window")
    // the grouped variant is stricter: EVERY window is partitioned
    // (the band-offset fold partitions by the group)
    val gDf = SparkEntry.queries("x181_pack_by_source")(spark, sf)
    gDf.collect()
    val gWindows = walk(gDf.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(gWindows.nonEmpty && gWindows.forall(_.partitionSpec.nonEmpty),
      "grouped packSequences must partition every window:\n" +
        gDf.queryExecution.executedPlan.toString)
  }

  test("dedupAgainstBandIndex never shuffles index lineage un-filtered: " +
    "every exchange whose subtree scans the persisted index or band " +
    "table sits ABOVE a broadcast-probe join (the O(delta) ingest shape)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val dir = java.nio.file.Files.createTempDirectory("graft-bandidx-plan").toString
    try {
      val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
      graft.ext.TextDedup.minhashIndex(docs, "text", "doc_id")
        .write.mode("overwrite").parquet(s"$dir/index")
      graft.ext.TextDedup.bandRows(spark.read.parquet(s"$dir/index"))
        .write.mode("overwrite").parquet(s"$dir/bands")
      val batch = docs.filter(col("doc_id") < 64)
        .select((col("doc_id") + 5000000).as("doc_id"), col("text"))
      val kept = graft.ext.TextDedup.dedupAgainstBandIndex(batch, "text",
        "doc_id", spark.read.parquet(s"$dir/index"),
        spark.read.parquet(s"$dir/bands"),
        stagingPath = Some(s"$dir/stg"))
      kept.collect()
      def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.flatMap(walk)
      })
      val all = walk(kept.queryExecution.executedPlan)
      def scansPersisted(sub: Seq[SparkPlan]): Boolean = sub.exists {
        case f: FileSourceScanExec =>
          val s = f.toString
          s.contains(s"$dir/index") || s.contains(s"$dir/bands")
        case _ => false
      }
      val exchanges = all.collect {
        case e: ShuffleExchangeExec => e
        case e: BroadcastExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        val sub = walk(e).drop(1)
        if (scansPersisted(sub))
          assert(sub.exists(_.isInstanceOf[BroadcastHashJoinExec]),
            "an exchange carries UNFILTERED index/band rows (O(index) " +
              "per-batch shuffle):\n" + e.toString)
      }
      // and the broadcast-probe joins really are there (≥ 3: id-skip,
      // band candidates, verify lookup)
      assert(all.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 3,
        kept.queryExecution.executedPlan.toString)
    } finally org.apache.commons.io.FileUtils
      .deleteQuietly(new java.io.File(dir))
  }

  test("as-of join query plans with zero join nodes; type filter pushes to scan (x24)") {
    val p = plan(SparkEntry.queries("x24_asof_join")(spark, sf))
    assert(!p.contains("Join"), "x24 must be the union-window plan:\n" + p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("event_type"), "purchase/click filters not pushed:\n" + p)
  }

  test("range join query never degenerates to a nested loop (x25)") {
    val p = plan(SparkEntry.queries("x25_range_join")(spark, sf))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
      "interval predicate must ride the bin equi-join:\n" + p)
  }

  test("pivot with explicit values is a single aggregation pass (s14)") {
    // implicit pivot (no value list) runs an EAGER distinct+sort+collect
    // job at query-CONSTRUCTION time — invisible in the final plan
    // string, so gate it by counting jobs: applying groupBy+pivot+agg to
    // an already-loaded table must launch none. (The parquet footer read
    // at Tables() launches its own job, hence the pre-settled baseline.
    // Job ids reach the status store asynchronously; the deadline loop
    // only risks a false PASS on a pathologically slow bus, never a
    // false failure.)
    val types = Seq("error", "signup", "purchase", "view", "click")
    val ev = Tables(spark, sf, "events")
    ev.count() // settle the scan-side jobs
    Thread.sleep(300)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    ev.groupBy(col("ts").cast("date").as("day"))
      .pivot("event_type", types).agg(count(lit(1))) // construction only
    val deadline = System.nanoTime() + 2000000000L
    var after = before
    while (System.nanoTime() < deadline && after == before) {
      Thread.sleep(100)
      after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    }
    assert(after == before,
      s"pivot construction launched ${after - before} eager job(s) — " +
        "explicit values must skip value discovery")
    val p = plan(SparkEntry.queries("s14_pivot_daily_types")(spark, sf))
    assert(p.contains("pivotfirst"), "expected PivotFirst single-pass plan:\n" + p)
  }

  test("CUBE plans as ONE Expand pass, not one job per grouping set (s17)") {
    val p = plan(SparkEntry.queries("s17_cube_revenue")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert("Expand".r.findAllIn(p).size == 1,
      "all four grouping sets must share one Expand:\n" + p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "cube must partial-aggregate map-side:\n" + p)
  }

  test("window-function family shares one shuffle + one sort per ordering (q14)") {
    val p = plan(SparkEntry.queries("q14_window_family")(spark, sf))
      .split("== Initial Plan ==")(0)
    // one hash exchange feeds every window function; the only other
    // exchange is the final presentation orderBy (range partitioning)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 2,
      s"expected window + orderBy exchanges only, got $exchanges:\n" + p)
    assert("\\bWindow\\b".r.findAllIn(p).size <= 2,
      "ranking and running-frame functions must fuse into ≤2 Window nodes:\n" + p)
  }

  test("paragraph dedup reduces with partial min_by — no window, no sort (x38)") {
    val p = plan(SparkEntry.queries("x38_paragraph_dedup")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("partial_min_by"),
      "unit keeper must partial-aggregate map-side:\n" + p)
    assert(!p.contains("Window"), "no per-unit window:\n" + p)
  }

  test("curation verdict: the vocabulary join broadcasts (x40)") {
    val p = plan(SparkEntry.queries("x40_curation_pipeline")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      "vocab membership must broadcast, never shuffle the token stream:\n" + p)
  }

  test("Q5-shape join: dims broadcast and the date filter reaches the orders scan (s18)") {
    val p = plan(SparkEntry.queries("s18_local_supplier_volume")(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      "nation/region must broadcast:\n" + p)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("o_orderdate"),
      "orders date range must push to the scan:\n" + p)
  }

  test("explicit grouping sets share ONE Expand pass (s19)") {
    val p = plan(SparkEntry.queries("s19_grouping_sets")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert("Expand".r.findAllIn(p).size == 1,
      "all three grouping sets must share one Expand:\n" + p)
  }

  test("disjunctive predicate splits into per-table pushed conjuncts (s20)") {
    val p = plan(SparkEntry.queries("s20_disjunctive_predicate")(spark, sf))
    // the OR-of-ANDs must yield a pushable per-table disjunction on
    // EACH side (brand/size on part, quantity on lineitem), not a
    // join-then-filter of the raw cartesian of conjuncts
    val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("p_brand") || pushed.contains("p_size"),
      "part-side conjuncts must push to the part scan:\n" + p)
    assert(pushed.contains("l_quantity"),
      "quantity disjunction must push to the lineitem scan:\n" + p)
  }

  test("RANGE frame rides one exchange + one sort per user ordering (q17)") {
    val p = plan(SparkEntry.queries("q17_range_frame")(spark, sf))
      .split("== Initial Plan ==")(0)
    // window exchange + presentation orderBy exchange only
    assert("Exchange".r.findAllIn(p).size == 2,
      "expected window + orderBy exchanges only:\n" + p)
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, p)
  }

  test("random projection is narrow: only the presentation sort shuffles (x60)") {
    val p = plan(SparkEntry.queries("x60_random_projection")(spark, sf))
      .split("== Initial Plan ==")(0)
    // stateless per-row projection + explode: no join, no aggregation,
    // and the single exchange is the final orderBy's range partitioning
    assert(!p.contains("Join"), "projection must not join:\n" + p)
    assert("Exchange".r.findAllIn(p).size == 1,
      "only the presentation orderBy may shuffle:\n" + p)
  }

  test("correlated scalar-min decorrelates: aggregate-join, no per-row " +
    "subquery, partial min (s24)") {
    val p = plan(SparkEntry.queries("s24_mincost_line")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "Q2 shape must decorrelate, not re-execute per row:\n" + p)
    assert(p.contains("partial_min"),
      "the per-part min must partial-aggregate map-side:\n" + p)
  }

  test("per-group scalar-avg subquery decorrelates with map-side partial avg (s25)") {
    val p = plan(SparkEntry.queries("s25_small_qty_revenue")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("partial_avg"),
      "the per-part avg must partial-aggregate map-side:\n" + p)
  }

  test("NOT IN plans as a null-aware ANTI join, never a nested loop (s26)") {
    val p = plan(SparkEntry.queries("s26_notin_suppliers")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("LeftAnti"),
      "NOT IN must plan as an anti join:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("IN-over-HAVING plans as a semi join against the AGGREGATE (s27)") {
    val p = plan(SparkEntry.queries("s27_big_orders")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("LeftSemi"),
      "the large-order key set must semi-join:\n" + p)
    assert(p.contains("partial_sum"),
      "the per-order quantity sum must partial-aggregate map-side:\n" + p)
  }

  test("correlated EXISTS with a cross-side date predicate plans as a " +
    "semi join, not a per-row re-execution (s28)") {
    val p = plan(SparkEntry.queries("s28_late_orders")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("LeftSemi"),
      "Q4's EXISTS must plan as a left-semi join:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("Q7/Q8/Q9 star chains broadcast every dimension; only facts " +
    "exchange (s29, s30, s31)") {
    Seq("s29_nation_volume", "s30_market_share", "s31_nation_profit").foreach { q =>
      val p = plan(SparkEntry.queries(q)(spark, sf))
        .split("== Initial Plan ==")(0)
      assert(p.contains("BroadcastHashJoin"),
        s"$q: dimension joins must broadcast:\n" + p)
      assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
        s"$q:\n" + p)
      // the only sort-merge-eligible pair is lineitem⋈orders; nation/
      // region/supplier/customer/part must never shuffle the fact
      val smj = "SortMergeJoin".r.findAllIn(p).size
      assert(smj <= 1, s"$q: more than one non-broadcast join:\n" + p)
    }
  }

  test("top-returners LIMIT plans as a bounded heap, never a global " +
    "sort (s32)") {
    val p = plan(SparkEntry.queries("s32_top_returners")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"),
      "ORDER BY + LIMIT 20 must plan as TakeOrderedAndProject:\n" + p)
    assert(p.contains("partial_sum"),
      "revenue must partial-aggregate map-side:\n" + p)
  }

  test("fraction-of-global-total threshold stays a scalar broadcast, " +
    "not a per-row re-aggregation (s33)") {
    val p = plan(SparkEntry.queries("s33_important_parts")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
    assert(p.contains("Subquery") || p.contains("subquery"),
      "the global total must evaluate once as a scalar subquery:\n" + p)
  }

  test("LATERAL top-n decorrelates: no per-row re-execution, no " +
    "cartesian (s40)") {
    val p = plan(SparkEntry.queries("s40_lateral_topn")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "the lateral subquery must decorrelate into a join/window:\n" + p)
  }

  test("equi-depth histogram: one exchange serves ntile and the " +
    "rollup (x86)") {
    val p = plan(SparkEntry.queries("x86_equidepth_histogram")(spark, sf))
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"too many exchanges ($exchanges):\n" + p)
    assert(p.contains("ntile"), p)
  }

  test("BM25 top-k: stats broadcast, bounded-heap cut, map-side tf (x75)") {
    val p = plan(SparkEntry.queries("x75_bm25_topk")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"),
      "the k cut must be a bounded heap, not a global sort:\n" + p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
      "df/stats must broadcast, never shuffle the tf side:\n" + p)
    assert(p.contains("partial_count"),
      "tf must partial-aggregate map-side:\n" + p)
  }

  test("span excision never pairwise-compares: no nested loop, map-side df (x61)") {
    val p = plan(SparkEntry.queries("x61_repeated_span_removal")(spark, sf))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      "window-frequency dedup must key on window text, never cross:\n" + p)
    assert(p.contains("partial_count"),
      "window df must partial-aggregate map-side:\n" + p)
    assert(p.contains("LeftSemi"),
      "the repeated-set probe must stay a semi join:\n" + p)
  }

  test("single-pass route plans stay small: under 200 expression nodes " +
    "per route, no from_json cloned outside the parse verdict") {
    val dir = java.nio.file.Files.createTempDirectory("graft-route-shape").toString
    StreamSoak.buildMessages(spark, sf).limit(50)
      .write.mode("overwrite").parquet(dir)
    val routed = graft.ingest.ValidateRoute.planSinglePass(
      spark.read.parquet(dir), graft.schema.Schemas.specs)
    Seq("validated" -> routed.validated, "rejected" -> routed.rejected)
      .foreach { case (route, df) =>
        val opt = df.queryExecution.optimizedPlan
        val (nodes, clones) = PlanSpec.routeShape(opt)
        assert(nodes < 200, s"$route: $nodes expression nodes:\n$opt")
        assert(clones.isEmpty, s"$route: from_json cloned into\n" +
          clones.mkString("\n"))
      }
  }
}

object PlanSpec {
  import org.apache.spark.sql.catalyst.expressions.{And, Expression, IsNotNull, IsNull,
    JsonToStructs, Not, Or}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}

  /** Shape of an optimized route plan: the expression nodes of all its
    * operators, and the operators that carry more than one `from_json`
    * outside the parse verdict (a Filter conjunct made only of null
    * tests, as the verdict and its negation are). Every `from_json`
    * beyond the first in one operator is a second parse of the same
    * payload per row. */
  def routeShape(plan: LogicalPlan): (Int, Seq[String]) = {
    val nodes = plan.collect { case p =>
      p.expressions.map(_.collect { case e => e }.size).sum }.sum
    def parses(e: Expression): Int = e.collect { case j: JsonToStructs => j }.size
    def verdict(e: Expression): Boolean = e match {
      case _: IsNull | _: IsNotNull => true
      case And(l, r) => verdict(l) && verdict(r)
      case Or(l, r) => verdict(l) && verdict(r)
      case Not(c) => verdict(c)
      case _ => false
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val clones = plan.collect {
      case f @ Filter(cond, _)
          if conjuncts(cond).filterNot(verdict).map(parses).sum > 1 =>
        f.simpleString(400)
      case p if !p.isInstanceOf[Filter] && p.expressions.map(parses).sum > 1 =>
        p.simpleString(400)
    }
    (nodes, clones)
  }
}
