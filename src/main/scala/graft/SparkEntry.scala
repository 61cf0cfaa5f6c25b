package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Embeddings, Retrieval, Similarity, Stats, TextAnalysis, TextDedup, TimeSeries}
import graft.ingest.ValidateRoute
import graft.olap.Quality
import graft.schema.TopicSpec
import graft.warehouse.{Checks, Star}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] has matching ANSI SQL in [[oracleSql]]
  * (DuckDB dialect) over the same parquet tables; column names and value
  * rounding are aligned on both sides so the driver's sorted-column value
  * hash matches. Non-SQL-expressible operators (MinHash-LSH, streaming)
  * are covered by ScalaTest specs instead.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Stable scratch dir for queries that re-lay a table on disk (x52,
    * x53): one fixed path per (process, query, sf dir), overwritten on
    * every run — repeated invocations WITHIN a process reuse it instead
    * of leaking a fresh temp copy each time. The PID component keeps
    * concurrent JVMs on the same fixture (Verify and Bench in parallel
    * CI) from overwriting a parquet the other is mid-read — mode
    * `overwrite` deletes files first, so a shared path races to
    * spurious FileNotFound. */
  /** Directed customer co-purchase edges (src ≠ dst, both
    * orientations), staged to a PID-keyed parquet once per JVM — the
    * graph x77/x87/x91's family walks. Staging matters doubly for x87:
    * Spark re-executes a recursive CTE's non-recursive CTE siblings on
    * EVERY iteration step, so an unstaged edge self-join would run
    * once per hop. */
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame = {
    val edgePath = cachePath(d, "coedges") + "/edges"
    val ep = new org.apache.hadoop.fs.Path(edgePath)
    if (!ep.getFileSystem(s.sparkContext.hadoopConfiguration).exists(ep)) {
      val cp = t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"),
          // collision-free (supplier, part) packing: partkey ranges to
          // 200000*SF, so a 1e7 stride keeps pairs distinct through
          // SF 50 (the old 1e5 stride aliased from SF 0.5 upward and
          // would have manufactured spurious co-purchase edges)
          (col("l_suppkey") * 10000000L + col("l_partkey")).as("sp"))
        .distinct()
      val cp2 = cp.select(col("c").as("c2"), col("sp"))
      cp.join(cp2, "sp").filter(col("c") =!= col("c2"))
        .select(col("c").as("src"), col("c2").as("dst"))
        .distinct()
        .write.mode("overwrite").parquet(edgePath)
    }
    s.read.parquet(edgePath)
  }

  /** customer→supplier purchase edges (supplier ids shifted to a
    * disjoint node space), staged to PID-keyed parquet — the same
    * staging discipline as [[coPurchaseEdges]]: iterative consumers
    * (x76's three power steps reference the edge set ~3× each via
    * edges/outdeg/nodes) re-scan columnar storage instead of
    * re-running the join+distinct per reference, and file-scan stats
    * keep the planner broadcasting the small sides (the persisted-input
    * lesson of SCALING §15). */
  private def custSupplierEdges(s: SparkSession, d: String): DataFrame = {
    val edgePath = cachePath(d, "csedges") + "/edges"
    val ep = new org.apache.hadoop.fs.Path(edgePath)
    if (!ep.getFileSystem(s.sparkContext.hadoopConfiguration).exists(ep)) {
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + 1000000L).as("dst"))
        .distinct()
        .write.mode("overwrite").parquet(edgePath)
    }
    s.read.parquet(edgePath)
  }

  private def cachePath(sfDir: String, tag: String): String = {
    cacheDirsHook
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"$cacheDirPrefix$tag-" + java.lang.Integer.toHexString(sfDir.hashCode))
    java.nio.file.Files.createDirectories(base)
    base.toString
  }

  private def cacheDirPrefix: String = s"graft-p${ProcessHandle.current().pid()}-"

  /** Forced by the first [[cachePath]] call: one shutdown hook that
    * deletes this process's cache directories. It runs after Spark's
    * own hooks (priority below theirs), so no task still reads them. */
  private lazy val cacheDirsHook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => deleteCacheDirs(), org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)

  /** Delete every [[cachePath]] directory of this process in
    * `java.io.tmpdir`. */
  private[graft] def deleteCacheDirs(): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(cacheDirPrefix))
      .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
  }

  /** Exact-lattice money sum, replacing `round(sum(raw doubles), 2)`:
    * the per-row value quantizes (`floor(x·scale + .5)`, the house
    * half-up — the per-row double is bit-identical cross-engine, so
    * the lattice integer is too) → exact BIGINT sum under any
    * partitioning → one division back to units (integer→double is
    * correctly rounded identically on both engines). Rounding a RAW
    * double sum instead flips .xx5 boundaries cross-engine once the
    * magnitude makes an ulp comparable to the rounding step — the
    * sf0.1 differential run caught s31 doing exactly that at ~6e7, and
    * at sf10 magnitudes the per-value flip probability reaches ~1e-2.
    * scale 100 recovers 2-decimal inputs exactly; 10000 keeps product
    * terms (price × discount) at 1e-4 resolution. SQL twin (both
    * dialects): `SUM(CAST(FLOOR(x * CAST(S AS DOUBLE) + CAST(0.5 AS
    * DOUBLE)) AS BIGINT)) / CAST(S AS DOUBLE)`. */
  private def latticeSum(x: Column, scale: Int): Column =
    sum(floor(x * scale + lit(0.5)).cast("long")) / lit(scale.toDouble)

  /** documents ∪ first-token-dropped copies at id+1000000 — the shared
    * near-dup corpus of x13/x22/x23/x47 (gives a real Jaccard spread of
    * ~0.8-1.0, not only exact dups). MUST stay in lockstep with the
    * Duck `corpus` CTE in [[duckPortablePairCtes]]. */
  private def perturbedCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id").as("id"),
      TextDedup.normalize(col("text")).as("t"))
    val pert = base.select((col("id") + 1000000).as("id"),
      dropFirstToken(col("t")).as("t"))
    base.unionByName(pert)
  }

  /** THE near-dup perturbation rule — first token dropped from a
    * normalized text column (Jaccard ~0.8-1.0 vs the original). One
    * spelling for every consumer ([[perturbedCorpus]], the ScaleStress
    * incremental-delta probe); the Duck `corpus` CTE carries the SQL
    * twin and MUST stay in lockstep. */
  private[graft] def dropFirstToken(t: Column): Column =
    when(instr(t, " ") > 0, t.substr(instr(t, " ") + 1, length(t)))
      .otherwise(t)

  /** documents ∪ first-⌊tokens/3⌋ excerpt copies at id+1000000 — the
    * quote/subset duplication fixture shared by the containment family
    * (x116/x124/x129). MUST stay in lockstep with the `corpus` CTE in
    * [[duckContainmentCtes]]. */
  private def excerptCorpus(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id").as("id"),
      TextDedup.normalize(col("text")).as("t"))
    val exc = base
      .select((col("id") + 1000000).as("id"), split(col("t"), " ").as("_toks"))
      .select(col("id"), array_join(
        slice(col("_toks"), lit(1),
          greatest(floor(size(col("_toks")) / 3).cast("int"), lit(1))),
        " ").as("t"))
    base.unionByName(exc)
  }

  /** The containment pair set over an [[excerptCorpus]] with the family
    * parameters (3-shingles, df ∈ [2,4], containment ≥ 0.5) — one
    * spelling for every containment-family query; `tag` keeps each
    * query's staging spill (and therefore its measured build cost)
    * its own. */
  private def containmentPairsOf(corpus: DataFrame, d: String,
                                 tag: String): DataFrame =
    TextDedup.containmentPairs(corpus, "t", "id", shingleK = 3, maxDf = 4,
      minContainment = 0.5, stagingPath = Some(cachePath(d, tag) + "/sh"),
      // excerptCorpus normalizes both branches, so the re-normalize
      // regex inside tokens() would be a per-row no-op — skip it
      preNormalized = true)

  /** The portable sha256 pair set over [[perturbedCorpus]] — consumed
    * by the whole audit family (x13/x22/x23/x47/x50/x57). The 16-perm
    * sha256 pipeline is ~10× the kernel path's hashing cost BY DESIGN
    * (it's the cross-engine audit spelling), so recomputing it per
    * query dominated the bench tail; instead the FIRST family query in
    * a JVM computes it once and stages the (tiny) pair set to parquet,
    * and the rest re-read columnar storage. Memo is per (session, sf
    * dir) and per JVM: every Verify/Bench process recomputes from the
    * current code exactly once — the staged file can never go stale
    * across code changes. The compute+write cost lands on the first
    * family query's measured time (same honest accounting as x52's
    * in-query relayout). */
  private val portablePairsMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]
  /** Stable per-session memo-key component: each DISTINCT session
    * object gets a fresh UUID via an identity-keyed weak map — unlike
    * raw identityHashCode, a GC'd session's key can never be reused by
    * a NEW session (which would serve it another session's memo entry,
    * e.g. Stages DataFrames bound to a stopped session), and the weak
    * keys keep this map itself from growing in a long-lived
    * multi-session JVM. (Spark's own sessionUUID is private[sql].) */
  private val sessionKeys =
    new java.util.WeakHashMap[SparkSession, String]()
  private def sessionKey(s: SparkSession): String =
    sessionKeys.synchronized {
      sessionKeys.computeIfAbsent(s,
        _ => java.util.UUID.randomUUID().toString)
    }

  private def portablePairs(s: SparkSession, d: String): DataFrame = {
    val key = s"${sessionKey(s)}:$d"
    // synchronized: TrieMap.getOrElseUpdate may evaluate the thunk in
    // two threads at once (one wins the map slot, but BOTH run the
    // staging write to the same path — overwrite deletes files first,
    // so the loser can yank parquet out from under the winner's read).
    val path = portablePairsMemo.synchronized {
      portablePairsMemo.getOrElseUpdate(key, {
        val p = cachePath(d, "pairs") + "/portable_pairs"
        TextDedup.portableMinhashDupPairs(perturbedCorpus(t(s, d, "documents")), "t", "id")
          .write.mode("overwrite").parquet(p)
        p
      })
    }
    s.read.parquet(path)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Latest-per-key hub view (A8) composed with the star join (J3):
    * current state of every customer's last order, revenue per region. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val latest = Star.latestPerKey(
      t(spark, dir, "orders"), Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"))
    latest
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        latticeSum(col("o_totalprice"), 100).as("latest_order_value"))
      .orderBy(col("r_name"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- OLAP corpus over events (NB q1-q12 + Grafana analogs) ----
    "q01_count_by_type" -> ((s, d) => Quality.countByType(t(s, d, "events"))),
    "q02_hourly_counts" -> ((s, d) => Quality.hourlyCounts(t(s, d, "events"))),
    "q03_daily_type_pivot" -> ((s, d) => Quality.dailyTypePivot(t(s, d, "events"))),
    "q04_avg_props_len" -> ((s, d) => Quality.avgPropsLen(t(s, d, "events"))),
    "q05_user_error_pct" -> ((s, d) => Quality.userErrorPct(t(s, d, "events"))),
    "q06_daily_error_pct" -> ((s, d) => Quality.dailyErrorPct(t(s, d, "events"))),
    "q07_topk_type_props" -> ((s, d) => Quality.topkTypeProps(t(s, d, "events"))),
    "q08_late_window" -> ((s, d) => Quality.lateWindow(t(s, d, "events"))),
    "q09_kband_classify" -> ((s, d) => Quality.kbandClassify(t(s, d, "events"))),
    "q10_moving_avg" -> ((s, d) => Quality.movingAvg(t(s, d, "events"))),
    "q11_null_profile" -> ((s, d) => Quality.nullProfile(t(s, d, "events"))),
    "q12_null_ratio_score" -> ((s, d) => Quality.nullRatioScore(t(s, d, "events"))),
    "q13_json_null_profile" -> ((s, d) =>
      graft.olap.JsonProfile.profile(t(s, d, "events"), "props", "event_id")
        .orderBy(col("event_id"))),

    // ---- validate-route expression surface (P5-P10 cross-engine) ----
    "v00_validate_route_pipeline" -> ((s, d) => {
      // The FULL ingest pipeline end-to-end: events serialized to the
      // Kafka envelope, then demux → parse → repair → pk → validate →
      // hash → route → re-serialize → union; output is route volumes.
      // Also the ingest throughput line in BENCH.
      val spec = TopicSpec("events",
        org.apache.spark.sql.types.StructType(
          Seq("event_id", "user_id", "event_type", "value", "props")
            .map(f => org.apache.spark.sql.types.StructField(f,
              org.apache.spark.sql.types.StringType)) :+
          org.apache.spark.sql.types.StructField("ingested_at",
            org.apache.spark.sql.types.DoubleType)),
        pk = Seq("event_id"),
        required = Seq("event_id", "user_id", "event_type", "ingested_at"),
        sportField = Some("event_type"),
        sportPattern = "(?i)^(purchase|view|click)$")
      val ev = t(s, d, "events")
      val msgs = ev.select(
        lit("soccer.events").as("topic"),
        to_json(struct(
          col("event_id").cast("string").as("event_id"),
          col("user_id").cast("string").as("user_id"),
          col("event_type"),
          col("value").cast("string").as("value"),
          col("props"),
          col("value").as("ingested_at"))).as("value"),
        col("ts").as("timestamp"))
        // A real Kafka source arrives pre-partitioned (one split per topic
        // partition); the single-row-group fixture file does not, so the
        // CPU-heavy parse/validate/hash pipeline would otherwise run on
        // one core. Spread it — the shuffle moves only the raw envelope.
        .repartition(s.sparkContext.defaultParallelism)
      val routed = ValidateRoute.plan(msgs, Seq(spec))
      routed.validated.unionByName(routed.rejected)
        .groupBy(col("topic")).agg(count(lit(1)).as("n"))
        .orderBy(col("topic"))
    }),
    "v03_single_pass_route" -> ((s, d) => {
      // v00's pipeline through the SINGLE-PASS demux (one merged-schema
      // from_json, the per-topic TopicRoute kernel, one source scan per
      // route — the 100 TB shape; plan() reads the source once per topic
      // branch). Same oracle as v00: the routes must be identical.
      val spec = TopicSpec("events",
        org.apache.spark.sql.types.StructType(
          Seq("event_id", "user_id", "event_type", "value", "props")
            .map(f => org.apache.spark.sql.types.StructField(f,
              org.apache.spark.sql.types.StringType)) :+
          org.apache.spark.sql.types.StructField("ingested_at",
            org.apache.spark.sql.types.DoubleType)),
        pk = Seq("event_id"),
        required = Seq("event_id", "user_id", "event_type", "ingested_at"),
        sportField = Some("event_type"),
        sportPattern = "(?i)^(purchase|view|click)$")
      val ev = t(s, d, "events")
      val msgs = ev.select(
        lit("soccer.events").as("topic"),
        to_json(struct(
          col("event_id").cast("string").as("event_id"),
          col("user_id").cast("string").as("user_id"),
          col("event_type"),
          col("value").cast("string").as("value"),
          col("props"),
          col("value").as("ingested_at"))).as("value"),
        col("ts").as("timestamp"))
        .repartition(s.sparkContext.defaultParallelism)
      val routed = ValidateRoute.planSinglePass(msgs, Seq(spec))
      routed.validated.unionByName(routed.rejected)
        .groupBy(col("topic")).agg(count(lit(1)).as("n"))
        .orderBy(col("topic"))
    }),
    "v01_pk_hash" -> ((s, d) => {
      // P8 pk synthesis + P10 payload hash, oracle-checkable: sha2 of the
      // canonical concat matches DuckDB sha256 byte-for-byte.
      val pk = concat_ws("|",
        coalesce(col("event_id").cast("string"), lit("")),
        coalesce(col("event_type"), lit("")))
      t(s, d, "events").select(
          col("event_id"), pk.as("pk"), sha2(pk, 256).as("pk_sha"))
        .orderBy(col("event_id"))
    }),
    "v02_route_counts" -> ((s, d) => {
      // P5 required-fold + P6 pattern filter + P7 routing as a group-count.
      val sportOk = when(col("event_type").rlike("(?i)^(purchase|view|click)$"), lit(true))
        .otherwise(lit(false))
      val isValid = col("event_id").isNotNull && col("user_id").isNotNull && sportOk
      t(s, d, "events")
        .select(when(isValid, "validated").otherwise("rejected").as("route"))
        .groupBy(col("route")).agg(count(lit(1)).as("n"))
        .orderBy(col("route"))
    }),

    // ---- star warehouse (DDL dims/facts/hub view analogs) ----
    "s01_pricing_summary" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          latticeSum(col("l_quantity"), 100).as("sum_qty"),
          latticeSum(col("l_extendedprice"), 100).as("sum_base_price"),
          latticeSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
            10000).as("sum_disc_price"),
          round(avg(col("l_quantity")), 2).as("avg_qty"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "s02_star_revenue" -> ((s, d) => Star.regionRevenue(
      t(s, d, "lineitem"), t(s, d, "orders"), t(s, d, "customer"),
      t(s, d, "nation"), t(s, d, "region"))),
    "s03_latest_order_per_customer" -> ((s, d) => {
      Star.latestPerKey(t(s, d, "orders"), Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"))
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate").cast("date").as("last_order_date"))
        .orderBy(col("o_custkey"))
    }),
    "s04_latest_line_per_order" -> ((s, d) => {
      // ReplacingMergeTree-style upsert view: the fixture has duplicate
      // (orderkey, linenumber) rows, so the version is the full remaining
      // row (lexicographic max) — a total order, hence deterministic.
      val li = t(s, d, "lineitem")
      val version = Seq("l_shipdate", "l_extendedprice", "l_quantity", "l_partkey",
        "l_suppkey", "l_discount", "l_tax", "l_returnflag", "l_linestatus")
      Star.latestPerKey(li, Seq("l_orderkey", "l_linenumber"), version)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_shipdate").cast("date").as("ship_date"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "s05_dim_nullify_zero_keys" -> ((s, d) => {
      t(s, d, "supplier").select(
          col("s_suppkey"), col("s_name"),
          when(coalesce(col("s_nationkey"), lit(0)) === 0, lit(null))
            .otherwise(col("s_nationkey")).as("nation_nk"),
          coalesce(col("s_nationkey"), lit(0)).===(0).as("sk_is_null"))
        .orderBy(col("s_suppkey"))
    }),
    "s06_scalar_derivations" -> ((s, d) => {
      t(s, d, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"),
          when(lower(trim(col("l_returnflag"))) === "r", 1).otherwise(0).as("is_return"),
          when(col("l_linestatus") === "O", "open")
            .when(col("l_returnflag") === "R", "returned")
            .otherwise("filled").as("status_class"),
          when(col("l_discount").isNull || col("l_tax").isNull, lit(null))
            .otherwise(col("l_discount") + col("l_tax")).as("disc_plus_tax"),
          date_format(col("l_shipdate"), "yyyyMM").as("ship_month"),
          coalesce(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date")).as("ship_or_epoch"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "s07_monthly_rollup" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyyMM").as("order_month"))
        .agg(
          count(lit(1)).as("n_orders"),
          latticeSum(col("o_totalprice"), 100).as("sum_total"))
        .orderBy(col("order_month"))
    }),
    "s08_distinct_parts" -> ((s, d) => {
      t(s, d, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n_rows"))
    }),
    "s09_shipping_priority" -> ((s, d) => {
      // Q3-shaped: filtered fact⋈fact join, revenue ranking, top 10.
      // Both date filters push into the parquet scans.
      val o = t(s, d, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("date"))
      val l = t(s, d, "lineitem").filter(col("l_shipdate") >= lit("1996-01-01").cast("date"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("order_date"),
          col("o_orderpriority"))
        .agg(latticeSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          10000).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),
    "s10_priority_with_lineitems" -> ((s, d) => {
      // left-semi join (EXISTS): orders having at least one late-shipped line.
      val o = t(s, d, "orders")
      val late = t(s, d, "lineitem").filter(col("l_shipdate") >= lit("1999-01-01").cast("date"))
      o.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),
    "s11_customers_without_orders" -> ((s, d) => {
      // left-anti join (NOT EXISTS): customers with no orders at all.
      val c = t(s, d, "customer")
      val o = t(s, d, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    "s12_rollup_revenue" -> ((s, d) => {
      // Multi-level aggregation (ROLLUP + GROUPING) — the grouping-sets
      // surface SURVEY §2.4 lists as absent in the reference but
      // available if extended. Plans as ONE pass (Expand + partial agg),
      // not one job per level.
      t(s, d, "orders")
        .select(year(col("o_orderdate")).cast("bigint").as("oy"),
          col("o_orderpriority"), col("o_totalprice"))
        .rollup(col("oy"), col("o_orderpriority"))
        .agg(
          grouping(col("oy")).cast("bigint").as("g_y"),
          grouping(col("o_orderpriority")).cast("bigint").as("g_p"),
          count(lit(1)).as("n"),
          latticeSum(col("o_totalprice"), 100).as("rev"))
        .orderBy(col("g_y"), col("g_p"), col("oy"), col("o_orderpriority"))
    }),
    "s13_lapsed_customers" -> ((s, d) => {
      // EXCEPT (distinct set difference): customers who ordered before
      // 1998 but never since.
      val o = t(s, d, "orders")
      o.select(col("o_custkey"))
        .except(o.filter(col("o_orderdate") >= lit("1998-01-01").cast("date"))
          .select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // ---- north-star extensions: dedup / similarity / text analysis ----
    "x01_exact_dedup_groups" -> ((s, d) => {
      // U1 + exact dedup: the doubled corpus collapses back to one group
      // per document with n_copies=2.
      val docs = t(s, d, "documents")
      TextDedup.exactDupGroups(docs.unionByName(docs), "text", "doc_id")
        .orderBy(col("keeper"))
    }),
    "x02_exact_dedup_kept" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextDedup.dedupExact(docs.unionByName(docs), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    "x03_text_profile" -> ((s, d) => {
      TextAnalysis.profile(t(s, d, "documents"), "text", "doc_id")
        .drop("fingerprint") // xxhash64-based, not cross-engine oracle-able
        .orderBy(col("doc_id"))
    }),
    "x04_doc_prefix_fingerprint" -> ((s, d) => {
      t(s, d, "documents").select(
          col("doc_id"),
          md5(substring(col("text"), 1, 64)).as("prefix_fp"),
          length(col("text")).as("text_len"))
        .orderBy(col("doc_id"))
    }),
    "x05_cosine_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.bruteForceTopK(emb, "embedding", "vec_id", q, 10)
    }),
    "x06_embedding_neardup_pairs" -> ((s, d) => {
      Similarity.nearDupPairs(t(s, d, "embeddings"), "embedding", "vec_id",
          "label", 0.3)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // NOTE on the retired x07/x08 slots: the raw xxhash64 MinHash and
    // 64-bit SimHash kernel pair queries have no DuckDB twin (XXH64's
    // wrapping 64-bit multiplies don't exist in SQL), so they lived
    // here as rows-only entries through r7. They are now spec-only
    // (ExtSpec runs the identical docs ∪ shifted-copy formulations) so
    // every remaining `queries` entry is value-oracled. The machinery
    // itself never lost verification:
    //   minhash: x59 proves kernel pairs == portable pairs at
    //     production params, and the portable pipeline is hash-oracled
    //     (x13); FunctionsSpec pins xxhash64 bit-parity.
    //   simhash: x70 runs the SAME 64-bit pairing machinery (blocking,
    //     maxBucket, Hamming) under a DuckDB oracle with a portable
    //     64-bit signature; x16 oracles the 16-bit portable class.
    // COVERAGE.md §x07/x08 carries the same cross-links.
    "x09_lsh_ann_topk" -> ((s, d) => {
      // LSH ANN with REAL bucket pruning (query bucket + Hamming-1
      // probes, 9 of 256 buckets scanned). Hash-oracled exactly: the
      // hyperplanes are seeded and data-independent, so the oracle SQL
      // inlines their values and DuckDB reproduces bucket assignment,
      // probe set, and ranking bit-for-bit.
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.lshTopK(emb, "embedding", "vec_id", q, 10)
    }),
    "x10_ivf_ann_topk" -> ((s, d) => {
      // IVF with the learned (k-means) coarse quantizer. The oracled
      // variant probes ALL k lists — exact by construction, which is
      // what makes a static DuckDB oracle possible at all (centroids
      // are data-dependent and can't be inlined into SQL; at nProbes=3
      // the fixture recall is 9/10). The full IVF machinery — sample
      // fit, one-pass assignment, probe ranking, in-list re-rank — is
      // still the plan under test; recall at nProbes<k is pinned by
      // ExtSpec against brute force.
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head.getSeq[Float](0).map(_.toDouble).toSeq
      val model = graft.ext.IvfIndex.fit(emb, "embedding", "vec_id", k = 8)
      graft.ext.IvfIndex.topK(model, "embedding", "vec_id", q, 10, nProbes = 8)
    }),
    "x11_ngram_jaccard_pairs" -> ((s, d) => {
      // exact 3-gram Jaccard between consecutive doc ids — the verify
      // kernel of the dedup pipeline, oracled cross-engine.
      val docs = t(s, d, "documents")
      val sh = docs.select(col("doc_id"), graft.functions.GraftFunctions
        .shingles(s, TextDedup.tokens(col("text")), 3).as("sh"))
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          TextDedup.ngramJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .orderBy(col("id_a"))
    }),
    "x13_minhash_lsh_portable" -> ((s, d) => {
      // The FULL MinHash-LSH dedup pipeline (shingle → 16-perm signature
      // → 4 bands → bucket pairs → exact-Jaccard verify) in the portable
      // sha256/hex-string formulation, so DuckDB reproduces every
      // signature bit and the driver hash-checks the whole pipeline —
      // not just a row count. Corpus: documents ∪ perturbed copies (first
      // token dropped, id+1000000) giving a real near-dup Jaccard spread
      // (~0.8-1.0) instead of only exact dups.
      portablePairs(s, d)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "x14_hash_split" -> ((s, d) => {
      // Deterministic hash-keyed train/valid/test assignment (75/12.5/12.5)
      // — reproducible on any engine/cluster; oracled bit-for-bit.
      graft.ext.Sampling.hashSplit(
          t(s, d, "documents").select(col("doc_id")), "doc_id", "split",
          0.75, 0.125)
        .orderBy(col("doc_id"))
    }),
    "x15_token_topk" -> ((s, d) =>
      TextAnalysis.tokenTopK(t(s, d, "documents"), "text", 50)),
    "x16_simhash_portable_pairs" -> ((s, d) => {
      // Portable 16-bit SimHash fingerprints + Hamming distance between
      // consecutive doc ids — oracles the SimHash operator class
      // cross-engine (the 64-bit kernel path is x08, rows-only).
      val fp = TextDedup.portableSimhash16(t(s, d, "documents"), "text", "doc_id")
      val a = fp.select(col("id").as("id_a"), col("fp").as("fp_a"))
      val b = fp.select(col("id").as("id_b"), col("fp").as("fp_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"), col("fp_a"), col("fp_b"),
          bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("bigint").as("hamming"))
        .orderBy(col("id_a"))
    }),
    "x17_text_scrub" -> ((s, d) => {
      // PII/link scrubbing over a corpus augmented with deterministic
      // synthetic emails/URLs (the fixture text has none): counts via
      // regexp_extract_all, removal via ordered regexp_replace. The
      // doc_id%12==0 rows embed an email INSIDE the URL, pinning the
      // scrub order semantics (URL swallows it) cross-engine.
      val aug = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" reach me at u"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" see https://site.example/d/"), col("doc_id").cast("string"),
            lit("?u=u"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")))
      t(s, d, "documents").select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          TextAnalysis.emailCount(col("aug")).cast("bigint").as("n_emails"),
          TextAnalysis.urlCount(col("aug")).cast("bigint").as("n_urls"),
          TextAnalysis.scrub(col("aug")).as("scrubbed"))
        .orderBy(col("doc_id"))
    }),
    "x18_sequence_packing" -> ((s, d) => {
      // Token-budget sequence packing: shard-parallel running-total
      // binning (the Spark-shaped approximation of first-fit packing).
      // Portable shard key (doc_id % 8) so DuckDB reproduces the
      // assignment; production callers pass a hash shard.
      val docs = t(s, d, "documents").select(col("doc_id"),
        size(TextDedup.tokens(col("text"))).cast("bigint").as("n_tokens"))
      graft.ext.Sampling.packSequences(docs, "doc_id", "n_tokens",
          budget = 2048, shard = pmod(col("doc_id"), lit(8)))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("start_offset"), col("bin"))
        .orderBy(col("doc_id"))
    }),
    "x19_batch_ann_topk" -> ((s, d) => {
      // Many-to-many ANN: top-3 neighbors for EVERY vector within its
      // label bucket, one aggregation pass (no window) — the
      // query-batch shape of similarity search at 100 TB.
      Similarity.batchTopK(t(s, d, "embeddings"), "embedding", "vec_id",
          "label", 3)
        .orderBy(col("query_id"), col("rank"))
    }),
    "x12_lsh_neardup_pairs" -> ((s, d) => {
      // embedding near-dup with LSH buckets as the partitioner (the
      // data-independent scale path; label-bucketed variant is x06).
      // Hash-oracled exactly via inlined hyperplane literals — the
      // bucket partitioning itself is under cross-engine test.
      val emb = t(s, d, "embeddings")
      val planes = Similarity.hyperplanes(6, 64)
      val bucketed = emb.withColumn("bucket",
        graft.functions.GraftFunctions.lshBucket64(s, col("embedding"), planes))
      Similarity.nearDupPairs(bucketed, "embedding", "vec_id", "bucket", 0.3)
        .orderBy(col("id_a"), col("id_b"))
    }),
    "x20_decontaminate" -> ((s, d) => {
      // benchmark decontamination: every 10th document stands in as the
      // eval set; per-doc 3-shingle overlap profile + keep/cut verdict.
      // Shingle strings join directly (broadcast), so the whole operator
      // is cross-engine oracle-able; contamination is a ratio of exact
      // integer counts — bit-identical in DuckDB.
      val docs = t(s, d, "documents")
      val bench = docs.filter(col("doc_id") % 10 === 0)
      graft.ext.Decontaminate.overlapProfile(docs, "text", "doc_id", bench, "text")
        .withColumn("is_clean", col("contamination") <= 0.2)
        .orderBy(col("doc_id"))
    }),
    "x93_dup_cluster_sizes" -> ((s, d) => {
      // Dedup REPORTING: the near-dup cluster-size histogram (how many
      // groups of 2, of 3, …) — the number a curation run publishes to
      // justify its dedup rate. Same components as x22, two tiny
      // rollups on top; the oracle extends x22's recursive reachability
      // with the same rollups.
      val pairs = portablePairs(s, d)
      TextDedup.duplicateGroups(pairs)
        .groupBy(col("comp")).agg(count(lit(1)).as("group_size"))
        .groupBy(col("group_size"))
        .agg(count(lit(1)).as("n_groups"))
        .orderBy(col("group_size"))
    }),
    "x22_dup_groups" -> ((s, d) => {
      // transitive near-dup groups: the portable MinHash pairs (x13's
      // corpus) fed through connected components — group id = min
      // member id. DuckDB reproduces the components with a recursive
      // reachability CTE over the same pair set.
      val corpus = perturbedCorpus(t(s, d, "documents"))
      val pairs = portablePairs(s, d)
      TextDedup.duplicateGroups(pairs)
        .select(col("id").as("doc_id"), col("comp").as("group_id"))
        .orderBy(col("doc_id"))
    }),
    "x23_neardup_dedup_kept" -> ((s, d) => {
      // the full near-dup dedup decision end-to-end: portable MinHash
      // pairs -> connected components -> keep each group's min-id member
      // (docs in no pair pass through). Same corpus as x13/x22.
      val corpus = perturbedCorpus(t(s, d, "documents"))
      val pairs = portablePairs(s, d)
      TextDedup.dedupByPairs(corpus, "id", pairs)
        .select(col("id").as("doc_id"))
        .orderBy(col("doc_id"))
    }),
    "x21_repetition_profile" -> ((s, d) => {
      // Gopher-style repetition quality signal: duplicate-token and
      // duplicate-3-gram fractions per document (narrow projection).
      val docs = t(s, d, "documents")
      TextAnalysis.repetitionProfile(docs, "text", "doc_id")
        .select(col("doc_id"), col("n_tokens").cast("bigint").as("n_tokens"),
          col("dup_token_frac"), col("dup_ngram_frac"))
        .withColumn("is_repetitive", col("dup_ngram_frac") > 0.3)
        .orderBy(col("doc_id"))
    }),

    // ---- relational extensions: as-of / range / session (ext.Relational) ----
    "x24_asof_join" -> ((s, d) => {
      // point-in-time-correct feature lookup: each purchase gets the
      // user's latest click at-or-before it. Union-window plan — one
      // shuffle, no join node (vs DuckDB's native ASOF JOIN oracle).
      // Integer-seconds time base for cross-engine exactness; the click
      // side is pre-aggregated to one row per (user, second) so the
      // as-of tie rule is pinned on both engines.
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("tsec"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), unix_timestamp(col("ts")).as("click_tsec"))
        .agg(max(col("event_id")).as("click_id"))
      graft.ext.Relational.asofJoin(purchases, clicks, Seq("user_id"),
          "tsec", "click_tsec", Seq("click_tsec", "click_id"), "last_")
        .select(col("event_id"), col("user_id"), col("tsec"),
          col("last_click_tsec"), col("last_click_id"))
        .orderBy(col("event_id"))
    }),
    "x25_range_join" -> ((s, d) => {
      // interval containment without a theta join: purchases landing in
      // each error's 2-hour aftermath window, per user. Bin-bucketed
      // equi-join (bin = interval length) + residual filter; zero-match
      // windows survive via the left join back onto the interval side.
      val ev = t(s, d, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          unix_timestamp(col("ts")).as("t_start"))
        .withColumn("t_end", col("t_start") + 7200L)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purch_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ptime"))
      val matched = graft.ext.Relational.rangeJoin(purchases, errors,
        Seq("user_id"), "ptime", "t_start", "t_end", binSeconds = 7200L)
      val counts = matched.groupBy(col("err_id"))
        .agg(count(lit(1)).as("n_purchases"))
      errors.join(counts, Seq("err_id"), "left")
        .select(col("err_id"), col("user_id"), col("t_start"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy(col("err_id"))
    }),
    "x26_sessionize" -> ((s, d) => {
      // gap-based sessionization (30-min inactivity cut) rolled up to
      // session level: lag/cumsum window chain, one shuffle end-to-end.
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("tsec"))
      graft.ext.Relational.sessionStats(ev, Seq("user_id"), "tsec",
          "event_id", gapSeconds = 1800L)
        .orderBy(col("user_id"), col("session_id"))
    }),
    "x31_doc_chunks" -> ((s, d) =>
      // token-window chunking (64-token chunks, 16-token overlap) — the
      // embedding/retrieval preprocessing shape; narrow posexplode,
      // chunks at scan speed.
      TextAnalysis.chunk(t(s, d, "documents"), "text", "doc_id",
          chunkTokens = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))),
    "x30_weighted_sample" -> ((s, d) => {
      // quality-proportional downsampling: each document kept with
      // probability equal to its composite quality score — the
      // rebalancing shape of corpus curation, deterministic (sha256)
      // and auditable cross-engine.
      val prof = TextAnalysis.profile(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("quality"))
      graft.ext.Sampling.weightedSample(prof, "doc_id", "wq", col("quality"))
        .orderBy(col("doc_id"))
    }),
    "x29_overlap_join" -> ((s, d) => {
      // interval × interval alignment (the multimodal segment-alignment
      // shape): each error's 2-hour window against each purchase's
      // 1-hour window, same user, half-open overlap semantics; overlap
      // length in integer seconds (exact cross-engine).
      val ev = t(s, d, "events")
      val errW = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          unix_timestamp(col("ts")).as("err_s"))
        .withColumn("err_e", col("err_s") + 7200L)
      val purW = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purch_id"),
          col("user_id"), unix_timestamp(col("ts")).as("purch_s"))
        .withColumn("purch_e", col("purch_s") + 3600L)
      graft.ext.Relational.overlapJoin(errW, purW, Seq("user_id"),
          "err_s", "err_e", "purch_s", "purch_e", binSeconds = 7200L)
        .select(col("err_id"), col("purch_id"), col("user_id"),
          (least(col("err_e"), col("purch_e"))
            - greatest(col("err_s"), col("purch_s"))).as("overlap_sec"))
        .orderBy(col("err_id"), col("purch_id"))
    }),
    "x27_stratified_sample" -> ((s, d) => {
      // per-stratum rebalancing: keep every error, half the purchases,
      // a tenth of the view flood, a quarter of everything else —
      // deterministic sha256 decision, shuffle-free scan.
      graft.ext.Sampling.stratifiedSample(
          t(s, d, "events").select(col("event_id"), col("event_type")),
          "event_id", "event_type", "strat",
          Map("error" -> 1.0, "purchase" -> 0.5, "view" -> 0.1),
          defaultFrac = 0.25)
        .orderBy(col("event_id"))
    }),
    "x28_length_percentiles" -> ((s, d) => {
      // corpus length profile: exact percentiles of document length per
      // language (planning truncation budgets needs the tail, not the
      // mean). Integer inputs keep the interpolated value bit-identical
      // cross-engine.
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(percentile(col("n_chars"), lit(0.25)), 4).as("p25"),
          round(percentile(col("n_chars"), lit(0.5)), 4).as("p50"),
          round(percentile(col("n_chars"), lit(0.75)), 4).as("p75"),
          round(percentile(col("n_chars"), lit(0.9)), 4).as("p90"),
          round(percentile(col("n_chars"), lit(0.99)), 4).as("p99"))
        .orderBy(col("lang"))
    }),
    "q15_safe_arithmetic" -> ((s, d) => {
      // ANSI-safe arithmetic surface: try_divide / try_cast return null
      // where strict mode would kill the job — the survivable semantics
      // a 100 TB pipeline needs for dirty numeric fields. Mirrored in
      // DuckDB via TRY_CAST and an explicit zero-guard.
      val ev = t(s, d, "events")
      // try_cast everywhere — a strict cast would THROW under the
      // default ANSI mode on the first dirty k, the exact failure this
      // query exists to survive
      val k = expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
      ev.select(
          col("event_id"),
          k.as("k"),
          try_divide(col("value"), k.cast("double")).as("value_per_k"),
          expr("try_cast(event_type AS BIGINT)").as("type_as_num"))
        .orderBy(col("event_id"))
    }),
    "q16_conversion_funnel" -> ((s, d) => {
      // signup → purchase funnel: each user's first signup and the first
      // purchase AT OR AFTER it; conversion flag + latency in integer
      // seconds (exact cross-engine). Two grouped aggregates + one
      // conditional-min join — no window over the fact.
      val ev = t(s, d, "events")
      val signups = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(unix_timestamp(col("ts"))).as("t_signup"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts")).as("pt"))
      signups.join(purchases, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("t_signup"))
        .agg(min(when(col("pt") >= col("t_signup"), col("pt"))).as("t_first_purchase"))
        .select(col("user_id"), col("t_signup"),
          col("t_first_purchase"),
          col("t_first_purchase").isNotNull.as("converted"),
          (col("t_first_purchase") - col("t_signup")).as("secs_to_convert"))
        .orderBy(col("user_id"))
    }),
    "x41_edit_distance_pairs" -> ((s, d) => {
      // Levenshtein edit distance between consecutive docs' 64-char
      // prefixes — the character-level near-dup verification tier
      // (n-gram Jaccard, x11, is the token tier). The engines disagree
      // on non-ASCII units (Spark counts CODEPOINT edits, DuckDB BYTE
      // edits), so the prefix is ASCII-projected on both sides: every
      // non-ASCII char becomes one '?', making byte == codepoint.
      val prefix = regexp_replace(substring(col("text"), 1, 64),
        "[^\\x20-\\x7E]", "?")
      t(s, d, "documents")
        .select(col("doc_id").as("id_a"), prefix.as("pa"))
        .join(t(s, d, "documents")
            .select(col("doc_id").as("id_b"), prefix.as("pb")),
          col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          levenshtein(col("pa"), col("pb")).cast("bigint").as("edit_dist"),
          length(col("pa")).as("len_a"), length(col("pb")).as("len_b"))
        .orderBy(col("id_a"))
    }),
    "x42_rebalance_sample" -> ((s, d) =>
      // corpus mixing: downsample each event class toward a target
      // share of the original volume (errors+purchases 40% each, views
      // 10%, everything else dropped); rate = min(1, target·N/n) from
      // exact integer counts, decision = the id-keyed 48-bit sha256
      // threshold — the whole mix is deterministic and auditable.
      graft.ext.Sampling.rebalanceSample(
          t(s, d, "events").select(col("event_id"), col("event_type")),
          "event_id", "event_type", "mix",
          Map("error" -> 0.4, "purchase" -> 0.4, "view" -> 0.1))
        .orderBy(col("event_id"))),
    "x43_constraint_checks" -> ((s, d) => {
      // publish-gate data-quality report: every row-level expectation
      // (null/range/set/predicate) folds into ONE conditional aggregate
      // over one scan; uniqueness is one key-grouped count; the FK probe
      // broadcasts the dim key set. The filtered dim (keys % 3 == 0)
      // forces real referential violations so the fail path is exercised.
      val li = t(s, d, "lineitem")
      val dim = t(s, d, "orders").filter(col("o_orderkey") % 3 === 0)
      Checks.check(li, Seq(
          Checks.NotNull("l_returnflag"),
          Checks.InRange("l_quantity", 1.0, 45.0),
          Checks.InSet("l_returnflag", Seq("A", "N")),
          Checks.Satisfies("discount_cap", col("l_discount") <= 0.08),
          Checks.Unique(Seq("l_orderkey", "l_linenumber")),
          Checks.RefIntegrity("l_orderkey", dim, "o_orderkey")))
        .orderBy(col("check_name"))
    }),
    "x44_timeseries_gapfill" -> ((s, d) => {
      // metric regularization: irregular events -> fixed 10-minute grid
      // per event type, interior holes linearly interpolated from the
      // flanking observed bins. One shuffle for the (key, bin) counts,
      // one window sort for both fill directions; the interpolation is
      // a single pinned double formula over exact integer endpoints, so
      // the whole filled grid hash-verifies cross-engine.
      val ev = t(s, d, "events").select(col("event_type"), col("ts"))
      val res = TimeSeries.resampleCounts(ev, "event_type", "ts", 600L)
      TimeSeries.gapFill(res, "event_type", "bin", "n")
        .select(col("event_type"), col("bin"), col("n"), col("observed"))
        .orderBy(col("event_type"), col("bin"))
    }),
    "x47_leakproof_split" -> ((s, d) => {
      // leakage-safe train/valid/test split: near-duplicates of a
      // training doc must NOT land in valid/test (eval contamination).
      // Portable MinHash pairs -> connected components -> the 16-bit
      // hash split keyed on the GROUP representative assigns whole
      // components atomically. Same corpus as x13/x22.
      val corpus = perturbedCorpus(t(s, d, "documents"))
      val pairs = portablePairs(s, d)
      graft.ext.Sampling.groupSafeSplit(corpus.select(col("id")), "id",
          pairs, "split", 0.75, 0.125)
        .select(col("id").as("doc_id"), col("group_id"), col("split"))
        .orderBy(col("doc_id"))
    }),
    "x49_collocations" -> ((s, d) =>
      // phrase discovery: top-50 bigrams by PMI lift (ratio form — no
      // log, so the whole score chain is exact integer counts plus
      // pinned IEEE ops and the double column hash-verifies). Count
      // tables collapse before the joins; top-k is
      // TakeOrderedAndProject.
      TextAnalysis.collocations(t(s, d, "documents"), "text",
        minPairCount = 5, k = 50)),
    "s18_local_supplier_volume" -> ((s, d) => {
      // TPC-H Q5 shape: the 6-table join with the CO-LOCATION condition
      // (customer and supplier share a nation) — the join-order /
      // broadcast planning benchmark. Dims broadcast; the fact joins
      // shuffle on their keys; the date filter prunes orders before the
      // lineitem join.
      val li = t(s, d, "lineitem")
      val o = t(s, d, "orders").filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      t(s, d, "customer")
        .join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(latticeSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          10000).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),
    "s19_grouping_sets" -> ((s, d) =>
      // EXPLICIT grouping sets (the general form next to s12's ROLLUP /
      // s17's CUBE): three chosen levels in ONE Expand pass — including
      // a level (linestatus alone) no rollup of this column order
      // produces.
      t(s, d, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping(col("l_returnflag")).cast("bigint").as("g_r"),
          grouping(col("l_linestatus")).cast("bigint").as("g_l"),
          count(lit(1)).as("n"),
          latticeSum(col("l_quantity"), 100).as("sum_qty"))
        .orderBy(col("g_r"), col("g_l"), col("l_returnflag"),
          col("l_linestatus"))),
    "s20_disjunctive_predicate" -> ((s, d) => {
      // TPC-H Q19 shape: OR-of-ANDs across both join sides — the
      // predicate the optimizer must split into the pushable per-table
      // conjuncts (p_brand/p_size prune the part scan, quantity prunes
      // lineitem) plus the residual cross-side disjunction.
      val li = t(s, d, "lineitem")
      val p = t(s, d, "part")
      li.join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#13" && col("p_size").between(10, 30) &&
            col("l_quantity").between(10, 35)))
        .agg(
          count(lit(1)).as("n_lines"),
          latticeSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
            10000).as("revenue"))
    }),
    "s21_waiting_suppliers" -> ((s, d) => {
      // TPC-H Q21 shape adapted to the fixture (lateness = shipped
      // >60 days after order date; the fixture has no commit/receipt
      // dates): for finished ('F') orders, suppliers whose line was
      // the ONLY late one on a multi-supplier order. The EXISTS
      // becomes a left-semi join and the NOT EXISTS a left-anti —
      // both shuffle on l_orderkey, so AQE coalesces them onto one
      // exchange; the supplier dim is broadcast.
      val late = t(s, d, "lineitem")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
            .as("is_late"))
      val l1 = late.filter(col("is_late"))
        .select(col("l_orderkey").as("k1"), col("l_suppkey").as("sk1"))
      val l2 = late.select(col("l_orderkey").as("k2"), col("l_suppkey").as("sk2"))
      val l3 = late.filter(col("is_late"))
        .select(col("l_orderkey").as("k3"), col("l_suppkey").as("sk3"))
      l1.join(l2, col("k1") === col("k2") && col("sk1") =!= col("sk2"), "left_semi")
        .join(l3, col("k1") === col("k3") && col("sk1") =!= col("sk3"), "left_anti")
        .join(broadcast(t(s, d, "supplier")), col("sk1") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }),
    "s22_global_sales_opportunity" -> ((s, d) => {
      // TPC-H Q22 shape: above-average-balance customers with no
      // recent order, grouped by a derived country code (the fixture
      // has no phone column — c_nationkey % 5 plays cntrycode). The
      // uncorrelated scalar subquery is a 1-row broadcast cross join;
      // the NOT EXISTS is a left-anti against the pushdown-filtered
      // recent-orders projection.
      val c = t(s, d, "customer")
      val avgBal = c.filter(col("c_acctbal") > 0)
        .agg(avg(col("c_acctbal")).as("avg_bal"))
      val recent = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("2000-07-01").cast("timestamp"))
        .select(col("o_custkey"))
      c.join(broadcast(avgBal))
        .filter(col("c_acctbal") > col("avg_bal"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy((col("c_nationkey") % 5).cast("bigint").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          latticeSum(col("c_acctbal"), 100).as("totacctbal"))
        .orderBy(col("cntrycode"))
    }),
    "s23_top_supplier" -> ((s, d) => {
      // TPC-H Q15 shape: a revenue aggregate reused twice — once as
      // the join input, once reduced to its max for the filter. The
      // 1-row max broadcasts; no self-join of lineitem, no window over
      // the fact. Revenue equality compares exact-lattice sums —
      // integer-derived doubles identical cross-engine by construction
      // (rounded raw-double sums only LOOK bit-stable; see latticeSum).
      val rev = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("2000-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(latticeSum(col("l_extendedprice") * (lit(1) - col("l_discount")),
          10000).as("total_revenue"))
      val maxRev = rev.agg(max(col("total_revenue")).as("max_rev"))
      rev.join(broadcast(maxRev), col("total_revenue") === col("max_rev"))
        .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    }),
    "s24_mincost_line" -> ((s, d) => {
      // TPC-H Q2 shape: correlated scalar-min subquery whose outer
      // reference crosses a join — for each small part, the lineitems
      // achieving that part's minimum extended price. Catalyst
      // decorrelates into a per-part min aggregate joined back on the
      // part key (one exchange, no per-row re-execution).
      t(s, d, "part").createOrReplaceTempView("g_part")
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT p.p_partkey, p.p_brand, l.l_suppkey, l.l_extendedprice
        FROM g_part p JOIN g_lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_size < 10
          AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
                                   FROM g_lineitem l2
                                   WHERE l2.l_partkey = p.p_partkey)
        ORDER BY p.p_partkey, l.l_suppkey""")
    }),
    "s25_small_qty_revenue" -> ((s, d) => {
      // TPC-H Q17 shape: per-group scalar-avg subquery gating the fact
      // scan (lines below half their part's average quantity).
      // Decorrelated: one avg per partkey, joined back, then the brand
      // rollup — two exchanges total at any scale.
      t(s, d, "part").createOrReplaceTempView("g_part")
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_small,
          SUM(CAST(FLOOR(l.l_extendedprice * CAST(100 AS DOUBLE)
                + CAST(0.5 AS DOUBLE)) AS BIGINT))
            / CAST(100 AS DOUBLE) AS small_revenue
        FROM g_lineitem l JOIN g_part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < 0.5 * (SELECT avg(l2.l_quantity)
                                    FROM g_lineitem l2
                                    WHERE l2.l_partkey = l.l_partkey)
        GROUP BY p.p_brand
        ORDER BY p.p_brand""")
    }),
    "s26_notin_suppliers" -> ((s, d) => {
      // TPC-H Q16 shape: NOT IN subquery (null-aware anti-join
      // semantics — the three-valued-logic case a plain anti join gets
      // wrong) + count(DISTINCT) per attribute pair, descending-count
      // ordering.
      t(s, d, "part").createOrReplaceTempView("g_part")
      t(s, d, "supplier").createOrReplaceTempView("g_supplier")
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT p.p_brand, p.p_type,
          CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM g_lineitem l JOIN g_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#1'
          AND l.l_suppkey NOT IN (SELECT s_suppkey FROM g_supplier
                                  WHERE s_acctbal < 1000)
        GROUP BY p.p_brand, p.p_type
        ORDER BY supplier_cnt DESC, p.p_brand, p.p_type""")
    }),
    "s27_big_orders" -> ((s, d) => {
      // TPC-H Q18 shape: IN over a grouped-HAVING subquery (large-order
      // keys), planned as a semi join against the aggregated lineitem —
      // the aggregate, not the fact, crosses the join. Quantities are
      // integer-valued doubles, so the HAVING threshold is exact.
      t(s, d, "orders").createOrReplaceTempView("g_orders")
      t(s, d, "customer").createOrReplaceTempView("g_customer")
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM g_orders o JOIN g_customer c ON c.c_custkey = o.o_custkey
        WHERE o.o_orderkey IN (SELECT l_orderkey FROM g_lineitem
                               GROUP BY l_orderkey
                               HAVING sum(l_quantity) > 150)
        ORDER BY o.o_orderkey""")
    }),
    "s44_rank_ties_topk" -> ((s, d) => {
      // RANK-with-ties top-k per group: every lineitem tied at a
      // part's 3rd-highest quantity survives — the semantic row_number
      // cannot express. Quantities are integer-valued doubles, so tie
      // groups are exact and both engines cut identically.
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT l_partkey, l_orderkey, l_linenumber, l_quantity, rnk
        FROM (SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
                CAST(rank() OVER (PARTITION BY l_partkey
                                  ORDER BY l_quantity DESC) AS BIGINT) AS rnk
              FROM g_lineitem) t
        WHERE rnk <= 3 AND l_partkey <= 200
        ORDER BY l_partkey, rnk, l_orderkey, l_linenumber""")
    }),
    "s45_filter_clause" -> ((s, d) => {
      // Aggregate FILTER (WHERE …) clauses — the SQL-standard spelling
      // of conditional aggregation (vs q03's CASE-inside-agg): one
      // pass, several differently-filtered aggregates per group.
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT l_returnflag,
          CAST(count(*) AS BIGINT) AS n_all,
          CAST(count(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_big,
          CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_discount > 0.05) AS BIGINT)
            AS n_supp_disc,
          SUM(CAST(FLOOR(l_extendedprice * CAST(100 AS DOUBLE)
                + CAST(0.5 AS DOUBLE)) AS BIGINT))
              FILTER (WHERE l_tax = 0)
            / CAST(100 AS DOUBLE) AS rev_untaxed
        FROM g_lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")
    }),
    "s43_recursive_spine" -> ((s, d) => {
      // WITH RECURSIVE (Spark 4) generating a complete monthly
      // calendar spine, LEFT-joined to the revenue rollup — the
      // zero-filled-axis reporting pattern that needs recursion (or a
      // sequence table) because months with no orders must still
      // appear. DuckDB runs the identical recursive CTE.
      t(s, d, "orders").createOrReplaceTempView("g_orders")
      s.sql("""
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
          WHERE m < DATE '2001-08-01')
        SELECT months.m,
          CAST(coalesce(rev.n, 0) AS BIGINT) AS n_orders,
          coalesce(rev.r, CAST(0 AS DOUBLE)) AS revenue
        FROM months
        LEFT JOIN (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                     count(*) AS n,
                     SUM(CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)
                           + CAST(0.5 AS DOUBLE)) AS BIGINT))
                       / CAST(100 AS DOUBLE) AS r
                   FROM g_orders GROUP BY 1) rev
          ON rev.m = months.m
        ORDER BY months.m""")
    }),
    "x87_recursive_reachability" -> ((s, d) => {
      // Recursive BFS over the customer co-purchase graph: nodes
      // within 2 hops of customer 1, with their minimum hop distance —
      // WITH RECURSIVE as the graph-walk surface next to the iterative
      // operators (x22's connected components, x76's PageRank). Both
      // engines run the identical recursion; min-distance GROUP BY
      // collapses multi-path duplicates deterministically.
      coPurchaseEdges(s, d).createOrReplaceTempView("g_x87_edges")
      s.sql("""
        WITH RECURSIVE rec AS (
          SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
          UNION ALL
          SELECT e.dst AS node, rec.depth + 1 AS depth
          FROM rec JOIN g_x87_edges e ON e.src = rec.node
          WHERE rec.depth < 2)
        SELECT node, CAST(min(depth) AS BIGINT) AS hops
        FROM rec GROUP BY node
        ORDER BY hops, node""")
    }),
    "s42_typed_agg" -> ((s, d) => {
      // The typed Dataset face: case-class rows, groupByKey, a custom
      // mergeable Aggregator (count/sum/max with an off-heap product
      // buffer) — compile-time field checking at the API edge, the
      // same partial→merge→finish contract as the native aggregates.
      // Prices enter as exact integer CENTS carried in the double
      // field (integer-valued double sums are exact to 2^53 — the
      // latticeSum discipline applied at the typed boundary, where the
      // aggregator's buffer type is fixed by the case class); the
      // presentation divides back to units.
      import s.implicits._
      import graft.ext.Typed
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("double")
            .as("o_totalprice"))
        .as[Typed.Order]
        .groupByKey(_.o_custkey)
        .agg(Typed.OrderStats.toColumn.name("s"))
        .map { case (k, v) => (k, v.n, v.total, v.max_price) }
        .toDF("o_custkey", "n", "total", "max_price")
        .select(col("o_custkey"), col("n"),
          (col("total") / 100).as("total"),
          (col("max_price") / 100).as("max_price"))
        .orderBy(col("o_custkey"))
    }),
    "s40_lateral_topn" -> ((s, d) => {
      // Correlated LATERAL subquery with ORDER BY + LIMIT — the
      // "top-n per group via join" spelling (vs the row_number window
      // spelling). Catalyst
      // decorrelates the lateral into a per-key window under the hood;
      // the deterministic (price DESC, key) tiebreak pins the cut.
      t(s, d, "customer").createOrReplaceTempView("g_customer")
      t(s, d, "orders").createOrReplaceTempView("g_orders")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM g_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM g_orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        WHERE c.c_custkey <= 200
        ORDER BY c.c_custkey, t.o_orderkey""")
    }),
    "s41_variant_json" -> ((s, d) => {
      // Spark 4 VARIANT path: parse_json → variant_get with typed
      // extraction (the open-schema semi-structured column type; the
      // engine-native successor to get_json_object string probing).
      // NULL props and missing paths surface as SQL NULLs on both
      // engines.
      t(s, d, "events").createOrReplaceTempView("g_events")
      s.sql("""
        SELECT event_id,
          variant_get(parse_json(props), '$.k', 'bigint') AS k,
          variant_get(parse_json(props), '$.missing', 'bigint') AS missing,
          CAST(parse_json(props) IS NULL AS BOOLEAN) AS no_props
        FROM g_events ORDER BY event_id""")
    }),
    "s38_string_battery" -> ((s, d) => {
      // Scalar string-function battery in one narrow pass — the
      // compatibility surface a user migrating warehouse SQL hits
      // first. Every function here has an exact DuckDB twin (initcap
      // and soundex deliberately excluded: no portable counterpart).
      t(s, d, "part").createOrReplaceTempView("g_part")
      s.sql("""
        SELECT p_partkey,
          upper(p_name) AS up, lower(p_type) AS lo,
          substring(p_name, 3, 5) AS sub,
          lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '#') AS rp,
          reverse(p_name) AS rev,
          replace(p_name, 'a', '@') AS repl,
          CAST(instr(p_name, 'e') AS BIGINT) AS pos_e,
          translate(p_type, 'AEO', 'aeo') AS tr,
          repeat(p_brand, 2) AS rep2,
          concat_ws('|', p_brand, p_type) AS joined,
          element_at(split(p_name, '_'), -1) AS last_part,
          CAST(ascii(p_name) AS BIGINT) AS first_code,
          CAST(length(p_name) AS BIGINT) AS len,
          md5(p_name) AS digest,
          regexp_extract(p_name, '([0-9]+)', 1) AS digits
        FROM g_part ORDER BY p_partkey""")
    }),
    "s39_date_battery" -> ((s, d) => {
      // Scalar date/time battery: extraction fields, truncation,
      // arithmetic, month-end — each with its DuckDB twin (DuckDB's
      // dayofweek is 0-based Sunday; the oracle shifts it to Spark's
      // 1-based convention).
      t(s, d, "orders").createOrReplaceTempView("g_orders")
      s.sql("""
        SELECT o_orderkey,
          CAST(year(o_orderdate) AS BIGINT) AS y,
          CAST(quarter(o_orderdate) AS BIGINT) AS q,
          CAST(month(o_orderdate) AS BIGINT) AS m,
          CAST(day(o_orderdate) AS BIGINT) AS dom,
          CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
          CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
          CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
          CAST(last_day(o_orderdate) AS DATE) AS month_end,
          CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
          CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus45,
          CAST(add_months(o_orderdate, 3) AS DATE) AS plus3m,
          CAST(datediff(TIMESTAMP '2001-01-01', o_orderdate) AS BIGINT) AS days_to_2001,
          make_date(year(o_orderdate), month(o_orderdate), 1) AS first_dom
        FROM g_orders ORDER BY o_orderkey""")
    }),
    "s35_order_count_distribution" -> ((s, d) => {
      // TPC-H Q13 shape: LEFT join with an ON-clause filter (customers
      // keep their zero), per-customer count, then a histogram of the
      // counts — two stacked aggregates, the outer one tiny. The join
      // filter must live in ON, not WHERE (WHERE would turn the outer
      // join inner and silently drop zero-order customers).
      t(s, d, "orders").createOrReplaceTempView("g_orders")
      t(s, d, "customer").createOrReplaceTempView("g_customer")
      s.sql("""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
              FROM g_customer c LEFT JOIN g_orders o
                ON o.o_custkey = c.c_custkey
                AND o.o_orderpriority <> '1-URGENT'
              GROUP BY c.c_custkey) t
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC""")
    }),
    "s36_forecast_revenue" -> ((s, d) => {
      // TPC-H Q6 shape: the pure scan-side query — every predicate
      // (date range, discount band, quantity cap) pushes to the
      // parquet scan, one partial-aggregated global sum. Discount
      // bounds cast to DOUBLE explicitly so both engines compare
      // against identical bits (a bare 0.02 literal is DECIMAL in
      // both dialects, but the promotion rules differ).
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT SUM(CAST(FLOOR(l_extendedprice * l_discount
                * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
            / CAST(10000 AS DOUBLE) AS revenue,
          CAST(count(*) AS BIGINT) AS n_lines
        FROM g_lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          AND l_shipdate < TIMESTAMP '1999-01-01'
          AND l_discount BETWEEN CAST(0.02 AS DOUBLE) AND CAST(0.04 AS DOUBLE)
          AND l_quantity < 10""")
    }),
    "s37_set_ops" -> ((s, d) => {
      // Set-operator family over the same pair of keyed projections:
      // INTERSECT / EXCEPT (distinct semantics) and their ALL
      // (bag-semantics) variants — Catalyst plans the distinct forms
      // as left-semi/left-anti aggregates and the ALL forms via the
      // replicate-rows rewrite; all four collapse to counts so the
      // oracle is dialect-neutral.
      t(s, d, "orders").createOrReplaceTempView("g_orders")
      s.sql("""
        SELECT 'inter' AS op, CAST(count(*) AS BIGINT) AS n FROM (
          SELECT o_custkey FROM g_orders WHERE o_orderstatus = 'F'
          INTERSECT
          SELECT o_custkey FROM g_orders WHERE o_orderstatus = 'O') t1
        UNION ALL
        SELECT 'except', CAST(count(*) AS BIGINT) FROM (
          SELECT o_custkey FROM g_orders WHERE o_orderstatus = 'F'
          EXCEPT
          SELECT o_custkey FROM g_orders WHERE o_orderstatus = 'O') t2
        UNION ALL
        SELECT 'inter_all', CAST(count(*) AS BIGINT) FROM (
          SELECT o_custkey FROM g_orders WHERE o_orderstatus = 'F'
          INTERSECT ALL
          SELECT o_custkey FROM g_orders WHERE o_orderstatus = 'O') t3
        UNION ALL
        SELECT 'except_all', CAST(count(*) AS BIGINT) FROM (
          SELECT o_custkey FROM g_orders WHERE o_orderstatus = 'F'
          EXCEPT ALL
          SELECT o_custkey FROM g_orders WHERE o_orderstatus = 'O') t4
        ORDER BY op""")
    }),
    "s28_late_orders" -> ((s, d) => {
      // TPC-H Q4 shape: correlated EXISTS whose inner predicate
      // references BOTH sides (l_shipdate > o_orderdate + 60 days) —
      // Catalyst plans a left-semi hash join on l_orderkey with the
      // date comparison as the join's residual condition, so lineitem
      // is scanned once and only the quarter's orders shuffle.
      t(s, d, "orders").createOrReplaceTempView("g_orders")
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM g_orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
          AND o.o_orderdate < TIMESTAMP '1997-07-01'
          AND EXISTS (SELECT 1 FROM g_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    }),
    "s29_nation_volume" -> ((s, d) => {
      // TPC-H Q7 shape: the fact joins two BROADCAST dimension chains
      // (supplier→nation, orders→customer→nation) with a symmetric
      // two-nation disjunction, then a (supp, cust, year) rollup. At
      // cluster scale only orders is a real shuffle partner; every
      // dimension is broadcast-sized, and the nation filter prunes
      // before the rollup.
      Seq("lineitem", "orders", "customer", "supplier", "nation")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"g_$n"))
      s.sql("""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
          SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
            / CAST(10000 AS DOUBLE) AS revenue
        FROM g_lineitem l
        JOIN g_orders o ON o.o_orderkey = l.l_orderkey
        JOIN g_customer c ON c.c_custkey = o.o_custkey
        JOIN g_supplier s ON s.s_suppkey = l.l_suppkey
        JOIN g_nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN g_nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3""")
    }),
    "s30_market_share" -> ((s, d) => {
      // TPC-H Q8 shape: one nation's share of a region's PROMO volume
      // per year. Volumes quantize to an exact 1e-4 lattice per row
      // (latticeSum discipline), so nation/total are exact BIGINTs and
      // the 6-dp share divides identical integer-derived comparands on
      // both engines — stronger than the old divide-the-rounded-sums
      // form, whose 2-dp comparands themselves flip .xx5 boundaries at
      // large magnitude.
      Seq("lineitem", "orders", "customer", "supplier", "nation",
        "region", "part")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"g_$n"))
      s.sql("""
        WITH vol AS (
          SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
            CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                 * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
              AS vq,
            n1.n_name AS supp_nation
          FROM g_lineitem l
          JOIN g_part p ON p.p_partkey = l.l_partkey
          JOIN g_orders o ON o.o_orderkey = l.l_orderkey
          JOIN g_customer c ON c.c_custkey = o.o_custkey
          JOIN g_nation n2 ON n2.n_nationkey = c.c_nationkey
          JOIN g_region r ON r.r_regionkey = n2.n_regionkey
          JOIN g_supplier s ON s.s_suppkey = l.l_suppkey
          JOIN g_nation n1 ON n1.n_nationkey = s.s_nationkey
          WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO')
        SELECT o_year,
          SUM(CASE WHEN supp_nation = 'NATION_7' THEN vq ELSE 0 END)
            / CAST(10000 AS DOUBLE) AS nation_vol,
          SUM(vq) / CAST(10000 AS DOUBLE) AS total_vol,
          ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN vq ELSE 0 END)
                     AS DOUBLE)
                / CAST(SUM(vq) AS DOUBLE), 6) AS mkt_share
        FROM vol GROUP BY o_year ORDER BY o_year""")
    }),
    "s31_nation_profit" -> ((s, d) => {
      // TPC-H Q9 shape adapted to the fixture schema: the reference's
      // ps_supplycost has no fixture twin, so cost is proxied as
      // 10% of p_retailprice per unit — same plan shape (fact × two
      // broadcast dims × orders, profit expression inside the agg,
      // (nation, year) rollup). The per-row profit term quantizes to
      // an exact 1e-4 lattice BEFORE the sum (round-of-a-double-sum at
      // ~1e7 magnitude flips .xx5 boundaries cross-engine — this query
      // was the one sf0.1 casualty of the family); the sum is then an
      // exact BIGINT under any partitioning and ships as one division.
      Seq("lineitem", "orders", "supplier", "nation", "part")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"g_$n"))
      s.sql("""
        SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
          SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)
                    - CAST(0.1 AS DOUBLE) * p.p_retailprice * l.l_quantity)
                   * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
            / CAST(10000 AS DOUBLE) AS profit
        FROM g_lineitem l
        JOIN g_part p ON p.p_partkey = l.l_partkey
        JOIN g_supplier s ON s.s_suppkey = l.l_suppkey
        JOIN g_nation n ON n.n_nationkey = s.s_nationkey
        JOIN g_orders o ON o.o_orderkey = l.l_orderkey
        WHERE p.p_size < 20
        GROUP BY 1, 2
        ORDER BY 1, 2""")
    }),
    "s32_top_returners" -> ((s, d) => {
      // TPC-H Q10 shape: returned-item revenue per customer over a
      // half-year, top 20. ORDER BY the ROUNDED revenue (identical in
      // both engines) with a key tiebreak makes the LIMIT boundary
      // deterministic; plans as TakeOrderedAndProject (bounded heap),
      // never a global sort.
      Seq("lineitem", "orders", "customer")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"g_$n"))
      s.sql("""
        SELECT c.c_custkey, c.c_name,
          ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM g_customer c
        JOIN g_orders o ON o.o_custkey = c.c_custkey
        JOIN g_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
          AND o.o_orderdate >= TIMESTAMP '1998-01-01'
          AND o.o_orderdate < TIMESTAMP '1998-07-01'
        GROUP BY 1, 2
        ORDER BY revenue DESC, c_custkey
        LIMIT 20""")
    }),
    "s33_important_parts" -> ((s, d) => {
      // TPC-H Q11 shape adapted (no partsupp fixture): per-part traded
      // value within one region's suppliers, kept only above a
      // fraction-of-global-total threshold — the scalar subquery over
      // the SAME aggregate is the Q11 signature. Per-part values are
      // exact 1e-4-lattice integers (latticeSum discipline), so the
      // GLOBAL threshold sum — the largest-magnitude comparand in the
      // corpus — is an exact integer on both engines and the filter
      // comparison cannot flip on summation order.
      Seq("lineitem", "supplier", "nation")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"g_$n"))
      s.sql("""
        WITH pv AS (
          SELECT l.l_partkey,
            SUM(CAST(FLOOR(l.l_extendedprice * l.l_quantity
                 * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS pq
          FROM g_lineitem l
          JOIN g_supplier s ON s.s_suppkey = l.l_suppkey
          JOIN g_nation n ON n.n_nationkey = s.s_nationkey
          WHERE n.n_regionkey = 2
          GROUP BY l.l_partkey)
        SELECT l_partkey, pq / CAST(10000 AS DOUBLE) AS part_value FROM pv
        WHERE CAST(pq AS DOUBLE) >
          (SELECT CAST(0.0008 AS DOUBLE) * CAST(SUM(pq) AS DOUBLE) FROM pv)
        ORDER BY part_value DESC, l_partkey""")
    }),
    "s34_promo_share" -> ((s, d) => {
      // TPC-H Q14 shape: monthly PROMO revenue share. Same
      // exact-lattice discipline as s30 (1e-4 per-row quantization →
      // exact BIGINT sums → one share division); part is the only
      // other input and broadcasts.
      Seq("lineitem", "part")
        .foreach(n => t(s, d, n).createOrReplaceTempView(s"g_$n"))
      s.sql("""
        WITH q AS (
          SELECT CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS BIGINT) AS ym,
            CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
                 * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vq,
            p.p_type AS ptype
          FROM g_lineitem l
          JOIN g_part p ON p.p_partkey = l.l_partkey)
        SELECT ym,
          SUM(CASE WHEN ptype = 'PROMO' THEN vq ELSE 0 END)
            / CAST(10000 AS DOUBLE) AS promo_rev,
          SUM(vq) / CAST(10000 AS DOUBLE) AS total_rev,
          ROUND(CAST(100 AS DOUBLE)
                * CAST(SUM(CASE WHEN ptype = 'PROMO' THEN vq ELSE 0 END) AS DOUBLE)
                / CAST(SUM(vq) AS DOUBLE), 6) AS promo_share
        FROM q GROUP BY 1 ORDER BY 1""")
    }),
    "q17_range_frame" -> ((s, d) => {
      // RANGE window frame (value-bounded, vs q10/x45's ROWS frames):
      // each event's trailing 7-day activity count per user on the
      // integer-seconds axis — frame membership is by TIME DISTANCE,
      // so sparse and bursty users get the same window semantics. The
      // count is exact; one window sort per user.
      val ev = t(s, d, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("tsec"))
        .rangeBetween(-(7L * 86400 - 1), org.apache.spark.sql.expressions.Window.currentRow)
      ev.select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("tsec"))
        .withColumn("n_7d", count(lit(1)).over(w))
        .orderBy(col("event_id"))
    }),
    "x51_cdc_apply" -> ((s, d) => {
      // MERGE INTO without a table format: a change log (updates on
      // keys %7, deletes on %11 at a HIGHER version tier, inserts under
      // fresh keys on %13) applied to the orders snapshot in ONE keyed
      // max_by aggregate — latest version wins, winning deletes remove
      // the key. Doubling a 2-decimal double is exact in binary FP, so
      // the updated prices hash cross-engine unrounded.
      val o = t(s, d, "orders")
      val snap = o.withColumn("v", lit(0L))
      val updates = o.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("v", lit(1L)).withColumn("op", lit("U"))
      val deletes = o.filter(col("o_orderkey") % 11 === 0)
        .withColumn("v", lit(2L)).withColumn("op", lit("D"))
      val inserts = o.filter(col("o_orderkey") % 13 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
        .withColumn("v", lit(1L)).withColumn("op", lit("I"))
      val changes = updates.unionByName(deletes).unionByName(inserts)
      graft.warehouse.Cdc.applyChanges(snap, changes,
          Seq("o_orderkey"), Seq("v"))
        .orderBy(col("o_orderkey"))
    }),
    "x52_manifest_skip" -> ((s, d) => {
      // file-level min/max data skipping end-to-end: lineitem re-laid
      // in z-order on (l_orderkey, l_partkey), a one-pass per-file
      // stats manifest, then a 2-dim range predicate answered by
      // reading ONLY the files whose min/max footprint overlaps the
      // bands (DataSkippingSpec gates the prune counts; here the
      // oracle proves skipping never changes the answer). At 100 TB
      // this path — not partition pruning — is what keeps a selective
      // non-partition-key predicate from scanning the table.
      import graft.warehouse.{DataSkipping, Layout}
      val li = t(s, d, "lineitem")
      val path = cachePath(d, "x52") + "/lineitem_z"
      val zb = Layout.minMaxBucket(li, Seq("l_orderkey", "l_partkey"), bits = 8)
      Layout.zOrder(zb, Seq("l_orderkey_zb", "l_partkey_zb"), bits = 8,
          partitions = Some(16))
        .drop("l_orderkey_zb", "l_partkey_zb")
        .write.mode("overwrite").parquet(path)
      val manifest = DataSkipping.buildManifest(s, path,
        Seq("l_orderkey", "l_partkey"))
      DataSkipping.skipRead(s, path, manifest, Seq(
          DataSkipping.Band("l_orderkey", Some(1000L), Some(3000L)),
          DataSkipping.Band("l_partkey", Some(100L), Some(1000L))))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_quantity"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "x53_bloom_point_skip" -> ((s, d) => {
      // bloom membership skipping for the case ranges can't separate:
      // orders hashed across 12 files on o_custkey, so every file
      // spans ~the whole o_orderkey range and min/max bands are
      // useless; the per-file bloom index (BloomBuildLong aggregate,
      // one fixed-size bitset per file shipped map-side) reads only
      // the files that MIGHT hold the probe keys, and the residual IN
      // filter kills false positives — so the result hash-matches the
      // plain IN scan.
      import graft.warehouse.DataSkipping
      val o = t(s, d, "orders")
      val path = cachePath(d, "x53") + "/orders_h"
      o.repartition(12, col("o_custkey"))
        .write.mode("overwrite").parquet(path)
      val mani = DataSkipping.buildBloomManifest(s, path, "o_orderkey",
        expectedPerFile = 1 << 15, fpp = 0.01)
      DataSkipping.pointSkipRead(s, path, mani, "o_orderkey",
          Seq(32L, 4033L, 7432L, 9988L, 14321L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),
    "x54_inverted_index" -> ((s, d) => {
      // corpus inverted index: token -> document frequency + sorted
      // posting list (serialized). minDf kills hapax noise, maxDf kills
      // stop words — and bounds every group, which is what keeps the
      // posting-list aggregate reducer-safe at 100 TB. The cap scales
      // with the corpus (80% of doc count) so the oracled output stays
      // a real multi-row index at every sf, not one surviving token.
      val docs = t(s, d, "documents")
      val maxDf = docs.count() * 4L / 5L
      TextAnalysis.invertedIndex(docs, "text", "doc_id",
        minDf = 5, maxDf = maxDf)
    }),
    "x55_winsorize_chars" -> ((s, d) =>
      // per-language exact-percentile winsorization of document length
      // — the tail-taming step before feature normalization. Integer
      // inputs keep both engines' double interpolation bit-identical.
      Quality.winsorize(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "n_chars", "lang", 0.05, 0.95)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("p_lo"), col("p_hi"), col("clipped"))
        .orderBy(col("doc_id"))),
    "x56_price_histogram" -> ((s, d) =>
      // fixed-width histogram profile per order status: pure floor
      // arithmetic (engine-portable, unlike width_bucket variants),
      // output stays |groups|×|bins| rows at any scale.
      Quality.histogram(t(s, d, "orders"), "o_totalprice", 25000.0,
        Seq("o_orderstatus"))),
    "x57_neardup_keep_best" -> ((s, d) => {
      // curation-grade near-dup keeper: inside each connected near-dup
      // component keep the LONGEST member (ties -> min id), not the
      // min id — you keep the best variant, not whichever crawled
      // first. Same corpus/pairs as x13/x22/x23.
      val corpus = perturbedCorpus(t(s, d, "documents"))
      val pairs = portablePairs(s, d)
      TextDedup.dedupByPairsKeepBest(corpus, "id", pairs, length(col("t")))
        .select(col("id").as("doc_id")).orderBy(col("doc_id"))
    }),
    "x66_sharded_export" -> ((s, d) => {
      // the export/packaging stage end-to-end: documents written as 8
      // deterministic shards, manifest computed from the READ-BACK
      // data (certifies what landed, not what was submitted); the
      // oracle recomputes it from the fixture, so a row lost or
      // duplicated anywhere in the write/read path hash-fails.
      val path = cachePath(d, "x66") + "/docs_shards"
      graft.warehouse.Export.writeShards(s,
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "doc_id", path, nShards = 8)
    }),
    "x65_source_cap" -> ((s, d) =>
      // per-source document cap (crawl-mix balancing): keep 10 docs per
      // source by salted-hash order — uniform and reproducible, not
      // ingestion-order-biased. The rank-filter window plans with a
      // partial WindowGroupLimit (≤ 10 rows per source per map task).
      graft.ext.Sampling.capPerGroup(
          t(s, d, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", "cap", 10)
        .orderBy(col("doc_id"))),
    "x64_embedding_dup_groups" -> ((s, d) => {
      // cross-tier composition: x12's LSH-bucketed embedding near-dup
      // pairs feed the SAME connected-components engine the text tier
      // uses (duplicateGroups) — semantic-duplicate clusters over
      // vectors, group id = min member. Oracle rebuilds the pairs from
      // inlined hyperplanes and replays the reachability CTE.
      val emb = t(s, d, "embeddings")
      val planes = Similarity.hyperplanes(6, 64)
      val bucketed = emb.withColumn("bucket",
        graft.functions.GraftFunctions.lshBucket64(s, col("embedding"), planes))
      val pairs = Similarity.nearDupPairs(bucketed, "embedding", "vec_id",
        "bucket", 0.3)
      TextDedup.duplicateGroups(pairs)
        .select(col("id").as("vec_id"), col("comp").as("group_id"))
        .orderBy(col("vec_id"))
    }),
    "x116_containment_pairs" -> ((s, d) => {
      // Containment-scored near-dup pairs (Broder containment; the LSH
      // Ensemble motivation): corpus = documents ∪ excerpt copies (the
      // first ⌊tokens/3⌋ tokens, id+1000000) — each excerpt scores
      // c_ab ≈ 1 against its base while the pair's Jaccard is ≈ 1/3,
      // i.e. exactly the quote/subset duplicates a Jaccard-tuned
      // MinHash-LSH pass structurally misses. Candidates come from
      // rare-shingle blocking (df ∈ [2, maxDf] postings — the bucket-cap
      // discipline applied to an inverted index); all three scores are
      // integer-ratio doubles, so DuckDB replays the whole pipeline.
      // stagingPath (inside containmentPairsOf): the shingle table
      // spills to parquet (re-read by the three consumer branches)
      // instead of a session persist — no cached frame survives the
      // query (the x114 leak lesson), and it is the documented
      // beyond-memory shape anyway
      containmentPairsOf(excerptCorpus(t(s, d, "documents")), d, "x116")
        .orderBy(col("id_a"), col("id_b"))
    }),
    "x117_threshold_sweep" -> ((s, d) => {
      // Filter-calibration sweep (the PR curve of "keep iff score >= t"
      // for every attained threshold): integer score = n_chars, label =
      // English — the step between training a quality/language
      // classifier (x114) and applying it as a corpus gate (x40). All
      // counts exact; precision/recall integer-ratio doubles; F1 one
      // identical IEEE mul/div chain on both engines.
      Quality.thresholdSweep(
        t(s, d, "documents").select(col("n_chars"), col("lang")),
        "n_chars", col("lang") === "en")
    }),
    "x118_snapshot_ann" -> ((s, d) => {
      // O(delta) ANN index maintenance on a versioned table: embeddings
      // arrive as three commits; the coarse quantizer is fit once and
      // each commit dir is assigned to its fixed centroids once, cached
      // under _stats (the x88/x110 maintenance discipline applied to
      // vector search — new commits never re-touch indexed data).
      // Probe-ALL batch top-k over the incrementally-built index is
      // exact by construction, so the entire maintenance loop sits
      // under x99's brute-force oracle. In-query table build per the
      // x52 convention; the serving probe is the cheap tail.
      import graft.warehouse.Snapshots
      val path = cachePath(d, "x118") + "/tbl"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val emb = t(s, d, "embeddings")
      (0 until 3).foreach(m => Snapshots.append(s, path,
        emb.filter(pmod(col("vec_id"), lit(3)) === m)))
      val model = Snapshots.annIndex(s, path, "embedding", "vec_id", k = 8)
      val queries = emb.filter(col("vec_id") % 101 === 0)
      graft.ext.IvfIndex.batchTopK(model, queries, "embedding", "vec_id",
          k = 5, nProbes = 8)
        .orderBy(col("query_id"), col("rank"))
    }),
    "x119_cohen_kappa" -> ((s, d) => {
      // Labeling-QA verb: chance-corrected agreement (Cohen's κ)
      // between two rule labelers over the same documents — here a
      // char-length rater vs a token-count rater (correlated, so κ is
      // well above chance). One contingency aggregate; po and pe are
      // integer ratios (the cross-marginal product sums as a bigint
      // before the divide), κ one IEEE chain — all replayed in DuckDB.
      val docs = t(s, d, "documents")
      val toks = size(split(regexp_replace(lower(trim(col("text"))),
        "\\s+", " "), " "))
      Quality.cohenKappa(docs,
        when(col("n_chars") >= 500, "long").otherwise("short"),
        when(toks >= 80, "long").otherwise("short"))
    }),
    "x120_token_entropy" -> ((s, d) =>
      // Token-distribution entropy per document (low = templated/spam
      // mass concentration — the quality axis the repetition gates
      // (x21) miss when no single n-gram repeats enough). Sorted-
      // distinct fold keeps the double accumulation order a pure
      // function of the row (x62 discipline) — DuckDB replays it
      // term-for-term.
      TextAnalysis.tokenEntropy(t(s, d, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))),
    "x121_rrf_fusion" -> ((s, d) => {
      // Hybrid-retrieval fusion: two independent lexical retrievers —
      // distinct-token overlap and 3-shingle Jaccard — rank the corpus
      // for 6 probe documents (doc_id 0-5); reciprocal-rank fusion
      // (k0=60) combines the rankings without score calibration. The
      // probe side is 6 rows (broadcast); every downstream exchange is
      // bounded by perSourceK·|queries|·|sources|, never the corpus.
      val docs = t(s, d, "documents")
      // distinct once per document BEFORE the 6-query nested-loop join
      // (array_distinct inside the join condition's projection would
      // re-deduplicate every doc's token array once per query row —
      // 6× the work for identical results, guide §2.3 "project before
      // the exchange" applied to a broadcast nested loop)
      val toks = docs.select(col("doc_id"),
        array_distinct(TextDedup.tokens(col("text"))).as("toks"))
      val q = toks.filter(col("doc_id") <= 5)
        .select(col("doc_id").as("query_id"), col("toks").as("qtoks"))
      val overlap = q.join(toks, col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          size(array_intersect(col("qtoks"), col("toks")))
            .cast("double").as("score"))
      // distinct once per document (like the token arrays above) so the
      // 6×|corpus| verify walks minimal arrays, and the
      // inclusion–exclusion Jaccard replaces array_union's
      // allocate-and-dedup pass — set-identical scores
      val sh = docs.select(col("doc_id"),
        array_distinct(graft.functions.GraftFunctions
          .shingles(s, TextDedup.tokens(col("text")), 3)).as("sh"))
      val qsh = sh.filter(col("doc_id") <= 5)
        .select(col("doc_id").as("query_id"), col("sh").as("qsh"))
      val jac = qsh.join(sh, col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          TextDedup.distinctJaccard(col("qsh"), col("sh")).as("score"))
      Retrieval.rrfFuse(Seq(overlap, jac), "query_id", "doc_id", "score",
          k0 = 60, perSourceK = 20, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    }),
    "x122_rouge_bigram" -> ((s, d) => {
      // Generation-eval scorer: clipped bigram overlap (ROUGE-2 shape)
      // between consecutive documents as candidate/reference pairs.
      // precision/recall/F1 are integer ratios — bit-exact cross-engine;
      // the whole operator is narrow (no shuffle beyond the id join).
      val docs = t(s, d, "documents")
      val a = docs.select(col("doc_id").as("id_a"), col("text").as("cand"))
      val b = docs.select(col("doc_id").as("id_b"), col("text").as("ref"))
      TextAnalysis.rougeN(
          a.join(b, col("id_b") === col("id_a") + 1), "cand", "ref", 2)
        .select(col("id_a"), col("id_b"), col("n_cand"), col("n_ref"),
          col("clipped"), col("precision"), col("recall"), col("f1"))
        .orderBy(col("id_a"))
    }),
    "x123_mmr_diversify" -> ((s, d) => {
      // Diversity re-rank: per probe vector (vec_id < 3) the label
      // bucket is ranked by cosine relevance, then MMR (λ=0.7, k=5)
      // greedily picks mutually-dissimilar high-relevance results. The
      // whole greedy loop is ONE narrow higher-order fold per query row
      // — no UDF, no per-step shuffle; DuckDB replays it step by step.
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qemb"), col("label"))
      val cand = q.join(emb, "label")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(graft.functions.GraftFunctions.cosineSim(s,
            col("qemb"), col("embedding")), 6).as("rel"),
          col("embedding"))
      Retrieval.mmrSelect(cand, "query_id", "vec_id", "embedding", "rel",
          lambdaWeight = 0.7, k = 5)
        .orderBy(col("query_id"), col("step"))
    }),
    "x124_split_leakage" -> ((s, d) => {
      // Split-hygiene audit: the x116 excerpt corpus (each doc plus a
      // first-third excerpt copy) hash-splits 75/12.5/12.5, then the
      // containment near-dup pairs are cross-tabulated against the
      // assignment — cross_split=true rows are eval contamination a
      // deterministic per-doc split cannot prevent. Contingency-sized
      // output; everything upstream is the already-oracled machinery.
      val corpus = excerptCorpus(t(s, d, "documents"))
      val pairs = containmentPairsOf(corpus, d, "x124")
      val assign = graft.ext.Sampling.hashSplit(
        corpus.select(col("id")), "id", "split", 0.75, 0.125)
      graft.ext.Sampling.splitLeakage(pairs, "id_a", "id_b",
          assign, "id", "split")
        .orderBy(col("split_lo"), col("split_hi"))
    }),
    "x125_mutual_info" -> ((s, d) => {
      // Dataset-audit dependence: MI(lang; source) with marginal
      // entropies and normalized MI — is the language mix confounded
      // with the crawl source? One contingency pass; every double sum
      // folds in sorted category order (x119/x120 discipline).
      Quality.mutualInfo(t(s, d, "documents"), col("lang"), col("source"))
    }),
    "x126_group_split_leakage" -> ((s, d) => {
      // The FIX x124 motivates: split by dup-CLUSTER instead of by doc.
      // Both endpoints of every near-dup pair share a connected
      // component, so the leakage matrix comes back with zero
      // cross_split rows — verified value-for-value by the oracle's
      // recursive-component + sha256 replay, and structurally by spec.
      val corpus = perturbedCorpus(t(s, d, "documents"))
      val pairs = portablePairs(s, d)
      val groups = TextDedup.duplicateGroups(pairs)
      val assign = graft.ext.Sampling.groupHoldoutSplit(
        corpus.select(col("id")), "id", groups, "id", "comp",
        "gsplit", 0.75, 0.125)
      graft.ext.Sampling.splitLeakage(pairs, "id_a", "id_b",
          assign.select(col("id"), col("split")), "id", "split")
        .orderBy(col("split_lo"), col("split_hi"))
    }),
    "x127_cluster_weighted_sample" -> ((s, d) => {
      // Dedup-WEIGHTED sampling: instead of dropping near-duplicates,
      // weight each doc 1/|its dup cluster| so every cluster gets equal
      // expected representation — boilerplate mass stops dominating the
      // mix while unique docs keep full odds. Composes the component
      // labeling with the A-Res priority cut (both already oracled);
      // the weight division happens BEFORE the priority divide, so the
      // IEEE chain replays exactly.
      val corpus = perturbedCorpus(t(s, d, "documents"))
      val groups = TextDedup.duplicateGroups(portablePairs(s, d))
      val sized = corpus.select(col("id"))
        .join(groups, Seq("id"), "left")
        .withColumn("group_key", coalesce(col("comp"), col("id")))
      val cs = sized.groupBy(col("group_key"))
        .agg(count(lit(1)).as("cluster_size"))
      graft.ext.Sampling.prioritySample(sized.join(cs, "group_key"),
          "id", "cw", lit(1.0) / col("cluster_size"), k = 100)
        .select(col("id"), col("group_key"), col("cluster_size"),
          col("priority"))
        .orderBy(col("id"))
    }),
    "x129_split_repair" -> ((s, d) => {
      // The trilogy closer (audit x124 → prevent x126 → REPAIR): the
      // published hash split over the excerpt corpus is rewritten so no
      // containment pair crosses splits, train frozen. Components make
      // the closure exact in one pass — a direct-link demotion would
      // miss eval↔eval↔train chains. Output: the move summary.
      val corpus = excerptCorpus(t(s, d, "documents"))
      val pairs = containmentPairsOf(corpus, d, "x129")
      val assign = graft.ext.Sampling.hashSplit(
        corpus.select(col("id")), "id", "split", 0.75, 0.125)
      graft.ext.Sampling.repairSplitLeakage(assign, "id", "split", pairs)
        .groupBy(col("split_orig"), col("split"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("split_orig"), col("split"))
    }),
    "x132_principal_axis" -> ((s, d) =>
      // PCA top-axis projection: integer-lattice covariance (exact,
      // partition-order-free), 20 unnormalized power-iteration steps on
      // the driver's d×d matrix, narrow centered projection — every
      // arithmetic step replayed in DuckDB. The fixture embeddings are
      // near-isotropic, so the oracle pins engine determinism; the
      // spec's anisotropic fixture pins convergence semantics.
      Embeddings.principalAxis(t(s, d, "embeddings"), "embedding", "vec_id")
        .orderBy(col("vec_id"))),
    "x133_pca_plane" -> ((s, d) =>
      // Top-2 PCA map view: x132's engine-exact machinery plus ONE
      // Hotelling deflation (C ← C − λ·v·vᵀ, λ = vᵀCv with the same
      // left folds) — both axes and both projections replayed in
      // DuckDB. The 2-D embedding map every corpus audit wants.
      Embeddings.principalComponents(
          t(s, d, "embeddings"), "embedding", "vec_id", k = 2)
        .orderBy(col("vec_id"))),
    "x130_mixture_reweight" -> ((s, d) =>
      // Data-mixing plan: rebalance the corpus language mix to a
      // uniform 0.2 target WITHOUT upsampling — per-lang keep_prob,
      // normalized so the most under-target group keeps everything.
      // One corpus aggregate; everything downstream |groups|-sized.
      graft.ext.Sampling.mixtureWeights(t(s, d, "documents"), "lang",
          Map("en" -> 0.2, "es" -> 0.2, "fr" -> 0.2, "de" -> 0.2,
            "zh" -> 0.2))
        .orderBy(col("group"))),
    "x131_source_percentile" -> ((s, d) =>
      // Per-source percentile calibration: the within-source
      // percent_rank of n_chars — the rank normalization that makes
      // scores comparable across domains before mixing. The window
      // partitions by source, so each sort holds one source's rows.
      Quality.percentileNormalize(t(s, d, "documents"), "source", "n_chars")
        .select(col("doc_id"), col("source"), col("n_chars"), col("pct"))
        .orderBy(col("doc_id"))),
    "x128_nearest_centroid" -> ((s, d) =>
      // Embedding-quality probe: nearest-centroid confusion matrix
      // over the integer-lattice label centroids. The centroid set
      // broadcasts as ONE row; per-vector argmax is a narrow HOF over
      // the scan — the only exchange is the contingency-sized matrix.
      Embeddings.nearestCentroidConfusion(
          t(s, d, "embeddings"), "embedding", "label")
        .orderBy(col("label"), col("pred"))),
    "x115_incremental_mv_sample" -> ((s, d) => {
      // Incrementally-maintained deterministic weighted sample (A-Res
      // top-5 event_ids per (day, type), weight ∝ integer cents) — the
      // per-stratum training-sample-that-stays-fresh verb: three deltas
      // merge top-k states (top-k of a union of top-k's IS top-k of the
      // union, so the law is exact), and the oracle recomputes the
      // sample from scratch with x97's portable priority arithmetic.
      import graft.stream.{IncrementalMv, MvAgg}
      val agg = MvAgg.prioritySample(5)
      val path = cachePath(d, "x115") + "/mv_ares"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val ev = t(s, d, "events")
      val v = struct(col("event_id").as("id"),
        round(col("value") * 100).as("w"))
      (0 until 3).foreach(m => IncrementalMv.applyAggDelta(
        ev.filter(pmod(col("event_id"), lit(3)) === m), m, path,
        "ts", "event_type", v, agg))
      IncrementalMv.readAgg(s, path, agg)
        .select(col("day"), col("key"),
          posexplode(col("value")).as(Seq("r0", "t")))
        .select(col("day"), col("key"),
          (col("r0") + 1).cast("bigint").as("rank"),
          col("t.id").as("event_id"), (-col("t.np")).as("priority"))
        .orderBy(col("day"), col("key"), col("rank"))
    }),
    "x114_nb_lang_classify" -> ((s, d) => {
      // Learned language/domain routing (the fastText-style filter
      // stage of a curation pipeline) as portable arithmetic: train
      // multinomial naive Bayes on the even doc_ids, classify the odd
      // half. Every count is exact, the per-(doc, label) log-prob fold
      // is position-ordered (x62's determinism discipline), and the
      // argmax tie rule is explicit — so DuckDB replays training AND
      // inference end-to-end, scores included.
      import graft.ext.TextClassify
      val docs = t(s, d, "documents")
      val model = TextClassify.trainNaiveBayes(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "lang")
      val out = TextClassify.classify(model,
          docs.filter(pmod(col("doc_id"), lit(2)) === 1), "text", "doc_id")
        .select(col("id").as("doc_id"), col("pred"), col("score"))
        .orderBy(col("doc_id"))
      // release the model's cached counts NOW: a repeatedly-invoked
      // bench query must not leave one cached frame per run. The
      // classify execution recomputes the (small) count lineage once —
      // the pre-cache training shape, traded for a leak-free session.
      model.unpersist()
      out
    }),
    "x113_incremental_mv_distinct" -> ((s, d) => {
      // Distinct-users-per-(day, type) maintained INCREMENTALLY as a
      // KMV-state MV (x111's loop with a sketch state): three deltas
      // merge bottom-k hash sets per group — the KMV merge law is
      // exact, and below saturation (distinct < k) the state IS the
      // distinct set, so the served estimate equals COUNT(DISTINCT)
      // exactly and DuckDB can value-check the whole maintenance loop.
      import graft.stream.{IncrementalMv, MvAgg}
      val agg = MvAgg.kmvDistinct(8192)
      val path = cachePath(d, "x113") + "/mv_kmv"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val ev = t(s, d, "events")
      (0 until 3).foreach(m => IncrementalMv.applyAggDelta(
        ev.filter(pmod(col("event_id"), lit(3)) === m), m, path,
        "ts", "event_type", col("user_id"), agg))
      IncrementalMv.readAgg(s, path, agg)
        .select(col("day"), col("key"),
          col("value").cast("long").as("n_users"))
        .orderBy(col("day"), col("key"))
    }),
    "x112_ivf_pq_rerank" -> ((s, d) => {
      // IVF + quantized re-rank (the PQ memory/IO shape): approximate
      // cosine on PACKED int8 codes (binary, one byte/dim — the narrow
      // table) inside the probed clusters, exact float re-rank of the
      // survivors only. Oracle mode probes ALL clusters with the rerank
      // cut above the corpus size, so nothing is approximated away and
      // the result must equal the x99 brute-force replay bit-for-bit;
      // the production shape (nProbes<k, rerank=4k) is recall-pinned in
      // ExtSpec and stress-timed in ScaleStress.
      val emb = t(s, d, "embeddings")
      val model = graft.ext.IvfIndex.fit(emb, "embedding", "vec_id", k = 8)
      val codes = graft.ext.IvfIndex.codes(model, "embedding", "vec_id")
      val queries = emb.filter(col("vec_id") % 97 === 0)
      graft.ext.IvfIndex.batchTopKQuantized(model, codes, queries,
          "embedding", "vec_id", k = 5, nProbes = 8, rerank = 1000000)
        .orderBy(col("query_id"), col("rank"))
    }),
    "x111_incremental_mv" -> ((s, d) => {
      // Incrementally-maintained MV (ST10 generalized to mergeable
      // aggregate states — the ClickHouse-MV rollup shape, reference
      // DDL:236-439): events arrive in three deltas (pmod(event_id, 3)),
      // each merged into ONLY its touched day partitions through the
      // staged-commit loop; the read-back serves the MV, never the fact
      // history. Integer-cents SUM keeps the state bit-exact
      // cross-engine; the oracle recomputes the rollup from scratch —
      // incremental == recompute is the law being oracled.
      // Bench accounting: ~4 s at sf0.1 is three FULL maintenance
      // cycles (delta agg + merge + staged write + 30-partition dynamic
      // overwrite + ledger, ×3) measured in-query — the x52 in-query-
      // build convention. The serving read alone is the cheap tail.
      import graft.stream.{IncrementalMv, MvAgg}
      val path = cachePath(d, "x111") + "/mv_sum"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val ev = t(s, d, "events")
      (0 until 3).foreach(m => IncrementalMv.applyAggDelta(
        ev.filter(pmod(col("event_id"), lit(3)) === m), m, path,
        "ts", "event_type", round(col("value") * 100), MvAgg.sumOf))
      IncrementalMv.readAgg(s, path, MvAgg.sumOf)
        .select(col("day"), col("key"),
          col("value").cast("long").as("cents"))
        .orderBy(col("day"), col("key"))
    }),
    "x110_snapshot_quantiles" -> ((s, d) => {
      // Incremental quantiles over a VERSIONED table: three commits,
      // each KLL-sketched once into _stats, serialized sketches folded
      // on the driver by the merge law, quantiles resolved from the
      // merged ladder. Exact regime (k ≥ table rows), so the oracle is
      // the whole-fixture rank-⌈q·n⌉ order statistics — x100's
      // arithmetic reached WITHOUT rescanning the table (≤ one sketch
      // blob per commit dir is all the fold reads).
      import graft.warehouse.Snapshots
      val path = cachePath(d, "x110") + "/docs_kll"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
      (0 until 3).foreach(m => Snapshots.append(s, path,
        docs.filter(pmod(col("doc_id"), lit(3)) === m).coalesce(1)))
      Snapshots.quantileSketch(s, path, "n_chars",
          Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99), k = 8192)
        .select(col("qi"), col("value"))
        .orderBy(col("qi"))
    }),
    "x109_chat_truncation" -> ((s, d) => {
      // Context-window truncation over synthesized transcripts with
      // REAL token spread (content = event_type + props JSON): keep
      // system turns + the longest user-led suffix within 40 tokens.
      // The oracle re-derives suffix costs with a reverse-running
      // window sum and picks the same minimal start; the re-serialized
      // chat column stays spec-tested (JSON building has no SQL twin
      // worth hashing), so the oracled projection is the decision.
      val ev = t(s, d, "events")
      val role = when(col("event_type") === "signup", lit("system"))
        .when(col("event_type").isin("click", "view"), lit("user"))
        .otherwise(lit("assistant"))
      val content = concat_ws(" ", col("event_type"),
        coalesce(col("props"), lit("")))
      val chats = ev.select(col("user_id"), col("ts"), col("event_id"),
          struct(role.as("role"), content.as("content")).as("turn"))
        .groupBy(col("user_id"))
        .agg(to_json(expr(
          "transform(array_sort(collect_list(struct(ts, event_id, turn)))," +
            " x -> x.turn)")).as("chat"))
      graft.ext.TextAnalysis.truncateChat(chats, "chat", "user_id",
          budget = 40)
        .select(col("id"), col("n_kept"), col("tokens_kept"), col("fits"))
        .orderBy(col("id"))
    }),
    "x108_preference_pairs" -> ((s, d) => {
      // DPO/RLHF preference-pair QA on synthesized pairs: chosen =
      // x107's transcript, rejected = same with the final content
      // REVERSED (equal prefix by construction — the HOF still has to
      // prove it — and divergence exactly when the last content isn't
      // blank). Both transcripts run the full chat contract side by
      // side; the oracle replays every verdict relationally.
      val ev = t(s, d, "events")
      val role = when(col("event_type") === "signup", lit("system"))
        .when(col("event_type").isin("click", "view"), lit("user"))
        .otherwise(lit("assistant"))
      val content = when(col("value") < 5, lit(""))
        .otherwise(col("event_type"))
      val chats = ev.select(col("user_id"), col("ts"), col("event_id"),
          struct(role.as("role"), content.as("content")).as("turn"))
        .groupBy(col("user_id"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(ts, event_id, turn)))," +
            " x -> x.turn)").as("_turns"))
        .withColumn("chosen", to_json(col("_turns")))
        .withColumn("rejected", to_json(expr(
          "concat(slice(_turns, 1, size(_turns) - 1), " +
            "array(named_struct('role', element_at(_turns, -1).role, " +
            "'content', reverse(element_at(_turns, -1).content))))")))
      graft.ext.TextAnalysis.validatePreferencePairs(
          chats, "chosen", "rejected", "user_id")
        .orderBy(col("id"))
    }),
    "x107_chat_validation" -> ((s, d) => {
      // Instruction-data QA: each user's event stream becomes a chat
      // transcript (signup→system, click/view→user, purchase/error→
      // assistant; low-value events get blank content), serialized to
      // the {role, content}[] JSON shape and pushed through the full
      // validateChat gate — opening role, no late system, strict
      // user/assistant alternation, assistant close, no blank turns.
      // The oracle evaluates the identical contract relationally over
      // the same ordered turns, so every verdict bit is value-checked.
      val ev = t(s, d, "events")
      val role = when(col("event_type") === "signup", lit("system"))
        .when(col("event_type").isin("click", "view"), lit("user"))
        .otherwise(lit("assistant"))
      val content = when(col("value") < 5, lit(""))
        .otherwise(col("event_type"))
      val chats = ev.select(col("user_id"), col("ts"), col("event_id"),
          struct(role.as("role"), content.as("content")).as("turn"))
        .groupBy(col("user_id"))
        .agg(to_json(expr(
          "transform(array_sort(collect_list(struct(ts, event_id, turn)))," +
            " x -> x.turn)")).as("chat"))
      graft.ext.TextAnalysis.validateChat(chats, "chat", "user_id")
        .orderBy(col("id"))
    }),
    "x106_hard_negatives" -> ((s, d) => {
      // Hard-negative mining: per vector, top-2 in-band [0.2, 0.8)
      // neighbors within its label bucket — informative negatives
      // below the near-dup ceiling, band applied BEFORE the per-query
      // heap (x19's machinery with the mining cut).
      Similarity.hardNegatives(t(s, d, "embeddings"), "embedding",
          "vec_id", "label", k = 2, loSim = 0.2, hiSim = 0.8)
        .orderBy(col("query_id"), col("rank"))
    }),
    "x105_negative_sample" -> ((s, d) => {
      // Deterministic negative sampling (contrastive-training prep):
      // 3 pseudo-random non-self documents per anchor, drawn by salted
      // hash of (anchor, j) modulo N over the dense hash-order
      // positions — no RNG state, no cross join; draws landing on the
      // anchor drop (pure-function contract). The oracle replays the
      // position assignment and the modulo draws hash-for-hash.
      graft.ext.Sampling.negativeSample(
          t(s, d, "documents"), "doc_id", "negx105", k = 3)
        .orderBy(col("anchor"), col("j"))
    }),
    "x104_numeric_drift" -> ((s, d) => {
      // PSI per event type over fixed equi-width value bins (10 bins on
      // [0, 500)) vs the pooled distribution — the numeric-feature
      // monitoring twin of x78's categorical KL/chi². Fixed edges keep
      // the binning a pure per-row function (deterministic,
      // incremental, cross-engine); 1e-6 smoothing on group-empty bins.
      graft.ext.Drift.numericDrift(t(s, d, "events"), "event_type",
          "value", nBins = 10, lo = 0.0, hi = 500.0)
        .select(col("event_type"), col("n"), round(col("psi"), 6).as("psi"))
        .orderBy(col("event_type"))
    }),
    "x103_bpe_encode" -> ((s, d) => {
      // Tokenizer ENCODE: learn the 8-round merge table (x83's loop)
      // then APPLY it to every document with the same ordered greedy
      // fold — the half of BPE a pipeline actually runs at 100 TB.
      // Output is the per-doc compression diagnostic (words, chars,
      // post-merge tokens); the oracle re-learns the identical table
      // and applies it through the word→sequence mapping, so merge
      // ORDER and fold semantics are both value-checked end to end.
      val docs = t(s, d, "documents")
      val merges = graft.ext.TextAnalysis.learnBpeMerges(docs, "text", 8)
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ext.TextAnalysis.applyBpeMerges(docs, "text", "doc_id", merges)
        .select(col("id").as("doc_id"), col("n_words"),
          col("n_chars_tokenized"), col("n_tokens"))
        .orderBy(col("doc_id"))
    }),
    "x102_personalized_pagerank" -> ((s, d) => {
      // Random walk with restart from customer 1 (personalized
      // PageRank) over the staged customer→supplier purchase graph:
      // proximity-to-source scores, unreachable nodes exactly 0. Same
      // power-iteration machinery as x76 with the teleport swapped —
      // the oracle replays the indicator base term through the same
      // chained CTEs. Zero-rank rows (unreachable nodes — most of the
      // graph) are pruned on BOTH sides: the useful output is the
      // proximity ranking, not a zero for every other customer.
      graft.ext.Graph.pageRank(custSupplierEdges(s, d), iterations = 3,
          personalized = Some(1L))
        .select(col("node"), round(col("rank"), 8).as("rank"))
        .filter(col("rank") > 0)
        .orderBy(col("node"))
    }),
    "x101_session_windows" -> ((s, d) => {
      // Spark's native session_window in BATCH under a DuckDB
      // gaps-and-islands oracle — value-checks the merge semantics
      // (half-open [start, last+gap): an event exactly `gap` after the
      // previous one starts a NEW session) that the ST8 stream==batch
      // parity spec ties to the streaming path; x26's lag/cumsum
      // sessionize is the hand-rolled twin of the same islands.
      t(s, d, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("sw.start").as("s_start"),
          col("sw.end").as("s_end"), col("n"))
        .orderBy(col("user_id"), col("s_start"))
    }),
    "x100_kll_quantiles" -> ((s, d) => {
      // Mergeable KLL quantile sketch in its EXACT regime (n ≤ k → no
      // compaction ever fires; the x79 GK trick, but this sketch
      // MERGES — partial aggregation across partitions IS the merge
      // law, spec-pinned in SketchSpec with an O(n/k) rank-error band
      // past the regime). Returns the rank-⌈q·n⌉ order statistic per
      // requested q; both engines compute ⌈q·n⌉ in IEEE double, so the
      // rank choice can never diverge at representation boundaries.
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      t(s, d, "documents")
        .agg(graft.functions.GraftFunctions.kllQuantiles(s,
          col("n_chars").cast("double"), 8192, qs).as("qv"))
        .select(posexplode(col("qv")).as(Seq("qi", "v")))
        .select(col("qi").cast("bigint").as("qi"), col("v"))
        .orderBy(col("qi"))
    }),
    "x99_ivf_batch_topk" -> ((s, d) => {
      // Batch IVF probe: top-5 neighbors for every 97th vector through
      // the learned-quantizer index in ONE distributed pass (centroid
      // broadcast → per-query probe set → cluster-key join → reducing
      // top-k heap). Probe-all (nProbes = k) is exact by construction —
      // x10's oracle trick, batched — so the DuckDB brute-force replay
      // value-checks the whole machinery; recall at nProbes < k is
      // pinned in ExtSpec.
      val emb = t(s, d, "embeddings")
      val model = graft.ext.IvfIndex.fit(emb, "embedding", "vec_id", k = 8)
      val queries = emb.filter(col("vec_id") % 97 === 0)
      graft.ext.IvfIndex.batchTopK(model, queries, "embedding", "vec_id",
          k = 5, nProbes = 8)
        .orderBy(col("query_id"), col("rank"))
    }),
    "x98_bfs_distances" -> ((s, d) => {
      // Driver-loop BFS over the co-purchase graph: min hops from
      // customer 7 within 3 levels — the scale twin of x87's WITH
      // RECURSIVE walk. The recursion re-derives every path of every
      // length and leans on the final GROUP BY to collapse them
      // (exponential on dense graphs); BFS's visited-set anti-join
      // keeps each level frontier-bounded, and `checkpointEvery`
      // truncates the loop's lineage through the shared staging dir.
      graft.ext.Graph.bfsDistances(coPurchaseEdges(s, d), 7L, 3,
          checkpointEvery = 2, stagingDir = Some(cachePath(d, "bfsstage")))
        .select(col("node"), col("hops"))
        .orderBy(col("hops"), col("node"))
    }),
    "x97_priority_sample" -> ((s, d) => {
      // A-Res weighted sampling WITHOUT replacement: exact k=100 docs,
      // inclusion odds ∝ n_chars, no duplicates by construction — the
      // complement of x30's independent Bernoulli. 9-dp-rounded
      // priorities + id tiebreak make the cut engine-stable; plans as
      // a bounded heap.
      graft.ext.Sampling.prioritySample(
        t(s, d, "documents"), "doc_id", "ares", col("n_chars"), k = 100)
        .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))
        .orderBy(col("doc_id"))
    }),
    "x96_share_of_total" -> ((s, d) => {
      // ratio-to-report: each month's revenue as a share of its year's
      // total via an aggregate-then-window two-level plan (the BI
      // staple). Month sums are exact-lattice CENTS (integers), so the
      // window total and the 6-dp share divide identical integer-
      // derived comparands on both engines; presentation divides back
      // to units at the end.
      val monthly = t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).cast("bigint").as("y"),
          month(col("o_orderdate")).cast("bigint").as("m"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("_cents"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("y"))
      monthly
        .withColumn("_year_cents", sum(col("_cents")).over(w))
        .select(col("y"), col("m"),
          (col("_cents") / lit(100.0)).as("rev"),
          round(col("_cents").cast("double") / col("_year_cents"), 6)
            .as("share"))
        .orderBy(col("y"), col("m"))
    }),
    "x94_transition_matrix" -> ((s, d) => {
      // First-order Markov transition counts between consecutive
      // events per user (the path-analysis primitive behind sankey /
      // next-action dashboards): lag over (user ORDER BY ts, event_id)
      // — the id tiebreak totalizes equal timestamps — then one count
      // rollup and an integer-ratio probability. One window sort, one
      // aggregate.
      val ev = t(s, d, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val trans = ev
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val outTotals = trans.groupBy(col("prev_type"))
        .agg(sum(col("n")).as("n_out"))
      trans.join(outTotals, "prev_type")
        .select(col("prev_type"), col("next_type"), col("n"),
          (col("n").cast("double") / col("n_out")).as("p"))
        .orderBy(col("prev_type"), col("next_type"))
    }),
    "x95_skew_report" -> ((s, d) => {
      // Join-key skew diagnostics BEFORE the join bill arrives: key
      // count, max key share, and the Gini coefficient of the key
      // distribution — 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over counts sorted
      // ascending with a key tiebreak (exact integers, one division).
      // Flat keys → Gini ≈ 0; one hot key → → 1. Pairs with
      // warehouse/Skew's salting: this report says WHEN to salt.
      val counts = t(s, d, "lineitem")
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt"), col("l_suppkey"))
      val ranked = counts.withColumn("i", row_number().over(w))
      ranked.agg(
          count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("total"),
          max(col("cnt")).as("max_cnt"),
          sum(col("i") * col("cnt")).as("iwsum"))
        .select(
          col("n_keys").cast("bigint").as("n_keys"),
          (col("max_cnt").cast("double") / col("total")).as("max_share"),
          (lit(2.0) * col("iwsum") / (col("n_keys") * col("total"))
            - (col("n_keys") + 1).cast("double") / col("n_keys")).as("gini"))
    }),
    "x92_table_profile" -> ((s, d) => {
      // Dataset-card column profile of events: rows / nulls / exact
      // distincts / null fraction per column in one logical scan
      // (conditional sums + the multi-distinct Expand). Exact integers
      // and integer ratios — no rounding.
      graft.warehouse.Checks.profile(t(s, d, "events"),
        Seq("event_id", "user_id", "event_type", "value", "props"))
        .orderBy(col("column"))
    }),
    "x90_window_funnel" -> ((s, d) => {
      // ClickHouse-style windowFunnel (earliest-anchor greedy
      // semantics, documented on the operator): view → click →
      // purchase within 7 days of the anchor, per user. k tiny grouped
      // min-aggregates joined on user_id; the oracle replays the
      // identical chained stages. Integer-seconds timestamps — exact.
      graft.olap.Funnel.windowFunnel(
        t(s, d, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), windowSec = 7L * 86400)
        .orderBy(col("user_id"))
    }),
    "x91_retention" -> ((s, d) => {
      // ClickHouse-style retention: weekly cohorts by first event,
      // offsets 0..3, integer-exact counts and ratio-of-counts pct.
      graft.olap.Funnel.retention(
        t(s, d, "events"), "user_id", "ts", periodSec = 7L * 86400,
        maxOffset = 3)
        .orderBy(col("cohort"), col("offset"))
    }),
    "x89_temperature_sample" -> ((s, d) => {
      // α=0.5 temperature mixing over sources: integer-sqrt weights
      // (engine-exact where pow() would wobble a ulp into the keep
      // threshold), target 30% of the corpus, rates = (T·w)/(Σw·n) as
      // one double division from integer products, sha256 keep
      // decision. DuckDB replays weights, rates and thresholds
      // bit-for-bit.
      graft.ext.Sampling.temperatureSample(
        t(s, d, "documents"), "doc_id", "source", "temp", 0.3)
        .select(col("doc_id"), col("source"), col("rate"))
        .orderBy(col("doc_id"))
    }),
    "x88_snapshot_sketch" -> ((s, d) => {
      // Incremental distinct-count over a VERSIONED table: three
      // commits, each KMV-sketched once into the _stats cache, then
      // the bottom-k-of-union fold — bit-identical to sketching the
      // whole table (the exact merge law), which is what DuckDB
      // replays over the full fixture. "Distinct customers without
      // rescanning the table": the read is <= k longs per commit dir.
      import graft.warehouse.Snapshots
      val path = cachePath(d, "x88") + "/orders_sketch"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      Snapshots.append(s, path, o.filter(col("o_orderkey") <= 5000).coalesce(1))
      Snapshots.append(s, path,
        o.filter(col("o_orderkey") > 5000 && col("o_orderkey") <= 10000).coalesce(1))
      Snapshots.append(s, path, o.filter(col("o_orderkey") > 10000).coalesce(1))
      val est = Snapshots.distinctSketch(s, path, "o_custkey", k = 256)
      val exact = t(s, d, "orders")
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      est.select(size(col("kmv")).cast("bigint").as("k_used"), col("distinct_est"))
        .crossJoin(broadcast(exact))
    }),
    "x69_snapshot_skip" -> ((s, d) => {
      // stats-pruned read on a VERSIONED table: three range-disjoint
      // commits, per-commit stats built incrementally (each dir statted
      // once, cached under _stats/), then a band predicate served by
      // scanning only the overlapping commit's file. The oracle is the
      // plain filter — skipping must never change the answer, only the
      // I/O (the in-query index build is costed like x52's relayout).
      import graft.warehouse.{DataSkipping, Snapshots}
      val path = cachePath(d, "x69") + "/orders_skip"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
      Snapshots.append(s, path, o.filter(col("o_orderkey") <= 5000).coalesce(1))
      Snapshots.append(s, path,
        o.filter(col("o_orderkey") > 5000 && col("o_orderkey") <= 10000).coalesce(1))
      Snapshots.append(s, path, o.filter(col("o_orderkey") > 10000).coalesce(1))
      Snapshots.skipRead(s, path,
          Seq(DataSkipping.Band("o_orderkey", Some(6000L), Some(7000L))))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_orderkey"))
    }),
    "x86_equidepth_histogram" -> ((s, d) => {
      // Equi-depth (quantile-binned) histogram — the complement of
      // x56's fixed-width bins: 8 buckets of equal row count per
      // language via ntile over a TOTAL order (doc_id tiebreak makes
      // bucket assignment engine-deterministic), then per-bucket
      // count/min/max. Integer-exact throughout.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
      t(s, d, "documents")
        .select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("bucket", ntile(8).over(w).cast("bigint"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).cast("bigint").as("lo"),
          max(col("n_chars")).cast("bigint").as("hi"))
        .orderBy(col("lang"), col("bucket"))
    }),
    "x85_bigram_score" -> ((s, d) => {
      // Interpolated bigram LM quality score (λ=0.8 bigram + 0.2
      // unigram backoff), position-ordered log-prob fold per doc —
      // x62's determinism discipline one model order up. Counts are
      // exact; DuckDB replays the identical interpolation arithmetic
      // and ordered list_sum.
      graft.ext.TextAnalysis.bigramScore(t(s, d, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))
    }),
    "x84_ols_trend" -> ((s, d) => {
      // Per-type OLS trend of event value over time, computed from
      // EXACT integer sums (centered integer seconds × centi-value):
      // n, Σx, Σy, Σxy, Σx², Σy² accumulate in DECIMAL(38,0) — exact,
      // order-independent — and the slope/intercept/r² divisions are
      // the only floating ops, so results are bit-identical
      // cross-engine with NO rounding. The engine-portable form of
      // regr_slope/regr_r2 (the builtins' streaming co-moments are
      // within-engine stable but not cross-engine comparable).
      val ev = t(s, d, "events").filter(col("value").isNotNull)
        .select(col("event_type"),
          (unix_timestamp(col("ts")) - lit(1700000000L)).as("x"),
          round(col("value") * 100).cast("long").as("y"))
      val sums = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).cast("decimal(38,0)").as("sx"),
        sum(col("y").cast("decimal(38,0)")).cast("decimal(38,0)").as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxx"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).cast("decimal(38,0)").as("syy"))
      val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      val slope = num / den
      sums.select(col("event_type"), col("n").cast("bigint").as("n"),
          slope.as("slope"),
          ((col("sy").cast("double") - slope * col("sx").cast("double")) /
            col("n")).as("intercept"),
          (num * num / (den * deny)).as("r2"))
        .orderBy(col("event_type"))
    }),
    "x83_bpe_merges" -> ((s, d) => {
      // BPE tokenizer training, 8 merge rounds over the word vocabulary
      // (chars → merged symbols; greedy non-overlapping application).
      // Deterministic by the (count DESC, left, right) tie-break; the
      // oracle replays every round with a list_reduce fold carrying the
      // same left-to-right greedy merge semantics as this side's
      // `aggregate` fold, so the whole iterative loop — pair counts,
      // argmax picks, merge application — is value-checked end to end
      // (including adjacent-repeat words like 'papa', where a naive
      // string-replace replay would diverge).
      graft.ext.TextAnalysis.learnBpeMerges(t(s, d, "documents"), "text", 8)
        .select(col("round").cast("bigint").as("round"), col("left"),
          col("right"), col("pair_count"))
        .orderBy(col("round"))
    }),
    "x82_semantic_decontaminate" -> ((s, d) => {
      // Embedding-space decontamination: every corpus vector's best
      // cosine match in a broadcast benchmark slice (vec_id % 10 == 0),
      // kept at sim >= 0.35 — catches paraphrased eval leakage the
      // n-gram probe (x20) can't see. Ties aggregate on the ROUNDED
      // sim + bench id, so the keeper is engine-deterministic even
      // with duplicate benchmark vectors.
      val emb = t(s, d, "embeddings")
      val bench = emb.filter(col("vec_id") % 10 === 0)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      graft.ext.Similarity
        .flagSemanticMatches(corpus, bench, "embedding", "vec_id", 0.35)
        .orderBy(col("vec_id"))
    }),
    "x80_hof_battery" -> ((s, d) => {
      // Higher-order array functions as one battery over the token
      // array: transform/aggregate (sequential fold — deterministic
      // order), filter, exists, forall, sort+slice, distinct. All
      // integer/string valued, so every cell is exact cross-engine;
      // DuckDB replays each with its list_* twin. HOFs are the
      // codegen-friendly alternative to UDFs for array-valued columns
      // — this battery is the compatibility surface check.
      t(s, d, "documents")
        .select(col("doc_id"),
          split(trim(lower(col("text"))), "\\s+").as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("bigint").as("n_tokens"),
          expr("CAST(aggregate(transform(toks, t -> length(t)), 0, (acc, x) -> acc + x) AS BIGINT)")
            .as("total_chars"),
          expr("CAST(size(filter(toks, t -> length(t) >= 6)) AS BIGINT)").as("n_long"),
          expr("exists(toks, t -> t = 'spark')").as("has_spark"),
          expr("forall(toks, t -> length(t) > 0)").as("all_nonempty"),
          expr("array_join(slice(sort_array(toks, false), 1, 3), ',')").as("top3"),
          expr("CAST(size(array_distinct(toks)) AS BIGINT)").as("n_distinct"),
          expr("CAST(aggregate(transform(toks, t -> length(t) * length(t)), 0, (acc, x) -> acc + x) AS BIGINT)")
            .as("sum_sq_len"))
        .orderBy(col("doc_id"))
    }),
    "x81_kmv_setops" -> ((s, d) => {
      // Theta-sketch set algebra from two KMV sketches (click users vs
      // purchase users): merged-sketch membership fraction → Jaccard,
      // intersection = fraction × union estimate — set overlap answered
      // from two KB sketches without rescanning either side. Exact
      // counterparts ride along; every arithmetic step is replayed in
      // DuckDB bit-for-bit (hash sets and integer match counts; one
      // division + one multiply).
      val ev = t(s, d, "events")
      def side(tp: String) = ev.filter(col("event_type") === tp)
        .withColumn("g", lit("all"))
      val est = graft.ext.Sketches.kmvSetEstimate(
        graft.ext.Sketches.kmvSketch(side("click"), Seq("g"), "user_id", 64),
        graft.ext.Sketches.kmvSketch(side("purchase"), Seq("g"), "user_id", 64),
        Seq("g"), 64)
      val aU = side("click").select(col("user_id")).distinct()
      val bU = side("purchase").select(col("user_id")).distinct()
      val exact = aU.intersect(bU).agg(count(lit(1)).as("n_inter_exact"))
        .crossJoin(aU.union(bU).distinct().agg(count(lit(1)).as("n_union_exact")))
      est.crossJoin(broadcast(exact))
        .select(col("g"), col("union_est"), col("inter_est"),
          col("jaccard_est"), col("n_inter_exact"), col("n_union_exact"))
    }),
    "x79_gk_exact_quantiles" -> ((s, d) => {
      // Spark's percentile_approx (Greenwald–Khanna summary) driven in
      // its matched-parameter EXACT regime: accuracy >= group row
      // count, so the summary retains every value and the answer is the
      // exact discrete quantile — the same trick x73 plays for
      // Misra-Gries. This value-checks the builtin sketch's query path
      // cross-engine (its approximation contract is spec-bounded in
      // SketchSpec; no SQL oracle can express that). Integer n_chars →
      // integer quantiles, no float hazard.
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(
          percentile_approx(col("n_chars"), lit(0.5), lit(1000000))
            .cast("bigint").as("p50"),
          percentile_approx(col("n_chars"), lit(0.9), lit(1000000))
            .cast("bigint").as("p90"),
          percentile_approx(col("n_chars"), lit(0.99), lit(1000000))
            .cast("bigint").as("p99"),
          count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),
    "x78_source_drift" -> ((s, d) => {
      // Distribution drift of each source's token distribution vs the
      // pooled corpus: KL (nats) + Pearson chi2 over the full
      // (source × vocab) grid (zero cells contribute e to chi2, 0 to
      // KL). The monitoring primitive for "which crawl source went
      // weird this week" — contingency-table-sized state, nothing
      // wider than (source, token) counts ever shuffles. DuckDB
      // replays the grid cell-for-cell; ln-bearing sums round to 6 dp,
      // chi2 to 4.
      val toks = t(s, d, "documents")
        .select(col("source"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      graft.ext.Drift.categoricalDrift(toks, "source", "token")
        .select(col("source"), col("n"),
          round(col("kl"), 6).as("kl"), round(col("chi2"), 4).as("chi2"))
        .orderBy(col("source"))
    }),
    "x76_pagerank" -> ((s, d) => {
      // 3-iteration PageRank over the customer→supplier purchase graph
      // (supplier ids shifted to a disjoint node space). One shuffle per
      // iteration keyed on node ids; N and the node set broadcast.
      // DuckDB unrolls the identical three steps as chained CTEs; ranks
      // round to 8 dp (per-step double sums are the only
      // order-dependent ingredient, ~9 orders below that grain).
      // Edges come from the staged parquet (see custSupplierEdges) —
      // the iterative plan references them ~9 times across 3 steps.
      graft.ext.Graph.pageRank(custSupplierEdges(s, d), iterations = 3)
        .select(col("node"), round(col("rank"), 8).as("rank"))
        .orderBy(col("node"))
    }),
    "x77_triangle_count" -> ((s, d) => {
      // Exact triangle count over the customer co-purchase graph
      // (customers linked iff they bought the same (supplier, part)
      // pair) via degree orientation — the m^(3/2) algorithm; the
      // oracle recomputes naively with an a<b<c three-way join, so the
      // orientation + wedge-close machinery is value-checked end to
      // end (1271 triangles at sf0.01). The directed edge staging is
      // shared with x87; the canonical a<b form is its one-direction
      // slice.
      val edges = coPurchaseEdges(s, d)
        .filter(col("src") < col("dst"))
        .select(col("src").as("a"), col("dst").as("b"))
      graft.ext.Graph.triangleCount(edges)
    }),
    "x75_bm25_topk" -> ((s, d) => {
      // Okapi BM25 top-25 for a 4-term probe query over documents —
      // the retrieval primitive for targeted decontamination / topic
      // mining at corpus scale. df + (n_docs, avgdl) broadcast; only
      // the per-doc tf rows (<= 4 per doc) shuffle; the cut is ORDER BY
      // rounded score + doc_id LIMIT 25 (TakeOrderedAndProject). DuckDB
      // replays the identical formula; the one libm ln is inside the
      // 6-dp-rounded score.
      graft.ext.TextAnalysis.bm25TopK(
        t(s, d, "documents"), "doc_id", "text",
        Seq("spark", "join", "vector", "stream"), k = 25)
    }),
    "x72_cms_freq" -> ((s, d) => {
      // Portable Count-Min sketch (depth 3 × width 512, sha256-derived
      // hash family) over the events.user_id multiset, then a point
      // query for every distinct user — est vs exact side by side. The
      // sketch is ≤ 1536 cells no matter the corpus size; the probe
      // broadcasts it. DuckDB rebuilds the identical counter matrix
      // (same hashes, same buckets) so est_cnt value-matches
      // bit-for-bit — and the CMS "never undercounts" bound shows up
      // as est_cnt >= exact_cnt on every row.
      val ev = t(s, d, "events")
      val sk = graft.ext.Sketches.cmsSketch(ev, "user_id", depth = 3, width = 512)
      val est = graft.ext.Sketches.cmsLookup(sk, ev.select("user_id"), "user_id",
        depth = 3, width = 512)
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("exact_cnt"))
      est.join(exact, "user_id")
        .select(col("user_id"), col("est_cnt"), col("exact_cnt"))
        .orderBy(col("user_id"))
    }),
    "x73_heavy_hitters" -> ((s, d) => {
      // Misra–Gries heavy hitters over events.event_type at capacity
      // 64 — far above the 5 distinct types, i.e. the matched-parameter
      // regime where the bounded-state summary is provably EXACT and
      // order-independent (no decrement can ever fire), so the whole
      // native TypedImperativeAggregate path (partial update → shuffle
      // of ≤ 64 pairs → merge → eval ordering) is value-checked against
      // DuckDB's exact group-count. The small-capacity approximation
      // regime is spec-pinned in SketchSpec (error ≤ N/(cap+1),
      // heavy-hitter completeness), which no SQL oracle can express.
      val hh = graft.functions.GraftFunctions
        .heavyHitters(s, col("event_type"), 64)
      t(s, d, "events")
        .agg(hh.as("hh"))
        .select(explode(col("hh")).as("e"))
        .select(col("e.key").as("event_type"), col("e.cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("event_type"))
    }),
    "x74_hll_distinct" -> ((s, d) => {
      // Portable HyperLogLog (b=5, m=32 registers) per event_type over
      // user_id: register table → exact DECIMAL(38,0) register sum →
      // α_m m² 2^61 / sum estimator with linear-counting small-range
      // correction. Every ingredient is engine-portable (sha256 hash,
      // mod/div bit split, length(bin(w)) for the first-one rank,
      // integer register sum), so DuckDB reproduces v_filled and
      // sum_scaled bit-for-bit and the 4-dp-rounded estimate exactly;
      // n_exact rides along to show the estimate lands (rse ≈
      // 1.04/√32 ≈ 18%). Register-merge law pinned in SketchSpec.
      val ev = t(s, d, "events")
      val regs = graft.ext.Sketches.hllRegisters(ev, Seq("event_type"), "user_id", b = 5)
      val est = graft.ext.Sketches.hllEstimate(regs, Seq("event_type"), b = 5)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.withColumn("sum_scaled", col("sum_scaled").cast("double"))
        .join(exact, "event_type")
        .orderBy(col("event_type"))
    }),
    "x71_kmv_distinct" -> ((s, d) => {
      // Portable KMV (bottom-k) distinct sketch per event_type over
      // user_id at k=64 — the cross-engine-deterministic counterpart of
      // approx_count_distinct (HLL is spec-bounded in SketchSpec but
      // not value-checkable outside the JVM; KMV is). The fixture has
      // ~150 distinct users per type, so the sketch saturates and the
      // (k-1)/h_k estimator path is exercised, value-matched by DuckDB
      // bit-for-bit (exact hashes, exact double factors, one IEEE
      // division). n_exact rides along to show the estimator lands.
      val ev = t(s, d, "events")
      val sk = graft.ext.Sketches.kmvEstimate(
        graft.ext.Sketches.kmvSketch(ev, Seq("event_type"), "user_id", 64), 64)
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      sk.select(col("event_type"), size(col("kmv")).cast("bigint").as("k_used"),
          col("distinct_est"))
        .join(exact, "event_type")
        .orderBy(col("event_type"))
    }),
    "x70_simhash64_oracled" -> ((s, d) => {
      // The FULL 64-bit SimHash dup-pair operator — prefix-16 blocking,
      // maxBucket cap, Hamming<=3 verify: the exact x08 machinery via
      // simhashDupPairsFromSig — with the token hash swapped for the
      // portable sha256 vote fingerprint (portableSimhash at 64 bits),
      // so DuckDB reproduces signatures, blocks, bucket caps, and the
      // pair set bit-for-bit. Closes the r5 verdict's x08 oracle gap:
      // the only production ingredient not value-checked here is
      // xxhash64 itself, whose fused kernel is bit-parity-pinned
      // against Spark's builtin in FunctionsSpec. Same corpus shape as
      // x08 (documents ∪ shifted exact copies).
      val docs = t(s, d, "documents")
      val shifted = docs.withColumn("doc_id", col("doc_id") + 1000000)
      val sigs = TextDedup
        .portableSimhash(docs.unionByName(shifted), "text", "doc_id", bits = 64)
        .select(col("id"), col("fp").as("sig"))
      TextDedup.simhashDupPairsFromSig(sigs)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("bigint").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "x68_snapshot_upsert" -> ((s, d) => {
      // MERGE INTO on the snapshot table: seed with the keys ≡ 0 (mod
      // 3) slice, then upsert the keys ≡ 0 (mod 5) slice with +1000
      // prices — overlapping keys take the NEW price, disjoint source
      // keys insert, untouched rows carry by reference. The final
      // state is dumped row-by-row so replace/insert/carry semantics
      // are all hash-checked against DuckDB's recomputation.
      import graft.warehouse.Snapshots
      val path = cachePath(d, "x68") + "/orders_upsert"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      Snapshots.append(s, path, o.filter(col("o_orderkey") % 3 === 0))
      Snapshots.upsert(s, path,
        o.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2)),
        Seq("o_orderkey"))
      Snapshots.read(s, path)
        .select(col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_orderkey"))
    }),
    "x67_compaction" -> ((s, d) => {
      // snapshot-table compaction end-to-end: three streaming-style
      // batch commits (3 live dirs), compact to ONE merged dir, then a
      // REPLAY of an absorbed batch — which must be suppressed by the
      // #batch manifest records, or after_compact's counts double. Dir
      // counts ride along as literals so the physical merge (3 → 1) is
      // value-checked, not just the content.
      import graft.warehouse.Snapshots
      val path = cachePath(d, "x67") + "/orders_compact"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, d, "orders").select(col("o_orderkey"))
      Snapshots.appendBatch(s, path, o.filter(col("o_orderkey") % 3 === 0), batchId = 0)
      Snapshots.appendBatch(s, path, o.filter(col("o_orderkey") % 3 === 1), batchId = 1)
      Snapshots.appendBatch(s, path, o.filter(col("o_orderkey") % 3 === 2), batchId = 2)
      val vPre = Snapshots.latestVersion(s, path)
      val nPre = Snapshots.liveDirs(s, path, vPre).size.toLong
      val vPost = Snapshots.compact(s, path, targetPartitions = 2)
      val nPost = Snapshots.liveDirs(s, path, vPost).size.toLong
      Snapshots.appendBatch(s, path, o.filter(col("o_orderkey") % 3 === 0), batchId = 0)
      def summarize(df: DataFrame, tag: String, nDirs: Long): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("sum_key"))
          .select(lit(tag).as("tag"), lit(nDirs).as("n_dirs"),
            col("n_rows"), col("sum_key"))
      summarize(Snapshots.read(s, path, Some(vPre)), "before_compact", nPre)
        .unionByName(summarize(Snapshots.read(s, path), "after_compact", nPost))
        .orderBy(col("tag"))
    }),
    "x63_delete_where" -> ((s, d) => {
      // targeted DELETE on the snapshot table: only dirs containing
      // matches rewrite; the prior version still shows the rows (erasure
      // completes at vacuum). Oracle recomputes both feeds from fixture
      // slices — delete semantics (NULL-safe predicate, by-reference
      // carry of untouched dirs) are value-checked.
      import graft.warehouse.Snapshots
      val path = cachePath(d, "x63") + "/orders_del"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, d, "orders").select(col("o_orderkey"))
      Snapshots.append(s, path, o.filter(col("o_orderkey") % 3 === 0))
      val v2 = Snapshots.append(s, path, o.filter(col("o_orderkey") % 3 === 1))
      val v3 = Snapshots.deleteWhere(s, path, col("o_orderkey") % 10 === 3)
      def summarize(df: DataFrame, tag: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("sum_key"))
          .select(lit(tag).as("tag"), col("n_rows"), col("sum_key"))
      summarize(Snapshots.read(s, path, Some(v2)), "before_delete")
        .unionByName(summarize(Snapshots.read(s, path, Some(v3)), "after_delete"))
        .orderBy(col("tag"))
    }),
    "x62_unigram_score" -> ((s, d) =>
      // CCNet-style unigram "perplexity" quality signal. The double
      // score is position-ordered-fold deterministic (see unigramScore
      // scaladoc); the BIGINT aggregates are exact.
      TextAnalysis.unigramScore(t(s, d, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))),
    "x61_repeated_span_removal" -> ((s, d) =>
      // Lee-et-al-style exact-substring dedup, token formulation: every
      // 8-token window occurring >= 2 times corpus-wide is excised from
      // every document (overlaps merge). The whole cleaned corpus is
      // hash-checked — window df, span merge, and reassembly all
      // value-verified cross-engine.
      TextDedup.removeRepeatedSpans(t(s, d, "documents"), "text", "doc_id",
          n = 8, minCount = 2)
        .select(col("id").as("doc_id"), col("clean"))
        .orderBy(col("doc_id"))),
    "x60_random_projection" -> ((s, d) => {
      // Johnson–Lindenstrauss reduction 64→8 dims on seeded Gaussian
      // planes: no fitted state, no shuffle, reproducible on any
      // engine/cluster from the seed alone. Exploded to scalar rows so
      // every component is hash-checked (same inlined-plane oracle
      // discipline as x09/x12).
      val planes = Similarity.hyperplanes(8, 64)
      graft.ext.Embeddings.randomProject(
          t(s, d, "embeddings"), "embedding", "proj", planes)
        .select(col("vec_id"),
          posexplode(col("proj")).as(Seq("component", "value")))
        .select(col("vec_id"), col("component").cast("bigint").as("component"),
          round(col("value"), 6).as("value"))
        .orderBy(col("vec_id"), col("component"))
    }),
    "x59_kernel_minhash_oracled" -> ((s, d) => {
      // the PRODUCTION xxhash64 MinHash-LSH pipeline made CORRECTNESS-
      // visible. At 64 hashes / 16 bands of 4 and verify threshold 0.9,
      // per-pair candidate-miss probability is ~4e-8 for BOTH hash
      // schemes, so each reaches full recall on the kept (j >= 0.9)
      // pairs and the verified set equals a 64-lane portable sha256
      // replay exactly; sub-0.9 candidates are cut by the EXACT
      // jaccard (an integer-ratio double, identical whichever 64-bit
      // hash names the shingles), so candidate-set luck below the
      // threshold cannot leak into the output. The r11 sf0.1
      // differential run PROVED the old 0.7 form was luck: at j = 0.7
      // each scheme independently misses ~1% of candidates (6009 vs
      // 6024 rows) — the equality contract only exists where both
      // recalls are ~1. The oracle replays the portable pipeline AT
      // THE KERNEL'S parameters, so the kernel path keeps its
      // transitive DuckDB hash check (ids AND values).
      val corpus = perturbedCorpus(t(s, d, "documents"))
      TextDedup.minhashDupPairs(corpus, "t", "id",
          shingleK = 3, numHashes = 64, bands = 16, threshold = 0.9)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    "x58_time_travel" -> ((s, d) => {
      // snapshot-table commit / time-travel / change-feed end-to-end:
      // two append commits built from disjoint orders slices, then read
      // version 1 (time travel), the v1→v2 change feed (reads ONLY the
      // dirs v2 added — O(delta), not O(table)), and the latest
      // snapshot. The oracle recomputes all three from the fixture
      // slices, so commit atomicity, manifest resolution and feed
      // semantics are all value-checked, not just spec'd.
      import graft.warehouse.Snapshots
      val path = cachePath(d, "x58") + "/orders_snap"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val o = t(s, d, "orders").select(col("o_orderkey"))
      val v1 = Snapshots.append(s, path, o.filter(col("o_orderkey") % 3 === 0))
      val v2 = Snapshots.append(s, path, o.filter(col("o_orderkey") % 3 === 1))
      def summarize(df: DataFrame, tag: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("sum_key"))
          .select(lit(tag).as("tag"), col("n_rows"), col("sum_key"))
      summarize(Snapshots.read(s, path, Some(v1)), "v1_snapshot")
        .unionByName(summarize(
          Snapshots.changesBetween(s, path, v1, v2), "changes_v1_v2"))
        .unionByName(summarize(Snapshots.read(s, path), "v2_snapshot"))
        .orderBy(col("tag"))
    }),
    "q18_subquery_family" -> ((s, d) => {
      // the SQL entry path (spark.sql over registered views) with the
      // full subquery family in one statement: uncorrelated scalar
      // (global avg threshold), correlated scalar (per-order line
      // count), EXISTS and NOT EXISTS. Catalyst decorrelates all four
      // into joins — no per-row re-execution.
      t(s, d, "orders").createOrReplaceTempView("g_orders")
      t(s, d, "lineitem").createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT o.o_orderkey, o.o_totalprice,
          (SELECT count(*) FROM g_lineitem l
           WHERE l.l_orderkey = o.o_orderkey) AS n_lines
        FROM g_orders o
        WHERE o.o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM g_orders)
          AND EXISTS (SELECT 1 FROM g_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'R')
          AND NOT EXISTS (SELECT 1 FROM g_lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_quantity > 49)
        ORDER BY o.o_orderkey""")
    }),
    "x50_incremental_dedup" -> ((s, d) => {
      // the online ingestion decision: index = EVEN original doc ids
      // (already-deduped corpus), batch = odd originals + all perturbed
      // copies — a mix that exercises both verdicts (all-perturbed
      // batches drop entirely). A batch doc survives iff it near-dups
      // NO indexed doc and NO lower-id batch doc — direct edges, the
      // per-document online rule (no transitive closure: an online
      // verdict cannot depend on other in-flight verdicts). With pairs
      // oriented id_a < id_b, a batch doc drops iff it is some pair's
      // id_b (the lower partner is index-or-lower-batch either way),
      // or it is an id_a whose partner is an index doc. Production
      // path = the same rule over the kernel pipeline
      // (TextDedup.dedupAgainstIndex, spec-pinned).
      val corpus = perturbedCorpus(t(s, d, "documents"))
      val pairs = portablePairs(s, d)
      val isIdxB = col("id_b") < 1000000 && col("id_b") % 2 === 0
      // ONE scan of the pair stream (a union of two selects would splice
      // the whole portable pipeline in twice — lesson 21): id_b always
      // drops; id_a drops only when its higher partner is an index doc
      val dropped = pairs
        .select(explode(array(col("id_b"), when(isIdxB, col("id_a"))))
          .as("_drop"))
        .filter(col("_drop").isNotNull).distinct()
      corpus.filter(!(col("id") < 1000000 && col("id") % 2 === 0))
        .select(col("id"))
        .join(dropped, col("id") === col("_drop"), "left_anti")
        .select(col("id").as("doc_id")).orderBy(col("doc_id"))
    }),
    "x48_source_gate" -> ((s, d) =>
      // domain-level curation: admit or cut WHOLE sources on volume,
      // quality incidence and exact-dup incidence — the coarse filter
      // that runs before any per-document work. One text scan + one
      // per-source aggregate; every fraction is a ratio of integer
      // counts, so the verdict table hash-verifies.
      TextAnalysis.sourceGate(t(s, d, "documents"), "text",
          "source", minDocs = 3, goodQuality = 0.5, minGoodFrac = 0.5,
          maxDupFrac = 0.2)
        .orderBy(col("source"))),
    "x45_rolling_features" -> ((s, d) => {
      // trailing-window ML features over the regularized grid: lag,
      // delta, rolling sum/count/avg/min/max per event type per
      // 10-minute bin. ffill keeps the grid integer-valued, so every
      // window sum is order-independent and exact — the whole feature
      // table hash-verifies. One (key,bin) shuffle + one window sort.
      val ev = t(s, d, "events").select(col("event_type"), col("ts"))
      val res = TimeSeries.resampleCounts(ev, "event_type", "ts", 600L)
      val filled = TimeSeries.gapFill(res, "event_type", "bin", "n",
        mode = "ffill")
      TimeSeries.rollingFeatures(filled, "event_type", "bin", "n", 12)
        .orderBy(col("event_type"), col("bin"))
    }),
    "x46_anomaly_score" -> ((s, d) => {
      // each bin scored against its OWN trailing 2-hour history
      // (current row excluded): integer-arithmetic population z via
      // (c·x − s)/√(c·q − s²) — exact until one correctly-rounded
      // divide + sqrt, so even the double z column hash-matches.
      val ev = t(s, d, "events").select(col("event_type"), col("ts"))
      val res = TimeSeries.resampleCounts(ev, "event_type", "ts", 600L)
      val filled = TimeSeries.gapFill(res, "event_type", "bin", "n",
        mode = "ffill")
      TimeSeries.anomalyScore(filled, "event_type", "bin", "n",
          history = 12, threshold = 3.0)
        .orderBy(col("event_type"), col("bin"))
    }),
    "x40_curation_pipeline" -> ((s, d) => {
      // the end-to-end corpus-curation decision: quality score, language
      // id, repetition fraction and vocabulary coverage joined into one
      // keep/cut verdict per document — the full gate a training-data
      // pipeline applies before sampling/packing. Three narrow text
      // scans + one vocab broadcast; every signal is an exact
      // integer-ratio or pinned-rounding value, so the WHOLE pipeline
      // hash-verifies cross-engine.
      val docs = t(s, d, "documents")
      val prof = TextAnalysis.profile(docs, "text", "doc_id")
        .select(col("doc_id"), col("quality"), col("lang_guess"))
      val rep = TextAnalysis.repetitionProfile(docs, "text", "doc_id")
        .select(col("doc_id"), col("dup_ngram_frac"))
      val vocab = TextAnalysis.tokenTopK(docs, "text", 30).select(col("token"))
      val oov = TextAnalysis.oovProfile(docs, "text", "doc_id", vocab)
        .select(col("doc_id"), col("oov_rate"))
      prof.join(rep, Seq("doc_id")).join(oov, Seq("doc_id"))
        .withColumn("keep",
          col("quality") >= 0.5 && col("dup_ngram_frac") <= 0.3 &&
            col("lang_guess") =!= "und" && col("oov_rate") <= 0.6)
        .orderBy(col("doc_id"))
    }),
    "x38_paragraph_dedup" -> ((s, d) => {
      // C4-style duplicate-unit removal, composed from existing ops:
      // chunk (16-token paragraphs, overlap 0) × dedupExact (min_by
      // partial-agg keeper) over a corpus with duplicated documents —
      // each paragraph survives once, at its first (doc, idx) position.
      val docs = t(s, d, "documents")
      val corpus = docs.unionByName(
        docs.withColumn("doc_id", col("doc_id") + 1000000))
      val paras = TextAnalysis.chunk(corpus, "text", "doc_id",
          chunkTokens = 16, overlap = 0)
        .withColumn("unit_id", col("doc_id") * 10000 + col("chunk_idx"))
      TextDedup.dedupExact(paras, "chunk_text", "unit_id")
        .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
          col("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),
    "x39_oov_profile" -> ((s, d) => {
      // vocabulary-coverage gate: OOV counts/rate of every document
      // against the corpus head vocabulary (tokenTopK output plays the
      // tokenizer vocab; production passes a real vocab table).
      val docs = t(s, d, "documents")
      val vocab = TextAnalysis.tokenTopK(docs, "text", 30).select(col("token"))
      TextAnalysis.oovProfile(docs, "text", "doc_id", vocab)
        .orderBy(col("doc_id"))
    }),
    "x37_bloom_semijoin" -> ((s, d) => {
      // s10's EXISTS semantics through the bloom-prefiltered semi-join:
      // the sketch cuts non-matching orders at scan time, the exact
      // left-semi removes false positives — so the oracle is the plain
      // EXISTS SQL and any bloom bug (hash mismatch, dropped keys)
      // hash-fails the driver gate.
      val o = t(s, d, "orders")
      val late = t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1999-01-01").cast("date"))
        .select(col("l_orderkey"))
      graft.warehouse.BloomJoin.semiJoin(o, "o_orderkey", late, "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),
    "x35_zorder_values" -> ((s, d) => {
      // Morton z-values over two bucketized keys — the write-layout
      // primitive behind multi-column file skipping (OPTIMIZE ZORDER).
      // Pure bit arithmetic, reproduced bit-for-bit in DuckDB.
      val li = t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey"), lit(256)).cast("long").as("pk_b"),
        pmod(col("l_suppkey"), lit(256)).cast("long").as("sk_b"))
      li.withColumn("z",
          graft.warehouse.Layout.zValue(col("pk_b"), col("sk_b"), bits = 8))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    "x32_embedding_quantize" -> ((s, d) => {
      // int8 symmetric quantization of the embedding column: per-vector
      // norm, scale, and exact integer digests of the quantized array
      // (sum / L1 / max pin every element without emitting the array —
      // arrays don't hash-compare cross-engine, integers do).
      val q = Embeddings.quantizeInt8(t(s, d, "embeddings"), "embedding", "qv")
      q.select(
          col("vec_id"),
          Similarity.l2Norm(Similarity.asDouble(col("embedding"))).as("norm"),
          col("qv_scale").as("scale"),
          aggregate(transform(col("qv"), _.cast("long")), lit(0L), _ + _).as("q_sum"),
          aggregate(transform(col("qv"), x => abs(x).cast("long")), lit(0L), _ + _).as("q_l1"),
          array_max(col("qv")).cast("bigint").as("q_max"))
        .orderBy(col("vec_id"))
    }),
    "x33_group_centroids" -> ((s, d) => {
      // per-label centroids over the QUANTIZED vectors, long form: the
      // integer dimension sums are order-independent, so the centroid is
      // deterministic under any partitioning — and hash-verifiable.
      val q = Embeddings.quantizeInt8(t(s, d, "embeddings"), "embedding", "qv")
      Embeddings.groupCentroids(q, "qv", "label")
        .select(col("label"), col("dim").cast("bigint").as("dim"),
          col("n_vecs"), col("q_sum"), col("q_mean"))
        .orderBy(col("label"), col("dim"))
    }),
    "x34_salient_terms" -> ((s, d) =>
      // BM25-ish top-3 distinctive terms per document (log-free idf
      // ratio — exact cross-engine); tf/df/N all integer aggregates.
      TextAnalysis.salientTerms(t(s, d, "documents"), "text", "doc_id", 3)
        .orderBy(col("doc_id"), col("term_rank"))),
    "s17_cube_revenue" -> ((s, d) =>
      // CUBE: all four grouping sets (year×priority, year, priority,
      // grand total) in ONE Expand pass — completes the multi-level
      // aggregation family next to s12's ROLLUP.
      t(s, d, "orders")
        .select(year(col("o_orderdate")).cast("bigint").as("oy"),
          col("o_orderpriority"), col("o_totalprice"))
        .cube(col("oy"), col("o_orderpriority"))
        .agg(
          grouping(col("oy")).cast("bigint").as("g_y"),
          grouping(col("o_orderpriority")).cast("bigint").as("g_p"),
          count(lit(1)).as("n"),
          latticeSum(col("o_totalprice"), 100).as("rev"))
        .orderBy(col("g_y"), col("g_p"), col("oy"), col("o_orderpriority"))),
    "q14_window_family" -> ((s, d) => {
      // the full ranking/navigation window-function family in one pass:
      // ntile, percent_rank, cume_dist, lag/lead, first_value and a
      // running count with an explicit ROWS frame. One shuffle on
      // user_id serves every function. percent_rank/cume_dist are
      // integer-ratio doubles — bit-identical cross-engine.
      import org.apache.spark.sql.expressions.Window
      val ev = t(s, d, "events").select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("tsec"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tsec"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(
          col("event_id"), col("user_id"), col("tsec"),
          row_number().over(w).cast("bigint").as("rn"),
          ntile(4).over(w).cast("bigint").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"),
          lag(col("event_id"), 1).over(w).as("prev_id"),
          lead(col("event_id"), 1).over(w).as("next_id"),
          first(col("event_id")).over(run).as("first_id"),
          count(lit(1)).over(run).as("running_n"))
        .orderBy(col("event_id"))
    }),
    "x36_robust_outliers" -> ((s, d) =>
      // distribution-free corpus anomaly scan: per-language median/MAD
      // of document length, robust z per doc — the quality-filter shape
      // that survives the heavy tails it is hunting.
      Quality.robustOutliers(
          t(s, d, "documents").select(col("doc_id"), col("lang"),
            col("n_chars").cast("double").as("len")),
          "lang", "len")
        .select(col("doc_id"), col("lang"), col("len"), col("med"),
          col("mad"), col("robust_z"), col("is_outlier"))
        .orderBy(col("doc_id"))),
    "s16_scd2_customer_status" -> ((s, d) => {
      // SCD Type-2 dimension build from a change log: each customer's
      // order history read as observations of (status, priority); no-op
      // observations collapse, changes version with half-open effective
      // intervals. One shuffle feeds both window passes.
      val log = t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("obs_date"),
        col("o_orderstatus"), col("o_orderpriority"))
      graft.warehouse.Scd.scd2(log, Seq("o_custkey"), "obs_date",
          Seq("o_orderkey"), Seq("o_orderstatus", "o_orderpriority"))
        // the standard SCD2 high-date stand-in for the open interval —
        // also dodges null-vs-null date compares in the oracle gate
        .withColumn("effective_to",
          coalesce(col("effective_to"), lit("9999-12-31").cast("date")))
        .orderBy(col("o_custkey"), col("effective_from"),
          col("o_orderstatus"), col("o_orderpriority"), col("effective_to"))
    }),
    "s14_pivot_daily_types" -> ((s, d) => {
      // the real pivot operator (RelationalGroupedDataset.pivot with
      // explicit values — single pass, no value-discovery job); q03 is
      // the same result via manual conditional aggregation.
      val types = Seq("error", "signup", "purchase", "view", "click")
      val p = t(s, d, "events")
        .groupBy(col("ts").cast("date").as("day"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("day") +:
          types.map(v => coalesce(col(v), lit(0L)).as(v + "_count")): _*)
        .orderBy(col("day"))
    }),
    "s15_unpivot_lineitem_metrics" -> ((s, d) => {
      // unpivot/melt: wide fact → long (metric, val) form — the shape
      // feature stores and per-metric quality dashboards consume.
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount"),
          col("l_tax").cast("double").as("tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("quantity"), col("extendedprice"), col("discount"),
            col("tax")),
          "metric", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
    }),
    "x134_ols_quality_fit" -> ((s, d) => {
      // Closed-form OLS inside the plan: vocabulary richness (distinct
      // tokens) modeled from token count + char count — the cheap
      // linear quality scorer a curation pipeline fits per corpus
      // snapshot. ONE pass reduces to ten exact DECIMAL(38,0)
      // sufficient statistics; Cramer's rule solves the 3×3 normal
      // equations as a scalar expression tree (no driver collect), and
      // DuckDB replays the identical sums + solve chain.
      val docs = t(s, d, "documents")
      val toks = TextDedup.tokens(col("text"))
      Stats.linearFit(docs,
        size(array_distinct(toks)).cast("long"),
        size(toks).cast("long"),
        col("n_chars"))
    }),
    "x135_source_auc" -> ((s, d) =>
      // Ranking-power audit: per-source ROC AUC of the n_chars score
      // against the (fixture-random) lang=='en' label — Mann–Whitney
      // with average-rank ties, 2·ranksum kept integral so the per-
      // group statistic is ONE exact division. The corpus collapses to
      // per-(source, score) counts; the rank window sorts distinct
      // scores per source, never rows.
      Stats.groupAuc(t(s, d, "documents"), "source", col("n_chars"),
          col("lang") === "en")
        .orderBy(col("group"))),
    "x136_calibration" -> ((s, d) => {
      // Reliability diagram + ECE for a length-based "long doc" scorer
      // (p = clipped n_chars/560) against the ≥55-token label: per-bin
      // confidence sums land on an exact 1e-6 lattice, accuracy is an
      // integer ratio, and the ECE folds over the 10 bins in bin
      // order — the whole report replayed value-for-value in DuckDB.
      val docs = t(s, d, "documents")
      Stats.calibrationReport(docs,
          least(col("n_chars"), lit(560)).cast("double") / lit(560),
          size(TextDedup.tokens(col("text"))) >= 55, bins = 10)
        .orderBy(col("bin"))
    }),
    "x137_remove_top_components" -> ((s, d) =>
      // "All-but-the-top" embedding post-processing: mean-center and
      // subtract the top-2 principal directions (x133's engine-exact
      // axes) — the standard isotropy fix before cosine thresholds.
      // Per row: the removed magnitudes and the norm before/after, all
      // narrow arithmetic on broadcast-literal axes; the oracle
      // replays the full PCA chain plus the correction.
      Embeddings.removeTopComponents(
          t(s, d, "embeddings"), "embedding", "vec_id", k = 2)
        .orderBy(col("vec_id"))),
    "x138_weighted_median" -> ((s, d) =>
      // Token-WEIGHTED median document length per source: the smallest
      // n_chars whose cumulative token weight reaches half the
      // source's total — where the middle token lives, not the middle
      // row. Integer comparison 2·cum ≥ total, so the pick is exact;
      // the window sorts distinct lengths per source only.
      Quality.weightedMedian(t(s, d, "documents"), "source", "n_chars",
          size(TextDedup.tokens(col("text"))).cast("long"))
        .orderBy(col("group"))),
    "x139_pmi_collocations" -> ((s, d) =>
      // Collocation mining: top-50 adjacent token pairs by PMI
      // (min pair count 5) — the phrase detector feeding tokenizer
      // vocab and boilerplate screens. Bigram/unigram counts reduce
      // map-side; the PMI join runs on the thresholded pair table; the
      // ln() chain and the (rounded pmi, terms) cut replay in DuckDB.
      TextAnalysis.pmiCollocations(t(s, d, "documents"), "text",
        minCount = 5, topK = 50)),
    "x140_token_jsd" -> ((s, d) => {
      // Symmetric bounded drift: Jensen–Shannon divergence of each
      // source's token distribution vs the pooled corpus — x78's KL
      // family without the smoothing caveat (the mixture is positive
      // wherever either side is). Grid cells replay cell-for-cell;
      // both double sums fold in sorted vocab order.
      val toks = t(s, d, "documents").select(col("source"),
        explode(TextDedup.tokens(col("text"))).as("term"))
      graft.ext.Drift.jensenShannon(toks, "source", "term")
        .orderBy(col("source"))
    }),
    "x141_token_gini" -> ((s, d) =>
      // Vocabulary-collapse detector: per-source Gini + top-10 token
      // share over the unigram distribution. Rank·count sums are exact
      // DECIMAL(38,0); both outputs are one-division values with no
      // fold-order caveat; the rank windows sort each source's
      // DISTINCT terms only.
      TextAnalysis.giniConcentration(t(s, d, "documents"), "source",
          "text", topK = 10)
        .orderBy(col("group"))),
    "x142_ks_drift" -> ((s, d) =>
      // Binning-free numeric drift: per-source two-sample KS distance
      // of n_chars vs the pooled corpus, evaluated at every pooled
      // distinct value (the discrete sup is exact — the pool dominates
      // each group). ECDFs are integer ratios; |p−q| and the max are
      // single IEEE ops — deterministic with NO fold-order caveat.
      graft.ext.Drift.ksDistance(t(s, d, "documents"), "source", "n_chars")
        .orderBy(col("source"))),
    "x143_boilerplate_fraction" -> ((s, d) =>
      // Cross-document duplication-mass profile: the share of each
      // doc's distinct 3-shingles occurring in ≥2 documents — template
      // text per-pair tiers never score and intra-doc repetition gates
      // cannot see. Inverted index → vocab-sized df counts → join back
      // → integer-ratio rollup.
      TextDedup.boilerplateFraction(t(s, d, "documents"), "text", "doc_id")
        .orderBy(col("id"))),
    "x144_retrieval_eval" -> ((s, d) => {
      // trec_eval battery over a lexical retriever: 6 probe docs rank
      // the corpus by distinct-token overlap (x121's first source);
      // qrels grade same-lang docs 1 and same-lang-same-source docs 2.
      // nDCG@10 / MRR / AP@10 / P@10 / R@10 per query — ranking via
      // the reducing heap (score DESC, doc ASC), every eval fold in
      // rank order, judged side one per-query aggregate.
      val docs = t(s, d, "documents")
      val toks = docs.select(col("doc_id"),
        TextDedup.tokens(col("text")).as("toks"), col("lang"), col("source"))
      val q = toks.filter(col("doc_id") <= 5)
        .select(col("doc_id").as("query_id"), col("toks").as("qtoks"),
          col("lang").as("qlang"), col("source").as("qsource"))
      val run = q.join(toks, col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id"),
          size(array_intersect(array_distinct(col("qtoks")),
            array_distinct(col("toks")))).cast("double").as("score"))
      val qrels = q.join(toks, col("doc_id") =!= col("query_id"))
        .filter(col("lang") === col("qlang"))
        .select(col("query_id"), col("doc_id"),
          when(col("source") === col("qsource"), 2L).otherwise(1L)
            .as("grade"))
      Retrieval.evalMetrics(run, qrels, "query_id", "doc_id", "score",
          "grade", k = 10)
        .orderBy(col("query_id"))
    }),
    "x145_ewma_smoothing" -> ((s, d) => {
      // Alerting baseline: exponentially-weighted moving average of
      // daily event counts per type (α = 0.3). The recurrence runs as
      // one narrow per-key fold in bin order — (1−α) computed IEEE,
      // fold unrounded, presentation rounded — so the whole smoothed
      // series hash-verifies cross-engine.
      val ev = t(s, d, "events").select(col("event_type"), col("ts"))
      val res = TimeSeries.resampleCounts(ev, "event_type", "ts", 86400L)
      TimeSeries.ewma(res, "event_type", "bin", "n", alpha = 0.3)
        .orderBy(col("event_type"), col("bin"))
    }),
    "x146_cusum_changepoint" -> ((s, d) => {
      // Sequential change-point detection: two-sided CUSUM of daily
      // event counts per type against each type's own mean level
      // (exact integer ratio), dead-band 2 events/day, alarm at a
      // cumulative excursion of 20. Complements the distributional
      // drift family: PSI/KS/JSD say the population moved, CUSUM says
      // WHEN the series left its level.
      val ev = t(s, d, "events").select(col("event_type"), col("ts"))
      val res = TimeSeries.resampleCounts(ev, "event_type", "ts", 86400L)
      val tgt = res.groupBy(col("event_type"))
        .agg((sum(col("n")) / count(lit(1))).as("target"))
      TimeSeries.cusum(res.join(tgt, "event_type"), "event_type", "bin",
          "n", "target", slack = 2.0, threshold = 20.0)
        .orderBy(col("event_type"), col("bin"))
    }),
    "x147_bh_drift_alerts" -> ((s, d) => {
      // Drift ALERTING with controlled false discovery: 3 features ×
      // |sources| KS tests vs the pooled corpus, DKW-style p bound
      // p = min(1, 2·exp(−2·ks²·(n·t/(n+t)))), then Benjamini–Hochberg
      // step-up at α = 0.1 across the whole family — per-test
      // thresholds at this family size would drown real drift in
      // false alarms. Exact-zero p underflows tie on id; everything
      // else in the chain is deterministic IEEE.
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val feats = Seq(
        ("n_chars", docs.select(col("source"), col("n_chars").as("v"))),
        ("n_tokens", docs.select(col("source"),
          size(TextDedup.tokens(col("text"))).cast("long").as("v"))),
        ("n_distinct", docs.select(col("source"),
          size(array_distinct(TextDedup.tokens(col("text"))))
            .cast("long").as("v"))))
      val tests = feats.map { case (nm, f) =>
        graft.ext.Drift.ksDistance(f, "source", "v")
          .select(lit(nm).as("feature"), col("source"), col("n"), col("ks"))
      }.reduce(_ unionByName _)
      val withP = tests
        .withColumn("t",
          sum(col("n")).over(Window.partitionBy(col("feature"))))
        .select(concat(col("feature"), lit(":"), col("source")).as("id"),
          least(lit(1.0), lit(2.0) * exp(lit(-2.0) * col("ks") * col("ks") *
            (col("n").cast("double") * col("t") / (col("n") + col("t")))))
            .as("p"))
      graft.ext.Drift.bhCorrect(withP, "id", "p", alpha = 0.1)
        .orderBy(col("rank"))
    }),
    "x148_attribution" -> ((s, d) =>
      // Multi-touch conversion attribution: click/view/signup touches
      // credit the user's NEXT purchase under all four standard models
      // at once (first/last/linear/position 40-20-40). Fractional
      // credits are never summed unordered — touches reduce to exact
      // (channel, path-length, role) counts and each model folds over
      // the sorted grid cells.
      graft.olap.Funnel.attribution(t(s, d, "events"), "user_id", "ts",
          "event_id", "event_type", Seq("click", "view", "signup"),
          "purchase")
        .orderBy(col("channel"))),
    "x149_association_rules" -> ((s, d) => {
      // Market-basket rules over order → brand baskets: directed a → b
      // with support / confidence / lift, every metric one division of
      // exact integer counts. The within-basket pairing is the one
      // quadratic surface, bounded by the basket contract and the
      // maxBasket hard cap; the dimension join broadcasts.
      val li = t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val p = t(s, d, "part").select(col("p_partkey"), col("p_brand"))
      val baskets = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      graft.olap.Affinity.associationRules(baskets, "basket", "item",
        minCount = 10, minConfidence = 0.05, topK = 50)
    }),
    "x150_rfm_segments" -> ((s, d) => {
      // Lifecycle segmentation: recency/frequency/monetary scored
      // 1..5 against percentile cutpoints from the BOUNDED KLL
      // sketch (one aggregate + a broadcast row + a narrow array
      // scan — deliberately NOT a global ntile sort), folded into
      // champion/loyal/at_risk/... segments. Money in exact cents;
      // the fixture population sits in the sketch's exact regime
      // (n <= 2^16 — no compaction fires), where the interpolating
      // read is bit-identical to exact percentile/quantile_cont —
      // the oracle's spelling.
      val tx = t(s, d, "orders")
      // SELF-HEALING exact regime (r14): cutpointK derives from the
      // exact distinct-customer count (already needed for the guard —
      // no estimator slack), next power of two past 2× the
      // population, so fixture growth to sf1 (~100k customers) rides
      // without a hand edit; the loud guard stays as the backstop —
      // a derivation bug must fail with a message, not a hash diff
      val customers = tx.filter(col("o_custkey").isNotNull)
        .agg(count_distinct(col("o_custkey"))).head.getLong(0)
      val k = graft.olap.CustomerValue.exactRegimeCutpointK(customers)
      require(customers <= k,
        s"x150 exact-regime guard: $customers distinct customers" +
          s" exceeds the derived cutpointK=$k — re-derive the oracle")
      graft.olap.CustomerValue.rfm(tx, "o_custkey",
          "o_orderdate", "o_totalprice", cutpointK = k)
        .orderBy(col("o_custkey"))
    }),
    "x151_pareto_abc" -> ((s, d) =>
      // Revenue concentration: customers ranked by exact-cents
      // contribution, cumulative share, ABC classes at 70/90% — the
      // global order runs over the POST-AGGREGATION per-customer
      // frame (report contract), never the transaction log.
      graft.olap.CustomerValue.paretoAbc(t(s, d, "orders"), "o_custkey",
          "o_totalprice")
        .orderBy(col("rank"))),
    "x152_target_encoding" -> ((s, d) => {
      // Categorical featurizer with leakage control: encode order
      // priority by smoothed mean order value (10 pseudo-counts toward
      // the global prior) and by the leave-one-out mean (the row's own
      // target never leaks into its feature). Exact integer cents
      // sums; every encode a fixed per-row chain.
      val o = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
          .as("price_cents"))
      Stats.targetEncode(o, "o_orderpriority", "price_cents",
          smoothing = 10.0)
        .orderBy(col("o_orderkey"))
    }),
    "x153_active_users" -> ((s, d) =>
      // Growth accounting: exact rolling DAU/WAU/MAU + stickiness.
      // The log dedups to (user, day) FIRST; each deduped row expands
      // to the ≤28 report days it covers (bounded blowup of the
      // deduped frame — the exact-sliding-distinct trade; the 100 TB
      // approximate path is per-day HLL states merged over the same
      // windows).
      graft.olap.Growth.activeUsers(t(s, d, "events"), "user_id", "ts")),
    "x154_new_vs_returning" -> ((s, d) =>
      // Per-day new/returning split + cumulative user base: one
      // (user, day) dedup, per-user first day, day rollup, and a
      // |days|-sized running sum.
      graft.olap.Growth.newVsReturning(t(s, d, "events"), "user_id",
        "ts")),
    "x155_top_paths" -> ((s, d) =>
      // "How do users start": top-20 first-5-event sequences. The
      // first-k selection is the row_number≤k idiom (a partial
      // WindowGroupLimit per user); path assembly folds steps in rank
      // order; deterministic (n_users DESC, path) cut.
      graft.olap.Funnel.topPaths(t(s, d, "events"), "user_id", "ts",
        "event_id", "event_type", maxSteps = 5, topK = 20)),
    "x156_centroid_shift" -> ((s, d) => {
      // Embedding drift: per-label cosine between the integer-lattice
      // centroids of two corpus versions (here: the even-id half vs
      // the full table — a deterministic version pair). Both "models"
      // are order-independent integer sums; the comparison is a fixed
      // per-row chain over two |dims| arrays.
      val emb = t(s, d, "embeddings")
      Embeddings.centroidShift(emb.filter(col("vec_id") % 2 === 0), emb,
          "embedding", "label")
        .orderBy(col("label"))
    }),
    "x157_benford_audit" -> ((s, d) =>
      // Fabricated-data / broken-feed screen: first-digit distribution
      // of order values (exact cents) vs Benford's law, with chi² and
      // Nigrini's MAD. Digit from the BIGINT's decimal string — never
      // log10, whose power-of-ten boundaries are engine-dependent.
      Quality.benford(t(s, d, "orders").select(
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("cents")), "cents")
        .orderBy(col("digit"))),
    "x158_weight_diagnostics" -> ((s, d) =>
      // QA gate on weighted corpora: Kish effective sample size,
      // max-weight share and weight CV per language for an
      // n_chars-weighted sampling scheme. Exact integer Σw/Σw² under
      // any partitioning; the summary chain is fixed per group.
      graft.ext.Sampling.weightDiagnostics(t(s, d, "documents"), "lang",
          "n_chars", microScale = 1L)
        .orderBy(col("group"))),
    "x159_ab_test" -> ((s, d) => {
      // Experiment readout: users split into arms by id parity
      // (deterministic assignment), conversion = a purchase above the
      // 150 value threshold (any-purchase saturates the fixture);
      // two-proportion z vs the control arm. Exact counts, one divide
      // per rate, fixed z chain.
      val users = t(s, d, "events").groupBy(col("user_id"))
        .agg(max((col("event_type") === "purchase" && col("value") > 150)
          .cast("long")).as("converted"))
        .withColumn("arm", when(col("user_id") % 2 === 0, "control")
          .otherwise("treatment"))
      Stats.twoProportionTest(users, "arm", "control", "converted")
        .orderBy(col("arm"))
    }),
    "x160_cuped" -> ((s, d) => {
      // CUPED variance reduction: per-user purchase spend (exact
      // cents) adjusted by view count as the pre-experiment covariate;
      // θ estimated pooled so the adjustment cannot bias the effect.
      // Everything reduces to exact decimal sufficient statistics;
      // variances ship unrounded (x152 magnitude rule).
      val users = t(s, d, "events").groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
            floor(col("value") * 100 + lit(0.5)).cast("long"))
            .otherwise(0L)).as("spend_cents"),
          sum((col("event_type") === "view").cast("long")).as("n_views"))
        .withColumn("arm", when(col("user_id") % 2 === 0, "control")
          .otherwise("treatment"))
      Stats.cuped(users, "arm", "spend_cents", "n_views")
        .orderBy(col("arm"))
    }),
    "x161_conversion_latency" -> ((s, d) => {
      // Time-to-convert profile: first click → first subsequent
      // purchase per user, exact quartile/p90 interpolation over
      // integer seconds (x28 bit-parity) + an exact-ratio mean,
      // unrounded (x152 magnitude rule). Two filtered aggregates and
      // one user-keyed join. The percentile buffer here is a
      // value→count map over DISTINCT integer-second latencies —
      // bounded by the log's time span (≤ seconds-in-span entries),
      // NOT by user count, so it is not the rfm/x150 bound class;
      // a sub-second-resolution or unbounded-range metric would be,
      // and would take the kllQuantilesCont swap.
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"))
        .agg(min(unix_timestamp(col("ts"))).as("first_click"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts")).as("buy_t"))
      val lat = clicks.join(buys, "user_id")
        .filter(col("buy_t") >= col("first_click"))
        .groupBy(col("user_id"), col("first_click"))
        .agg(min(col("buy_t")).as("first_buy"))
        .select((col("first_buy") - col("first_click")).as("latency_s"))
      lat.agg(count(lit(1)).as("n_converted"),
          percentile(col("latency_s"),
            typedLit(Seq(0.25, 0.5, 0.75, 0.9))).as("_qs"),
          (sum(col("latency_s")).cast("double") / count(lit(1)))
            .as("avg_s"))
        .select(col("n_converted"),
          element_at(col("_qs"), 1).as("p25"),
          element_at(col("_qs"), 2).as("p50"),
          element_at(col("_qs"), 3).as("p75"),
          element_at(col("_qs"), 4).as("p90"),
          col("avg_s"))
    }),
    "x162_length_match_weights" -> ((s, d) => {
      // Distribution-matching downsample weights: reweight the whole
      // corpus so its n_chars profile matches the English subset's
      // (the length-profile matching step of a pretraining mix). Fixed
      // 20-bin grid on [0, 600), integer-ratio fracs, max-ratio
      // normalization — most under-represented bin keeps everything.
      val docs = t(s, d, "documents")
      graft.ext.Sampling.distributionMatchWeights(docs,
          docs.filter(col("lang") === "en"), "n_chars",
          nBins = 20, lo = 0.0, hi = 600.0)
        .orderBy(col("bin"))
    }),
    "x163_version_mix_drift" -> ((s, d) => {
      // Table-format × drift integration: two snapshot commits of the
      // documents table, then Jensen–Shannon divergence of each
      // VERSION's language mix vs the pooled rows — the "did this
      // ingest batch shift the corpus mix" check a curation pipeline
      // runs on every commit, value-checked end to end through the
      // manifest log, time travel, and the drift kernel.
      import graft.warehouse.Snapshots
      val path = cachePath(d, "x163") + "/docs_snap"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"))
      val v1 = Snapshots.append(s, path, docs.filter(col("doc_id") % 3 =!= 2))
      Snapshots.append(s, path, docs.filter(col("doc_id") % 3 === 2))
      val tagged = Snapshots.read(s, path, Some(v1))
        .withColumn("version", lit("v1"))
        .unionByName(Snapshots.read(s, path)
          .withColumn("version", lit("v2")))
      graft.ext.Drift.jensenShannon(tagged, "version", "lang")
        .orderBy(col("version"))
    }),
    "x164_churn_training_frame" -> ((s, d) =>
      // Leakage-safe churn training table: per-type activity counts
      // and days-silent STRICTLY before the Jan-20 cutoff; label = any
      // activity in the 7-day outcome window after it. The two windows
      // are disjoint filters on one scan — features structurally
      // cannot peek past the cutoff.
      graft.olap.Growth.trainingFrame(t(s, d, "events"), "user_id", "ts",
          "event_type", "2024-01-20 00:00:00", horizonDays = 7,
          eventTypes = Seq("click", "view", "purchase", "error", "signup"))
        .orderBy(col("user_id"))),
    "x165_holt_forecast" -> ((s, d) => {
      // Trend-aware smoothing: Holt level+trend over daily counts per
      // type (α=.5, β=.3) with one-step-ahead forecasts and the
      // residual stream an alerting rule thresholds. Same narrow
      // per-key fold as EWMA; the oracle replays the double recurrence
      // (the repeated l-expression is the identical IEEE chain, so
      // recomputing it inside the t-term is exact).
      val ev = t(s, d, "events").select(col("event_type"), col("ts"))
      val res = TimeSeries.resampleCounts(ev, "event_type", "ts", 86400L)
      TimeSeries.holt(res, "event_type", "bin", "n",
          alpha = 0.5, beta = 0.3)
        .orderBy(col("event_type"), col("bin"))
    }),
    "x166_dow_seasonality" -> ((s, d) => {
      // Day-of-week seasonality profile per event type: average daily
      // volume within each weekday over the overall daily average —
      // the classic retail/traffic calendar index. Exact integer
      // (type, day) counts; two divides per row. (DuckDB's dayofweek
      // is 0-based Sunday; Spark's is 1-based — the oracle shifts.)
      val daily = t(s, d, "events").filter(col("ts").isNotNull)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", dayofweek(col("day")).cast("long"))
      val byDow = daily.groupBy(col("event_type"), col("dow"))
        .agg(sum(col("n")).as("events"), count(lit(1)).as("days"))
      val overall = daily.groupBy(col("event_type"))
        .agg((sum(col("n")).cast("double") / count(lit(1)))
          .as("_overall"))
      byDow.join(overall, "event_type")
        .select(col("event_type"), col("dow"), col("events"), col("days"),
          round(col("events").cast("double") / col("days"), 6)
            .as("avg_daily"),
          round(col("events").cast("double") / col("days") / col("_overall"),
            6).as("seasonality_index"))
        .orderBy(col("event_type"), col("dow"))
    }),
    "x167_nb_sweep_binned" -> ((s, d) => {
      // Filter calibration on a CONTINUOUS classifier score — the
      // regime x117's exact sweep guards against: the x114 NB model's
      // per-doc 'en' log-posterior has corpus-cardinality distinct
      // values, so the sweep quantizes to a 1e-2 lattice FIRST
      // (thresholds bounded by score range × 100, never by rows) and
      // runs the cumulative confusion over THAT. Scores are
      // position-ordered ln folds (x114 parity), the lattice is the
      // portable floor(x·s + .5)/s, counts exact, ratios integer-
      // derived — DuckDB replays training, scoring, and the sweep.
      // Null-lang rows would DROP (the unified r11 label contract).
      import graft.ext.TextClassify
      val docs = t(s, d, "documents")
      val model = TextClassify.trainNaiveBayes(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "lang")
      val applyHalf = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      val scored = TextClassify.scoreFor(model, applyHalf, "text",
          "doc_id", "en")
        .join(applyHalf.select(col("doc_id").as("id"), col("lang")), "id")
      val out = Quality.thresholdSweepBinned(
          scored, "score", col("lang") === "en", scale = 100.0)
        .orderBy(col("threshold").desc)
      model.unpersist() // x114 leak discipline: no cached frame survives
      out
    }),
    "x168_crossdoc_spans" -> ((s, d) =>
      // Exact-substring training-corpus dedup (the Lee-et-al step x61
      // removes and x116 approximates at whole-doc granularity): every
      // maximal run of 8-token windows each shared by >= 2 DISTINCT
      // documents, with the span text rebuilt from the token array.
      // No pair table ever materializes (per-shingle distinct-doc
      // counts + a semi-join), so the pipeline needs no maxBucket cap;
      // the run-merge window partitions per document. The token frame
      // stages to parquet (x116 discipline — consumed by the shingle
      // pass AND the rebuild join; no session persist survives).
      // Runs the DEFAULT boilerplate ceiling (64) in its exact regime:
      // the fixture's max shingle df is 4, so the capped default
      // equals the uncapped contract and the oracle SQL (no upper
      // bound) is unchanged — the ceiling exists for degenerate
      // density, which the oracle fixture does not have.
      graft.ext.TextDedup.crossDocRepeatedSpans(
          t(s, d, "documents"), "text", "doc_id",
          k = 8, minDocs = 2,
          stagingPath = Some(cachePath(d, "x168") + "/toks"))
        .orderBy(col("doc_id"), col("span_start"))),
    "x169_growth_mv" -> ((s, d) => {
      // DAU/WAU/MAU served from an incrementally-maintained
      // distinct-set MV (x113's maintenance loop with the set state):
      // three deltas merge per-day exact active-user sets — set union
      // is associative, commutative AND idempotent, so the maintained
      // table equals the batch recompute exactly and the x153 oracle
      // value-checks the whole loop. Each delta touches only its days'
      // partitions (O(delta) maintenance); the serve explodes the
      // day-sized sets, never rescanning event history.
      import graft.stream.{IncrementalMv, MvAgg}
      val path = cachePath(d, "x169") + "/mv_dset"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("_all", lit("all"))
      (0 until 3).foreach(m => IncrementalMv.applyAggDelta(
        ev.filter(pmod(col("event_id"), lit(3)) === m), m, path,
        "ts", "_all", col("user_id"), MvAgg.distinctSet))
      graft.olap.Growth.activeUsersFromMv(s, path)
    }),
    "x170_auc_null_labels" -> ((s, d) =>
      // x135 with every 7th document deliberately UN-labeled (a null
      // label injected query-side — the fixtures are null-free): the
      // groupAuc null-drop contract now rides the oracle gate, not
      // just its unit spec. The oracle excludes exactly those rows.
      Stats.groupAuc(t(s, d, "documents"), "source", col("n_chars"),
          when(pmod(col("doc_id"), lit(7)) =!= 0, col("lang") === "en"))
        .orderBy(col("group"))),
    "x171_growth_mv_kmv" -> ((s, d) => {
      // x169's 1e9-user escape hatch, EXECUTED: the same maintenance
      // loop with the BOUNDED KMV state (<= k longs per (day, key))
      // instead of the exact user set — the reference's maintained
      // latest-state hub (DDL:447-470) at a cardinality ClickHouse
      // answers with uniqState. Value-oracled in the exact regime:
      // every 28-day window union must stay STRICTLY below k = 4096
      // (at size == k the estimator switches to (k−1)·space/h_k), and
      // below that a KMV sketch IS the distinct hash set (bottom-k of
      // a union == union), so every estimate is the exact count and
      // the serve replays the SAME batch oracle as x153/x169 — the
      // estimates just carry DOUBLE type. The saturated-regime error
      // band is spec-pinned (GrowthSpec).
      import graft.stream.{IncrementalMv, MvAgg}
      val path = cachePath(d, "x171") + "/mv_kmv"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("_all", lit("all"))
      (0 until 3).foreach(m => IncrementalMv.applyAggDelta(
        ev.filter(pmod(col("event_id"), lit(3)) === m), m, path,
        "ts", "_all", col("user_id"), MvAgg.kmvDistinct(4096)))
      // guard the exact-regime invariant LOUDLY, on the DAY-SIZED MV
      // frame (never a second events scan): no per-day sketch may
      // truncate (max size < k, else the union undercounts) and the
      // all-days hash union — an upper bound on every 28-day window
      // union — must stay strictly below k. Fixture growth past the
      // regime fails here with a message, not an opaque hash diff.
      val mv = s.read.parquet(path)
      // ONE aggregation job for both guard reads, with the union side
      // DISTRIBUTED: explode_outer keeps every day's sketch length in
      // the max while count_distinct dedups hashes with a partial
      // aggregate — no single collect_list buffer ever materializes
      // the all-days union (which at a large day count would itself
      // become the memory hazard this guard exists to flag).
      // max over an EMPTY MV is null — an empty fixture serves an
      // empty report against an empty oracle, so the guard passes it
      val guardRow = mv
        .select(size(col("state")).as("_sz"),
          explode_outer(col("state")).as("_h"))
        .agg(max(col("_sz")), count_distinct(col("_h"))).head
      val maxLen = if (guardRow.isNullAt(0)) 0 else guardRow.getInt(0)
      val unionDistinct = guardRow.getLong(1)
      require(maxLen < 4096 && unionDistinct < 4096,
        s"x171 exact-regime guard: per-day max $maxLen / union " +
          s"$unionDistinct hashes not strictly below k=4096 — raise k" +
          " (keep every 28-day window union < k) or re-derive the oracle")
      graft.olap.Growth.activeUsersFromKmvMv(s, path, 4096)
    }),
    "x172_calibration_null_labels" -> ((s, d) => {
      // x136 with every 7th doc UN-labeled query-side: the unified
      // null-drop label contract (when(l,1).when(!l,0) + isNotNull)
      // rides the oracle gate for calibrationReport too — dropped rows
      // must vanish from confidence sums, accuracy AND the ECE weights.
      val docs = t(s, d, "documents")
      Stats.calibrationReport(docs,
          least(col("n_chars"), lit(560)).cast("double") / lit(560),
          when(pmod(col("doc_id"), lit(7)) =!= 0,
            size(TextDedup.tokens(col("text"))) >= 55), bins = 10)
        .orderBy(col("bin"))
    }),
    "x173_centroid_null_rows" -> ((s, d) =>
      // x128 with nulls injected on BOTH input columns (label on every
      // 7th vec, embedding on every 11th): dropped rows must leave the
      // centroids themselves, not just the assignment pass — the
      // oracle recomputes centroids over exactly the surviving rows.
      Embeddings.nearestCentroidConfusion(
          t(s, d, "embeddings").select(
            col("vec_id"),
            when(pmod(col("vec_id"), lit(11)) =!= 0, col("embedding"))
              .as("embedding"),
            when(pmod(col("vec_id"), lit(7)) =!= 0, col("label"))
              .as("label")),
          "embedding", "label")
        .orderBy(col("label"), col("pred"))),
    "x174_binned_sweep_null_labels" -> ((s, d) => {
      // x167 with every 7th scored doc UN-labeled: null labels must
      // drop from the binned sweep's lattice AND confusion counts
      // (they are rows without ground truth, not negatives).
      import graft.ext.TextClassify
      val docs = t(s, d, "documents")
      val model = TextClassify.trainNaiveBayes(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text", "lang")
      val applyHalf = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
      val scored = TextClassify.scoreFor(model, applyHalf, "text",
          "doc_id", "en")
        .join(applyHalf.select(col("doc_id").as("id"), col("lang")), "id")
      val out = Quality.thresholdSweepBinned(scored, "score",
          when(pmod(col("id"), lit(7)) =!= 0, col("lang") === "en"),
          scale = 100.0)
        .orderBy(col("threshold").desc)
      model.unpersist()
      out
    }),
    "x175_growth_mv_ranged" -> ((s, d) => {
      // the RANGED growth-MV serve (r13): the same distinct-set MV as
      // x169 but served for the 2024-01-05..20 day slice — the
      // partition-pruned dashboard read (source days range.start −
      // max(w) + 1 .. range.end, report clipped; PlanSpec gates the
      // PartitionFilters). ONE delta builds the MV: the maintenance
      // loop itself is x169/x171's oracled claim — this query puts
      // the prune/clip arithmetic on the value gate.
      import graft.stream.{IncrementalMv, MvAgg}
      val path = cachePath(d, "x175") + "/mv_dset"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val ev = t(s, d, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
        .withColumn("_all", lit("all"))
      IncrementalMv.applyAggDelta(ev, 0, path, "ts", "_all",
        col("user_id"), MvAgg.distinctSet)
      graft.olap.Growth.activeUsersFromMv(s, path,
        range = Some(("2024-01-05", "2024-01-20")))
    }),
    "x176_snapshot_quantiles_cont" -> ((s, d) => {
      // x110's versioned-table quantiles read with percentile's
      // CONTINUOUS convention (r13's graft_kll_values_cont machinery
      // through Snapshots.quantileSketch): same per-commit sketch
      // blobs, interpolating read — oracled against DuckDB's
      // quantile_cont directly, the x28/x150 bit-parity. Exact regime
      // guarded loudly (total rows ≤ k ⇒ no compaction ⇒ the merged
      // ladder holds every value).
      import graft.warehouse.Snapshots
      val path = cachePath(d, "x176") + "/docs_kll"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
      val n = docs.filter(col("n_chars").isNotNull).count()
      require(n <= 8192,
        s"x176 exact-regime guard: $n rows exceeds k=8192 — raise k or" +
          " re-derive the oracle")
      (0 until 3).foreach(m => Snapshots.append(s, path,
        docs.filter(pmod(col("doc_id"), lit(3)) === m).coalesce(1)))
      Snapshots.quantileSketch(s, path, "n_chars",
          Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99), k = 8192,
          interpolate = true)
        .select(col("qi"), col("value"))
        .orderBy(col("qi"))
    }),
    "x177_winsorize_approx" -> ((s, d) => {
      // x55's winsorization through the BOUNDED percentile source
      // (approxK, r13): one interpolating KLL sketch per group answers
      // both quantiles with O(approxK·log) state, where exact
      // `percentile`'s buffer is distinct-value-proportional. The
      // fixture sits in the sketch's exact regime (largest lang group
      // ≤ approxK — guarded, the x150/x176 convention), where the read
      // is bit-identical to exact percentile/quantile_cont — so this
      // hash-matches x55's oracle verbatim.
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      requireGroupsFitSketch(docs, "lang", "n_chars", 8192, "x177")
      Quality.winsorize(docs, "n_chars", "lang", 0.05, 0.95,
          approxK = 8192)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("p_lo"), col("p_hi"), col("clipped"))
        .orderBy(col("doc_id"))
    }),
    "x178_robust_outliers_approx" -> ((s, d) => {
      // x36's median/MAD robust scan through the bounded interpolating
      // KLL percentile source (approxK = 8192): exact-regime-guarded
      // on the largest lang group, so it hash-matches x36's oracle —
      // the bounded sibling oracled in its exact regime, the x171
      // house standard.
      val docs = t(s, d, "documents").select(col("doc_id"), col("lang"),
        col("n_chars").cast("double").as("len"))
      requireGroupsFitSketch(docs, "lang", "len", 8192, "x178")
      Quality.robustOutliers(docs, "lang", "len", approxK = 8192)
        .select(col("doc_id"), col("lang"), col("len"), col("med"),
          col("mad"), col("robust_z"), col("is_outlier"))
        .orderBy(col("doc_id"))
    }),
    "x179_mv_kll_quantiles_ranged" -> ((s, d) => {
      // the ranged KLL-MV dashboard read (r14): x175's partition-
      // pruned day-range scan composed with x176's interpolating
      // sketch read, served from the x115-family maintained KLL MV.
      // Two deltas build per-day value-cents sketches; the
      // 2024-01-08..14 serve merges ONLY its day partitions (PlanSpec
      // gates the PartitionFilters) and resolves quantiles with
      // percentile's continuous convention — the dashboard read is
      // O(days × k) at any event volume. Exact regime guarded: the
      // slice's rows fit the sketch (nothing compacts anywhere — the
      // per-day states hold fewer rows still), so the read
      // hash-matches DuckDB quantile_cont over the same day slice
      // directly. Integer cents keep the interpolation bit-identical
      // (the x28/x150/x176 parity).
      import graft.stream.{IncrementalMv, MvAgg}
      val path = cachePath(d, "x179") + "/mv_kll"
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      val k = 32768
      val qs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
      val ev = t(s, d, "events")
        // event_id is the delta-split key below — a null would vanish
        // from BOTH deltas while the oracle slice keeps it, so filter
        // it here and mirror the predicate in the oracle SQL
        .filter(col("ts").isNotNull && col("value").isNotNull &&
          col("event_id").isNotNull)
        .withColumn("_all", lit("all"))
        .withColumn("cents",
          floor(col("value") * 100 + lit(0.5)).cast("double"))
      val sliceRows = ev.filter(col("ts").cast("date").between(
        lit("2024-01-08"), lit("2024-01-14"))).count()
      require(sliceRows > 0 && sliceRows <= k,
        s"x179 exact-regime guard: $sliceRows rows in the day slice" +
          s" (need 1..$k) — raise k / re-derive the oracle, or the" +
          " fixture lost the 2024-01-08..14 days")
      (0 until 2).foreach(m => IncrementalMv.applyAggDelta(
        ev.filter(pmod(col("event_id"), lit(2)) === m), m, path,
        "ts", "_all", col("cents"), MvAgg.kll(s, k, qs)))
      IncrementalMv.readKllQuantiles(s, path, k, qs,
          range = Some(("2024-01-08", "2024-01-14")))
        .orderBy(col("qi"))
    }),
    "x180_pack_sequences" -> ((s, d) =>
      // the pretraining concat-and-chunk layout: documents
      // concatenate in id order and the stream chunks into
      // 2048-token sequences (n_chars as the count column — the
      // packing math is count-agnostic), docs splitting across
      // boundaries; output is the (doc, sequence) slice plan a
      // writer executes. The global cumsum never sorts the corpus on
      // one partition: ids band by the log lattice and offsets come
      // from one band-frame prefix-sum (the paretoAbc decomposition
      // on id order). Pure integer arithmetic — bit-identical
      // cross-engine.
      TextAnalysis.packSequences(
          t(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", 2048L)
        .orderBy(col("seq_id"), col("seq_offset"))),
    "x181_pack_by_source" -> ((s, d) =>
      // x180 in the multi-source training shape: each lang packs as
      // its OWN stream (sequences never mix sources; sequence ids
      // restart per lang) — the band-offset fold is a lang-
      // PARTITIONED window here, so the grouped variant is strictly
      // more parallel than the global one.
      TextAnalysis.packSequences(
          t(s, d, "documents").select(col("doc_id"), col("lang"),
            col("n_chars")),
          "doc_id", "n_chars", 2048L, groupCols = Seq("lang"))
        .orderBy(col("lang"), col("seq_id"), col("seq_offset"))),
    "x182_corpus_pipeline" -> ((s, d) => {
      // FLAGSHIP COMPOSITION (r15): the five LLM-curation stages as
      // ONE pipeline over the perturbed crawl corpus — curate (the
      // x40 verdict) → near-dup keep-best (x57, pairs restricted to
      // curation survivors) → decontaminate (x20's every-10th-doc
      // benchmark, at the 8-shingle contamination grain) → mixture
      // reweight on the crawl SOURCE + deterministic sha256 apply
      // (x130 × weightedSample; non-uniform targets so keep_prob < 1
      // for most sources and the threshold genuinely drops rows) →
      // packSequences (x180). Each stage is the already-oracled
      // operator; the value checked here is that they COMPOSE — no
      // column/contract collisions end to end — with the final
      // (doc, sequence) slice plan hash-matched against a full DuckDB
      // replay of the composed rule.
      x182Pipeline(s, d)
        .packed
        .select(col("id").as("doc_id"), col("seq_id"), col("doc_offset"),
          col("seq_offset"), col("piece_len"))
        .orderBy(col("seq_id"), col("seq_offset"))
    }),
    "x183_corpus_funnel" -> ((s, d) => {
      // the x182 pipeline's RETENTION FUNNEL — the number a curation
      // run publishes: surviving doc count + token mass after each
      // stage (curate → dedup → decontaminate → mix). |stages|-sized
      // output; the oracle reads the same shared replay chain at each
      // stage boundary, so a drift in ANY stage's keep/cut rule shows
      // up here as a count diff with the stage's name on it.
      // STAGED-SERVE: ensure the staged boundaries exist (memoized
      // build), then read the funnel from the boundary parquet alone —
      // the plan is 4 pruned columnar scans, no pipeline lineage.
      x182Pipeline(s, d)
      graft.ext.CorpusPipeline.retentionReportStaged(s,
          cachePath(d, "x182") + "/stages", "t")
        .orderBy(col("stage_idx"))
    }),
    "x184_incremental_corpus" -> ((s, d) => {
      // transform-on-INGEST curation (the reference's per-insert-block
      // MV discipline applied to the LLM chain): the perturbed corpus
      // arrives as TWO batches — originals, then perturbed copies —
      // each flowing curate (frozen batch-0 vocab) → 8-gram
      // decontaminate → online dedup against the accepted index, with
      // marker-committed O(delta) state. Portable (sha256) dedup mode,
      // so the oracle replays the whole chain including the greedy
      // cross-batch drop rule. Output: the accepted corpus with batch
      // attribution.
      graft.ext.IncrementalCorpus.readAccepted(s, x184Root(s, d))
        .select(col("id"), col("ingest_batch"))
        .orderBy(col("id"))
    }),
    "x185_incremental_funnel" -> ((s, d) => {
      // the per-batch acceptance report a continuous-ingestion
      // pipeline publishes: surviving docs + token mass per ingest
      // batch — a drift in any per-batch stage (or in the cross-batch
      // drop rule) shows up as a named batch's count diff
      graft.ext.IncrementalCorpus.readAccepted(s, x184Root(s, d))
        .groupBy(col("ingest_batch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("t"), " ")).cast("long")).as("n_tokens"))
        .orderBy(col("ingest_batch"))
    }),
    "x186_retro_decontam" -> ((s, d) => {
      // the NEW-benchmark retroactive sweep a curation team runs when
      // an eval set lands AFTER ingestion: every currently-accepted
      // doc's 8-gram overlap against the new bench (documents with
      // doc_id % 7 == 0 — a different slice than the ingest-time
      // bench), filtered to the docs the bar would now evict. PURE
      // read over the x184 state (evict's ledger is spec'd, not
      // oracle-mutated — x184/x185 must stay deterministic).
      graft.ext.IncrementalCorpus.retroContamination(s, x184Root(s, d),
          graft.ext.IncrementalCorpus.Config("t", "id",
            portableDedup = true),
          t(s, d, "documents").filter(col("doc_id") % 7 === 0), "text")
        .orderBy(col("id"))
    }),
    "x187_evicted_corpus" -> ((s, d) => {
      // the full retention lifecycle under ONE oracle: ingest two
      // batches → commit the x186 sweep's verdict as an EVICTION →
      // ingest a third batch (two-token-dropped copies) whose members
      // face the POST-EVICTION index — an evictee's near-dup is judged
      // fresh and lands, a survivor's near-dup drops — → compact the
      // root (read-preserving fold; the oracle replays the logical
      // chain, so a compaction that changed any value goes red here).
      // Build-time gates pin every path non-vacuous (see x187Root).
      graft.ext.IncrementalCorpus.readAccepted(s, x187Root(s, d))
        .select(col("id"), col("ingest_batch"))
        .orderBy(col("id"))
    }),
    "x188_compacted_funnel" -> ((s, d) => {
      // the per-batch funnel SERVED FROM THE COMPACTED GENERATION —
      // x185's report shape over the post-eviction lifecycle root
      graft.ext.IncrementalCorpus.readAccepted(s, x187Root(s, d))
        .groupBy(col("ingest_batch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("t"), " ")).cast("long")).as("n_tokens"))
        .orderBy(col("ingest_batch"))
    }),
  )

  /** The x182/x183 crawl corpus: [[perturbedCorpus]] carrying each
    * doc's SOURCE (perturbed copies inherit their base doc's source
    * via id % 1000000 — the perturbation offset contract). */
  private[graft] def x182Corpus(s: SparkSession, d: String): DataFrame =
    perturbedCorpus(t(s, d, "documents"))
      .join(t(s, d, "documents")
        .select(col("doc_id").as("_bid"), col("source")),
        col("id") % 1000000 === col("_bid"))
      .drop("_bid")

  /** Build-once memo for the x182/x183 pipeline stages — the
    * portablePairs convention: the FIRST family query in a JVM runs
    * the pipeline with stage-boundary parquet staging (every stage
    * computes exactly once; the build cost lands on that query's
    * measured time), the second re-reads columnar stage outputs.
    * Keyed per (sessionUUID, sf dir) and per JVM, so the staged frames
    * can never go stale across code changes, and a stopped session's
    * entry (whose DataFrames are bound to that session) can never be
    * served to a new one — identityHashCode could collide after GC.
    * Entries are plan handles over staged parquet, so growth is
    * bounded by #sessions × #dirs and stays negligible. */
  private val x182Memo = scala.collection.concurrent.TrieMap
    .empty[String, graft.ext.CorpusPipeline.Stages]
  private def x182Pipeline(s: SparkSession, d: String): graft.ext.CorpusPipeline.Stages =
    x182Memo.synchronized {
      x182Memo.getOrElseUpdate(s"${sessionKey(s)}:$d", {
        graft.ext.CorpusPipeline.run(x182Corpus(s, d), "t", "id",
          portablePairs(s, d),
          t(s, d, "documents").filter(col("doc_id") % 10 === 0), "text",
          x182Targets, salt = "x182", seqLen = 2048L, mixCol = "source",
          stagingPath = Some(cachePath(d, "x182") + "/stages"))
      })
    }

  /** Build-once memo for the x184/x185 incremental-corpus state: the
    * FIRST family query in a JVM ingests the two batches (markers make
    * any concurrent/later build a no-op — the committed state is
    * code-identical within a JVM), later queries read committed
    * parquet. Same key discipline as [[x182Memo]]. */
  private val x184Memo = scala.collection.concurrent.TrieMap
    .empty[String, String]
  private def x184Root(s: SparkSession, d: String): String =
    x184Memo.synchronized {
      x184Memo.getOrElseUpdate(s"${sessionKey(s)}:$d", {
        val root = cachePath(d, "x184") + "/state"
        val corpus = perturbedCorpus(t(s, d, "documents"))
        val cfg = graft.ext.IncrementalCorpus.Config("t", "id",
          portableDedup = true)
        // frozen vocabulary: top-30 tokens of batch 0 (the originals)
        val vocab = graft.ext.TextAnalysis.tokenTopK(
          corpus.filter(col("id") < 1000000), "t", 30).select(col("token"))
        val bench = t(s, d, "documents").filter(col("doc_id") % 10 === 0)
        graft.ext.IncrementalCorpus.applyDelta(
          corpus.filter(col("id") < 1000000), 0, root, cfg, vocab,
          bench, "text")
        graft.ext.IncrementalCorpus.applyDelta(
          corpus.filter(col("id") >= 1000000), 1, root, cfg, vocab,
          bench, "text")
        root
      })
    }

  /** Build-once memo for the x187/x188 lifecycle state — a SEPARATE
    * root from x184 (x184/x185/x186 must stay deterministic, so their
    * root is never mutated; this one is evicted AND compacted). The
    * chain: the same two portable-dedup batches as x184 → the x186
    * retroactive sweep committed via [[graft.ext.IncrementalCorpus
    * .evict]] → a third batch of two-token-dropped copies at +2e6
    * (near-dups of BOTH earlier arms) judged against the post-eviction
    * index → [[graft.ext.IncrementalCorpus.compact]] folding the
    * tombstones into one generation. Every verdict path is gated
    * non-vacuous AT BUILD TIME (the s20/s21 green-but-vacuous lesson):
    * the evictee set, the batch-2 accepts, the accepts-because-evicted
    * subset, and the drops-against-survivors subset must each be
    * non-empty or the build fails with the gate's name. */
  private val x187Memo = scala.collection.concurrent.TrieMap
    .empty[String, String]
  private def x187Root(s: SparkSession, d: String): String =
    x187Memo.synchronized {
      x187Memo.getOrElseUpdate(s"${sessionKey(s)}:$d", {
        val root = cachePath(d, "x187") + "/state"
        val corpus = perturbedCorpus(t(s, d, "documents"))
        val cfg = graft.ext.IncrementalCorpus.Config("t", "id",
          portableDedup = true)
        val vocab = graft.ext.TextAnalysis.tokenTopK(
          corpus.filter(col("id") < 1000000), "t", 30).select(col("token"))
        val bench = t(s, d, "documents").filter(col("doc_id") % 10 === 0)
        graft.ext.IncrementalCorpus.applyDelta(
          corpus.filter(col("id") < 1000000), 0, root, cfg, vocab,
          bench, "text")
        graft.ext.IncrementalCorpus.applyDelta(
          corpus.filter(col("id") >= 1000000), 1, root, cfg, vocab,
          bench, "text")
        // this builder MUTATES its root, so — unlike x184's — a replay
        // over committed state (second session in one JVM, or a retry
        // after a mid-build crash) must not recompute the sweep: over
        // an already-evicted root it would be empty and the gate would
        // fire on a healthy root. The eviction ledger says which side
        // we are on; the sweep-dependent gates run only when the sweep
        // actually ran (every fresh per-PID root runs them once).
        val evictees: Option[Set[Long]] =
          if (graft.ext.IncrementalCorpus
              .committedEvictionIds(s, root).nonEmpty) None
          else {
            val sweep = graft.ext.IncrementalCorpus.retroContamination(
              s, root, cfg,
              t(s, d, "documents").filter(col("doc_id") % 7 === 0), "text")
            val ev = sweep.select(col("id")).collect()
              .map(_.getLong(0)).toSet
            require(ev.nonEmpty,
              "x187: empty evictee set — the sweep path is vacuous")
            graft.ext.IncrementalCorpus.evict(sweep, 0, root, cfg)
            Some(ev)
          }
        val batch2 = t(s, d, "documents")
          .select(col("doc_id").as("id0"),
            graft.SparkEntry.dropFirstToken(
              graft.SparkEntry.dropFirstToken(
                graft.ext.TextDedup.normalize(col("text")))).as("t"))
          .select((col("id0") + 2000000).as("id"), col("t"))
        graft.ext.IncrementalCorpus.applyDelta(batch2, 2, root, cfg,
          vocab, bench, "text")
        val acc2 = graft.ext.IncrementalCorpus.readAccepted(s, root)
          .filter(col("ingest_batch") === 2)
          .select(col("id")).collect().map(_.getLong(0)).toSet
        require(acc2.nonEmpty,
          "x187: no batch-2 accepts — the cross-batch accept path is vacuous")
        evictees.foreach(ev => require(
          acc2.exists(id => ev.contains(id - 2000000)),
          "x187: no batch-2 accept traces to an evictee — the " +
            "evict-visibility payoff is vacuous"))
        // drops-against-survivors: some batch-2 copy of a STILL-ACCEPTED
        // original must reach the dedup stage CLEAN and then be dropped
        // there (re-deriving clean2 pins the drop to dedup, not to an
        // upstream curate/decon cut — the s21 probe-gate discipline)
        val accepted01 = graft.ext.IncrementalCorpus.readAccepted(s, root)
          .filter(col("ingest_batch") < 2)
          .select(col("id")).collect().map(_.getLong(0)).toSet
        val clean2 = graft.ext.Decontaminate.decontaminate(
            graft.ext.IncrementalCorpus.curate(batch2, cfg, vocab),
            "t", "id", bench, "text", k = cfg.decontaminateK,
            maxContamination = cfg.maxContamination)
          .select(col("id")).collect().map(_.getLong(0)).toSet
        require(clean2.exists(id =>
            accepted01.contains(id - 2000000) && !acc2.contains(id)),
          "x187: no clean batch-2 copy of a surviving accepted doc was " +
            "dropped at dedup — the suppression path is vacuous")
        graft.ext.IncrementalCorpus.compact(s, root, cfg, 0)
        root
      })
    }

  /** Non-uniform source targets for the x182 mix stage: heads get
    * 10% each, the tail splits the rest — so most groups' keep_prob
    * lands strictly below 1 and the sha256-threshold apply is
    * value-exercised, not a pass-through. */
  private[graft] val x182Targets: Map[String, Double] =
    (0 to 3).map(i => s"src$i" -> 0.1).toMap ++
      (4 to 19).map(i => s"src$i" -> 0.0375).toMap

  /** Exact-regime guard for the bounded-percentile (`approxK`) oracle
    * queries — the x150/x171 convention: fixture growth past the
    * sketch capacity must fail with a message, never as an opaque
    * hash diff. The largest per-group NON-NULL value count bounds
    * every KLL input the operator builds (robustOutliers' second
    * pass sketches one |group|-sized deviation per surviving row). */
  private def requireGroupsFitSketch(df: DataFrame, groupCol: String,
                                     valCol: String, k: Int,
                                     q: String): Unit = {
    val maxGroup = df
      .filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(groupCol)).count()
      .agg(max(col("count"))).head.getLong(0)
    require(maxGroup <= k,
      s"$q exact-regime guard: a $groupCol group has $maxGroup rows," +
        s" above approxK=$k — raise approxK past the largest group or" +
        " re-derive the oracle")
  }

  /** DuckDB fragment: one per-feature KS chain (the x142 spelling with
    * suffixed CTE names) over a doc-level frame `f` exposing the
    * feature column — lets x147 run the identical grid → ECDF → sup
    * machinery for several features in one statement. */
  private def duckKsCtes(sfx: String, valueCol: String): String =
    s"""cells_$sfx AS (
       |  SELECT source, $valueCol AS v, CAST(count(*) AS BIGINT) AS o
       |  FROM f WHERE $valueCol IS NOT NULL GROUP BY 1, 2),
       |pooled_$sfx AS (SELECT v, CAST(sum(o) AS BIGINT) AS pool
       |                FROM cells_$sfx GROUP BY 1),
       |totals_$sfx AS (SELECT source, CAST(sum(o) AS BIGINT) AS n
       |                FROM cells_$sfx GROUP BY 1),
       |grand_$sfx AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells_$sfx),
       |grid_$sfx AS (SELECT totals_$sfx.source, totals_$sfx.n,
       |                pooled_$sfx.v, pooled_$sfx.pool,
       |                COALESCE(c.o, 0) AS o, grand_$sfx.t
       |              FROM totals_$sfx CROSS JOIN pooled_$sfx
       |              LEFT JOIN cells_$sfx c ON c.source = totals_$sfx.source
       |                AND c.v = pooled_$sfx.v
       |              CROSS JOIN grand_$sfx),
       |cum_$sfx AS (SELECT *,
       |    CAST(sum(o) OVER (PARTITION BY source ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cg,
       |    CAST(sum(pool) OVER (PARTITION BY source ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
       |  FROM grid_$sfx),
       |ks_$sfx AS (SELECT '$valueCol' AS feature, source, n,
       |    max(abs(CAST(cg AS DOUBLE) / n - CAST(cp AS DOUBLE) / t)) AS ks
       |  FROM cum_$sfx GROUP BY 2, 3)""".stripMargin

  /** DuckDB fragment: dot(embExpr, plane) with the same float→double
    * element cast and left-to-right summation as [[Similarity.dot]].
    * Plane weights are inlined via `Double.toString`, whose shortest
    * round-trip decimal parses back to the identical bits in DuckDB —
    * so a data-INDEPENDENT seeded LSH bucketing is exactly
    * reproducible cross-engine (a learned quantizer is not; see x10). */
  private def duckDot(embExpr: String, plane: Seq[Double]): String = {
    val lits = plane.map(java.lang.Double.toString).mkString(", ")
    s"list_sum(list_transform(list_zip($embExpr, [$lits]), p -> CAST(p[1] AS DOUBLE) * p[2]))"
  }

  /** DuckDB fragment mirroring [[Similarity.lshBucket]]: bit i of the
    * bucket id = sign(dot(emb, plane_i)). */
  private def duckLshBucket(embExpr: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${duckDot(embExpr, p)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", "\n   + ", ")")

  /** x55's winsorization oracle — shared verbatim by x177, whose only
    * difference is the Spark side's BOUNDED percentile source
    * (`approxK`): in the guarded exact regime the interpolating KLL
    * read is bit-identical to exact `percentile`/`quantile_cont`, so
    * both queries hash against the same SQL. */
  private val duckWinsorizeCharsSql: String =
    """WITH stats AS (
      |  SELECT lang,
      |    quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS p_lo,
      |    quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS p_hi
      |  FROM documents GROUP BY lang)
      |SELECT d.doc_id, d.lang, d.n_chars, s.p_lo, s.p_hi,
      |  CASE WHEN s.p_lo IS NULL OR d.n_chars IS NULL
      |         THEN CAST(d.n_chars AS DOUBLE)
      |       WHEN CAST(d.n_chars AS DOUBLE) < s.p_lo THEN s.p_lo
      |       WHEN CAST(d.n_chars AS DOUBLE) > s.p_hi THEN s.p_hi
      |       ELSE CAST(d.n_chars AS DOUBLE) END AS clipped
      |FROM documents d LEFT JOIN stats s ON s.lang = d.lang
      |ORDER BY d.doc_id""".stripMargin

  /** x36's robust-outlier oracle — shared verbatim by x178 (the
    * `approxK` bounded-percentile sibling) for the same exact-regime
    * reason as [[duckWinsorizeCharsSql]]. Null robust_z (MAD = 0)
    * maps to in-lier on both engines; the median/MAD chain stays
    * exact because integer inputs interpolate to halves (exact
    * doubles) and the final z is one IEEE division. */
  private val duckRobustOutliersSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS len FROM documents),
      |med AS (SELECT lang, quantile_cont(len, 0.5) AS med FROM d GROUP BY lang),
      |dev AS (SELECT d.doc_id, d.lang, d.len, med.med FROM d JOIN med USING (lang)),
      |mad AS (SELECT lang, med, quantile_cont(abs(len - med), 0.5) AS mad
      |        FROM dev GROUP BY lang, med)
      |SELECT d.doc_id, d.lang, d.len, m.med, m.mad,
      |  CASE WHEN m.mad = 0 THEN NULL ELSE (d.len - m.med) / m.mad END AS robust_z,
      |  COALESCE(abs(CASE WHEN m.mad = 0 THEN NULL
      |                    ELSE (d.len - m.med) / m.mad END) > 3.5, false) AS is_outlier
      |FROM d JOIN mad m USING (lang)
      |ORDER BY d.doc_id""".stripMargin

  /** Shared text-metric CTE chain (tokenization, ratios, language
    * marker counts) ending in an `m` CTE — reused by the x03 profile
    * oracle and the x30 quality-weighted-sample oracle. */
  private val duckTextMetricCtes: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    LENGTH(text) AS n_chars,
      |    regexp_split_to_array(trim(text), '\s+') AS toks,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS ltoks,
      |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish,
      |    len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, n_chars, len(toks) AS n_tokens, n_bpeish,
      |    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
      |      / greatest(len(toks), 1) AS avg_tok,
      |    CAST(len(list_filter(ltoks, t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as'], t))) AS DOUBLE)
      |      / greatest(len(ltoks), 1) AS stop_r,
      |    CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_r,
      |    CAST(len(list_filter(ltoks, t -> list_contains(['the','and','of','is','with'], t))) AS BIGINT) AS s_en,
      |    CAST(len(list_filter(ltoks, t -> list_contains(['el','la','de','que','y'], t))) AS BIGINT) AS s_es,
      |    CAST(len(list_filter(ltoks, t -> list_contains(['le','la','et','les','des'], t))) AS BIGINT) AS s_fr,
      |    CAST(len(list_filter(ltoks, t -> list_contains(['der','die','das','und','ist'], t))) AS BIGINT) AS s_de
      |  FROM p)""".stripMargin

  /** Language guess over `m`'s marker counts — must mirror
    * [[graft.ext.TextAnalysis.langId]]'s argmax tie order exactly. */
  private val duckLangExpr: String =
    """CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
      |       WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
      |       WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
      |       WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
      |       ELSE 'de' END""".stripMargin

  /** The composite quality score over `m`'s columns — must mirror
    * [[graft.ext.TextAnalysis.qualityScore]] exactly. */
  private val duckQualityExpr: String =
    """CAST(ROUND(((CASE WHEN n_tokens BETWEEN 50 AND 10000 THEN 1.0 WHEN n_tokens >= 10 THEN 0.5 ELSE 0.0 END)
      |      + (CASE WHEN stop_r >= 0.05 THEN 1.0 ELSE 0.3 END)
      |      + (CASE WHEN punct_r <= 0.2 THEN 1.0 ELSE 0.4 END)) / 3.0, 4) AS DOUBLE)""".stripMargin

  /** Shared CTE chain of the portable MinHash-LSH pipeline (corpus =
    * documents plus first-token-dropped copies at id+1000000, 16-perm
    * sha256 signatures, 4 bands, capped buckets, exact-Jaccard verify)
    * ending in a `pairs(id_a, id_b, jaccard)` CTE — reused by the x13
    * pair oracle and every component-consuming oracle (x22/x23/x47). */
  /** [[duckPortablePairCtes]] parameterized on the LSH shape: x13 runs
    * the portable production shape (16 lanes, 4 bands of 4, 0.7); x59
    * needs 64 lanes / 16 bands of 4 at threshold 0.9 — the regime where
    * BOTH hash families' per-pair candidate-miss probability is ~4e-8,
    * so the kernel pipeline's pair set provably equals this replay.
    * (At 16/4 the portable side misses ~1.4% of j=0.9 pairs; at
    * threshold 0.7 either side misses ~1% of j=0.7 pairs — each scheme
    * missing DIFFERENT pairs, which is exactly what the sf0.1
    * differential run caught: 6009 vs 6024 rows.) */
  private def duckPortablePairCtesAt(lanes: Int, bands: Int,
                                     threshold: Double,
                                     extraCorpusArm: String = ""): String = {
    require(lanes % bands == 0, "bands must divide lanes")
    val r = lanes / bands
    val bandConcat = (1 to r).map(j => s"sig[b*$r+$j]").mkString(" || ")
    s"""WITH base AS (
        |  SELECT doc_id AS id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
        |  FROM documents),
        |corpus AS (
        |  SELECT id, t FROM base
        |  UNION ALL
        |  SELECT id + 1000000 AS id,
        |         CASE WHEN strpos(t, ' ') > 0 THEN substr(t, strpos(t, ' ') + 1)
        |              ELSE t END AS t
        |  FROM base$extraCorpusArm),
        |toks AS (SELECT id, string_split(t, ' ') AS w FROM corpus),
        |sets AS (
        |  SELECT id, list_distinct(
        |    CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |         ELSE list_transform(generate_series(1, len(w) - 2),
        |                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
        |    END) AS ss
        |  FROM toks),
        |shex AS (SELECT id, unnest(ss) AS s FROM sets),
        |lanes AS (
        |  SELECT id, p, min(substr(sha256(p::VARCHAR || ':' || s), 1, 16)) AS lane
        |  FROM shex, generate_series(0, ${lanes - 1}) g(p)
        |  GROUP BY id, p),
        |sig AS (SELECT id, list(lane ORDER BY p) AS sig FROM lanes GROUP BY id),
        |bandt AS (
        |  SELECT id, b, $bandConcat AS bh
        |  FROM sig, generate_series(0, ${bands - 1}) t(b)),
        |bsz AS (SELECT b, bh, count(*) AS n FROM bandt GROUP BY b, bh),
        |cand AS (
        |  SELECT DISTINCT a.id AS id_a, c.id AS id_b
        |  FROM bandt a
        |  JOIN bandt c ON a.b = c.b AND a.bh = c.bh AND a.id < c.id
        |  JOIN bsz ON bsz.b = a.b AND bsz.bh = a.bh
        |  WHERE bsz.n <= 1000),
        |pairs AS (
        |  SELECT id_a, id_b,
        |    CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sa.ss, sb.ss))) AS jaccard
        |  FROM cand
        |  JOIN sets sa ON sa.id = cand.id_a
        |  JOIN sets sb ON sb.id = cand.id_b
        |  WHERE CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
        |      / len(list_distinct(list_concat(sa.ss, sb.ss))) >= $threshold)""".stripMargin
  }

  private val duckPortablePairCtes: String =
    duckPortablePairCtesAt(16, 4, 0.7)

  /** [[duckPortablePairCtes]] with RECURSIVE enabled — required prefix
    * for any oracle appending [[duckComponentCtes]]. */
  private val duckRecursivePairCtes: String =
    duckPortablePairCtes.replaceFirst("WITH ", "WITH RECURSIVE ")

  /** Symmetrized edges + recursive reachability over a
    * `(id_a, id_b)` pair CTE, ending in `comp(id, group_id)` — group
    * id = min reachable id. The ONE component labeling shared by the
    * x22/x23/x47 oracles (in-lockstep copies desynchronize silently);
    * parameterized on the pair relation so x182 can run it over the
    * curation-survivor pair graph. Components are tiny (doc + its
    * perturbed copy + occasional genuine near-dups), so the recursion
    * closes in a few rounds. */
  private def duckComponentCtesOver(pairsRel: String): String =
    s"""edges AS (
      |  SELECT id_a AS a, id_b AS b FROM $pairsRel
      |  UNION ALL
      |  SELECT id_b AS a, id_a AS b FROM $pairsRel),
      |reach(src, dst) AS (
      |  SELECT DISTINCT a, a FROM edges
      |  UNION
      |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst),
      |comp AS (SELECT src AS id, MIN(dst) AS group_id FROM reach GROUP BY src)""".stripMargin

  private val duckComponentCtes: String = duckComponentCtesOver("pairs")

  /** base→…→v: the containment pipeline (excerpt corpus, distinct
    * 3-shingles, df ∈ [2, 4] postings, candidate pairs, intersection
    * sizes) — ONE spelling shared by the x116/x124/x129 oracles. Ends
    * at `v(id_a, id_b, i, na, nb)`; consumers append
    * [[duckContainmentPairCte]] or their own score tail. MUST stay in
    * lockstep with [[excerptCorpus]] / [[containmentPairsOf]]. */
  private val duckContainmentCtes: String =
    """WITH base AS (
      |  SELECT doc_id AS id,
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      |  FROM documents),
      |exc AS (
      |  SELECT id + 1000000 AS id,
      |    array_to_string(toks[1:greatest(len(toks)//3, 1)], ' ') AS t
      |  FROM (SELECT id, string_split(t, ' ') AS toks FROM base)),
      |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
      |tk AS (SELECT id, string_split(t, ' ') AS toks FROM corpus),
      |s AS (SELECT id, list_distinct(
      |        CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
      |             ELSE list_transform(range(0, len(toks) - 3 + 1),
      |                    i -> array_to_string(toks[i+1:i+3], ' '))
      |        END) AS sh
      |      FROM tk),
      |inv AS (SELECT id, unnest(sh) AS g FROM s),
      |dfreq AS (SELECT g, count(*) AS dfc FROM inv GROUP BY g),
      |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |         FROM inv a
      |         JOIN inv b ON a.g = b.g AND a.id < b.id
      |         JOIN dfreq ON dfreq.g = a.g
      |         WHERE dfreq.dfc BETWEEN 2 AND 4),
      |v AS (SELECT id_a, id_b,
      |        len(list_intersect(sa.sh, sb.sh)) AS i,
      |        len(sa.sh) AS na, len(sb.sh) AS nb
      |      FROM cand
      |      JOIN s sa ON sa.id = id_a
      |      JOIN s sb ON sb.id = id_b)""".stripMargin

  /** The family's kept-pair set (`pairs(id_a, id_b)` at containment ≥
    * 0.5) over [[duckContainmentCtes]]' `v` — the name
    * [[duckComponentCtes]] consumes. */
  private val duckContainmentPairCte: String =
    """pairs AS (SELECT id_a, id_b FROM v
      |          WHERE greatest(CAST(i AS DOUBLE) / na, CAST(i AS DOUBLE) / nb) >= 0.5)""".stripMargin

  /** Full top-axis PCA replay (the x132 chain): lattice quantize
    * (`floor(x·4096+0.5)` — the portable rounding), exact integer
    * sums / outer-product cells, covariance, 20 UNNORMALIZED matvec
    * folds, one final normalization + canonical sign — every
    * accumulation a left fold matching the Scala while-loops in
    * [[graft.ext.Embeddings.principalComponentVectors]]. Ends at
    * `sg(pc)` + `mu(mu)`; ONE spelling shared by the x132/x133/x137
    * oracles (three in-lockstep copies desynchronize silently). */
  /** DuckDB fragment: the full x114 naive-Bayes replay — train on the
    * even doc_ids (token×label counts → add-1 smoothed log-prob grid +
    * priors), score the odd half with position-ordered ln folds —
    * ending at `fs(doc_id, label, score)` with the UNROUNDED
    * per-(doc, label) log-posterior. x114 takes the argmax; x167 takes
    * the 'en' slice as a continuous score for the binned sweep. */
  private val duckNbCtes: String =
    """WITH tr AS (SELECT lang AS label, text FROM documents
      |            WHERE doc_id % 2 = 0 AND lang IS NOT NULL AND text IS NOT NULL),
      |ap AS (SELECT doc_id,
      |         string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |       FROM documents WHERE doc_id % 2 = 1),
      |ttok AS (SELECT label,
      |           unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
      |         FROM tr),
      |cnt AS (SELECT label, tok, CAST(count(*) AS BIGINT) AS c FROM ttok GROUP BY 1, 2),
      |nl AS (SELECT label, CAST(count(*) AS BIGINT) AS n_l FROM ttok GROUP BY 1),
      |dl AS (SELECT label, CAST(count(*) AS BIGINT) AS docs FROM tr GROUP BY 1),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS all_docs FROM tr),
      |voc AS (SELECT DISTINCT tok FROM cnt),
      |v AS (SELECT CAST(count(*) AS BIGINT) AS vsz FROM voc),
      |grid AS (
      |  SELECT voc.tok, nl.label,
      |    ln((COALESCE(cnt.c, 0) + 1.0) / (CAST(nl.n_l AS DOUBLE) + 1.0 * CAST(v.vsz AS DOUBLE))) AS lp
      |  FROM voc CROSS JOIN nl CROSS JOIN v
      |  LEFT JOIN cnt ON cnt.tok = voc.tok AND cnt.label = nl.label),
      |pri AS (SELECT dl.label, ln(CAST(dl.docs AS DOUBLE) / CAST(tot.all_docs AS DOUBLE)) AS log_prior
      |        FROM dl, tot),
      |atok AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok FROM ap),
      |sc AS (SELECT atok.doc_id, grid.label,
      |         list_sum(list(grid.lp ORDER BY atok.pos)) AS sum_lp
      |       FROM atok JOIN grid USING (tok) GROUP BY 1, 2),
      |fs AS (SELECT a.doc_id, pri.label, pri.log_prior + COALESCE(sc.sum_lp, 0.0) AS score
      |       FROM (SELECT DISTINCT doc_id FROM ap) a CROSS JOIN pri
      |       LEFT JOIN sc ON sc.doc_id = a.doc_id AND sc.label = pri.label)""".stripMargin

  /** DuckDB replay of the x167 train → score → lattice → binned-sweep
    * chain, parameterized on an extra label-side filter: x167 runs the
    * plain contract, x174 additionally excludes the scored docs its
    * Spark side leaves UN-LABELED (null label → drop from lattice and
    * confusion alike). */
  private def duckNbSweepSql(labExtra: String): String =
    duckNbCtes + ",\n" +
      s"""en AS (SELECT doc_id, score FROM fs WHERE label = 'en'),
        |lab AS (SELECT doc_id, lang FROM documents
        |        WHERE doc_id % 2 = 1 AND lang IS NOT NULL$labExtra),
        |bq AS (SELECT floor(en.score * 100 + 0.5) / 100 AS threshold,
        |              CASE WHEN lab.lang = 'en' THEN 1 ELSE 0 END AS yy
        |       FROM en JOIN lab USING (doc_id)),
        |g AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(yy) AS BIGINT) AS np FROM bq GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
        |             CAST(sum(np) AS BIGINT) AS pos FROM g),
        |c AS (SELECT threshold,
        |        CAST(sum(np) OVER (ORDER BY threshold DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |        CAST(sum(n) OVER (ORDER BY threshold DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp
        |      FROM g)
        |SELECT threshold, tp, pp - tp AS fp, t.pos - tp AS fn,
        |  t.tot - pp - (t.pos - tp) AS tn,
        |  CAST(tp AS DOUBLE) / pp AS precision,
        |  CAST(tp AS DOUBLE) / t.pos AS recall,
        |  -- pos = 0 -> NULL f1 (the NULL-on-positive-free convention;
        |  -- without the leading WHEN the NULL comparison falls to ELSE 0.0)
        |  CASE WHEN t.pos = 0 THEN NULL
        |    WHEN CAST(tp AS DOUBLE) / pp + CAST(tp AS DOUBLE) / t.pos > 0
        |    THEN 2 * (CAST(tp AS DOUBLE) / pp) * (CAST(tp AS DOUBLE) / t.pos)
        |         / ((CAST(tp AS DOUBLE) / pp) + (CAST(tp AS DOUBLE) / t.pos))
        |    ELSE 0.0 END AS f1
        |FROM c, t
        |ORDER BY threshold DESC""".stripMargin

  /** DuckDB replay of [[graft.ext.Embeddings.nearestCentroidConfusion]]
    * over embeddings, parameterized on an extra row filter: x128 runs
    * the plain contract, x173 additionally excludes the rows its Spark
    * side NULLS query-side (label or embedding → the row must leave
    * both the centroid fit and the assignment pass). */
  private def duckNearestCentroidSql(extraWhere: String): String =
    s"""WITH v AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |  FROM embeddings
       |  WHERE label IS NOT NULL AND embedding IS NOT NULL$extraWhere),
       |n AS (
       |  SELECT vec_id, label, e,
       |    greatest(list_max(list_transform(e, x -> abs(x))), 1e-30) / 127.0 AS scale
       |  FROM v),
       |q AS (
       |  SELECT vec_id, label,
       |    list_transform(e, x ->
       |      CAST(greatest(-127, least(127, floor(x / scale + 0.5))) AS INT)) AS qv
       |  FROM n),
       |x AS (
       |  SELECT label, unnest(qv) AS qe, unnest(range(len(qv))) AS dim FROM q),
       |cent AS (
       |  SELECT label AS clabel, dim, CAST(sum(qe) AS DOUBLE) / count(*) AS q_mean
       |  FROM x GROUP BY 1, 2),
       |carr AS (SELECT clabel, list(q_mean ORDER BY dim) AS c FROM cent GROUP BY 1),
       |sims AS (
       |  SELECT v.vec_id, v.label, a.clabel,
       |    round(list_sum(list_transform(list_zip(v.e, a.c), p -> p[1] * p[2]))
       |      / sqrt(list_sum(list_transform(v.e, z -> z * z))
       |           * list_sum(list_transform(a.c, z -> z * z))), 6) AS sim
       |  FROM v CROSS JOIN carr a),
       |pred AS (
       |  SELECT vec_id, label, clabel,
       |    row_number() OVER (PARTITION BY vec_id
       |                       ORDER BY sim DESC, clabel DESC) AS rn
       |  FROM sims WHERE sim IS NOT NULL)
       |SELECT label, clabel AS pred, CAST(count(*) AS BIGINT) AS n
       |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** DuckDB replay of [[graft.ext.Stats.calibrationReport]] over the
    * x136 length-scorer setup, parameterized on an extra row filter:
    * x136 runs the plain contract, x172 additionally excludes the rows
    * its Spark side leaves UN-LABELED (null label → drop). */
  private def duckCalibrationSql(extraWhere: String): String =
    raw"""WITH base AS (
       |  SELECT CAST(least(n_chars, 560) AS DOUBLE) / 560 AS pr,
       |    CASE WHEN len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) >= 55
       |      THEN 1 ELSE 0 END AS y
       |  FROM documents
       |  WHERE n_chars IS NOT NULL AND text IS NOT NULL$extraWhere),
       |lat AS (SELECT CAST(least(floor(pr * 10), 9) AS INT) AS bin,
       |               CAST(floor(pr * 1000000 + 0.5) AS BIGINT) AS l, y FROM base),
       |pb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
       |              CAST(sum(l) AS BIGINT) AS slat FROM lat GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM pb),
       |sc AS (SELECT bin, n, n_pos,
       |         CAST(slat AS DOUBLE) / n / 1000000 AS conf,
       |         CAST(n_pos AS DOUBLE) / n AS acc
       |       FROM pb),
       |e AS (SELECT round(list_sum(list(abs(acc - conf) * CAST(n AS DOUBLE) / tn
       |        ORDER BY bin)), 6) AS ece
       |      FROM sc CROSS JOIN tot)
       |SELECT bin, n, n_pos, round(conf, 6) AS conf, round(acc, 6) AS acc,
       |  round(abs(acc - conf), 6) AS gap, ece
       |FROM sc CROSS JOIN e ORDER BY bin""".stripMargin

  /** DuckDB replay of [[graft.ext.Stats.groupAuc]] over documents
    * (per-source Mann–Whitney AUC of n_chars vs lang=='en'),
    * parameterized on the row filter: x135 runs the plain contract,
    * x170 additionally excludes the rows its Spark side leaves
    * UN-LABELED (null label → drop — the contract the filter mirrors). */
  private def duckGroupAucSql(whereClause: String): String =
    s"""WITH base AS (
       |  SELECT source AS "group", n_chars AS s,
       |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS p
       |  FROM documents WHERE $whereClause),
       |ps AS (SELECT "group", s, CAST(count(*) AS BIGINT) AS t,
       |         CAST(sum(p) AS BIGINT) AS pp
       |       FROM base GROUP BY 1, 2),
       |cum AS (SELECT *, COALESCE(CAST(sum(t) OVER (PARTITION BY "group" ORDER BY s
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cb
       |        FROM ps),
       |g AS (SELECT "group",
       |        CAST(sum(CAST(pp AS HUGEINT) * (cb * 2 + t + 1)) AS DOUBLE) AS rs2,
       |        CAST(sum(pp) AS BIGINT) AS n_pos,
       |        CAST(sum(t - pp) AS BIGINT) AS n_neg
       |      FROM cum GROUP BY 1)
       |SELECT "group", n_pos, n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
       |    round((rs2 - CAST(n_pos AS DOUBLE) * (n_pos + 1))
       |      / (2 * CAST(n_pos AS DOUBLE) * n_neg), 6) END AS auc
       |FROM g ORDER BY "group"""".stripMargin

  /** DuckDB replay of [[graft.olap.Growth.activeUsers]] over the raw
    * event log — shared by x153 (the batch operator) and x169 (the
    * incrementally-maintained distinct-set MV, which must serve the
    * identical report). */
  private val duckActiveUsersSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |spine AS (SELECT DISTINCT d AS day FROM ud),
      |a1 AS (SELECT d AS day, CAST(count(DISTINCT u) AS BIGINT) AS au_1
      |       FROM ud GROUP BY 1),
      |c7 AS (SELECT DISTINCT u, day FROM (
      |    SELECT u, CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
      |      CAST(d AS TIMESTAMP) + INTERVAL 6 DAY, INTERVAL 1 DAY))
      |      AS DATE) AS day
      |    FROM ud) t JOIN spine USING (day)),
      |a7 AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS au_7
      |       FROM c7 GROUP BY 1),
      |c28 AS (SELECT DISTINCT u, day FROM (
      |    SELECT u, CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
      |      CAST(d AS TIMESTAMP) + INTERVAL 27 DAY, INTERVAL 1 DAY))
      |      AS DATE) AS day
      |    FROM ud) t JOIN spine USING (day)),
      |a28 AS (SELECT day, CAST(count(DISTINCT u) AS BIGINT) AS au_28
      |        FROM c28 GROUP BY 1)
      |SELECT s.day, COALESCE(au_1, 0) AS au_1, COALESCE(au_7, 0) AS au_7,
      |  COALESCE(au_28, 0) AS au_28,
      |  round(CAST(COALESCE(au_1, 0) AS DOUBLE) / COALESCE(au_28, 0), 6)
      |    AS stickiness
      |FROM spine s LEFT JOIN a1 USING (day) LEFT JOIN a7 USING (day)
      |LEFT JOIN a28 USING (day)
      |ORDER BY day""".stripMargin

  private val duckPca1Ctes: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |           FROM embeddings WHERE embedding IS NOT NULL),
      |q AS (SELECT vec_id, e, list_transform(e, x -> CAST(floor(x * 4096 + 0.5) AS BIGINT)) AS q FROM e),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
      |su AS (SELECT i, CAST(SUM(qe) AS BIGINT) AS s
      |       FROM (SELECT unnest(q) AS qe, unnest(range(64)) AS i FROM q) GROUP BY i),
      |ce AS (SELECT ti.i AS i, tj.j AS j, CAST(SUM(q[ti.i + 1] * q[tj.j + 1]) AS BIGINT) AS o
      |       FROM q, range(64) ti(i), range(64) tj(j) GROUP BY 1, 2),
      |cv AS (SELECT ce.i, ce.j,
      |         CAST(ce.o AS DOUBLE) / n.n
      |           - (CAST(si.s AS DOUBLE) / n.n) * (CAST(sj.s AS DOUBLE) / n.n) AS c
      |       FROM ce JOIN su si ON si.i = ce.i JOIN su sj ON sj.i = ce.j CROSS JOIN n),
      |mat AS (SELECT list(c ORDER BY i, j) AS m FROM cv),
      |it AS (SELECT list_reduce(
      |         [list_transform(range(64), i -> CAST(1 AS DOUBLE) / sqrt(CAST(64 AS DOUBLE)))]
      |           || list_transform(range(20), k -> CAST([] AS DOUBLE[])),
      |         (acc, z) -> list_transform(range(64), i ->
      |           list_sum(list_transform(range(64), j -> m[i * 64 + j + 1] * acc[j + 1])))) AS w
      |       FROM mat),
      |nv AS (SELECT list_transform(w, x -> x / sqrt(list_sum(list_transform(w, y -> y * y)))) AS v FROM it),
      |sg AS (SELECT CASE WHEN v[-(list_sort(list_transform(range(64), i ->
      |                {'a': abs(v[i + 1]), 'ni': -i}), 'DESC')[1].ni) + 1] < 0
      |              THEN list_transform(v, x -> -x) ELSE v END AS pc
      |       FROM nv),
      |mu AS (SELECT list(m ORDER BY i) AS mu
      |       FROM (SELECT i, (CAST(s AS DOUBLE) / n.n) / 4096 AS m FROM su CROSS JOIN n))""".stripMargin

  /** [[duckPca1Ctes]] + ONE Hotelling deflation (λ = vᵀCv with the
    * same ascending folds; C ← C − λ·v·vᵀ with left-assoc products)
    * and the identical extract chain on the deflated matrix — ends at
    * `sg2(pc2)`, the second principal axis. */
  private val duckPca2Ctes: String =
    duckPca1Ctes + ",\n" +
    """cv1 AS (SELECT list_transform(range(64), i ->
      |          list_sum(list_transform(range(64), j -> m[i * 64 + j + 1] * pc[j + 1]))) AS cv
      |        FROM mat CROSS JOIN sg),
      |lam AS (SELECT list_sum(list_transform(range(64), i -> pc[i + 1] * cv[i + 1])) AS l
      |        FROM sg CROSS JOIN cv1),
      |m2 AS (SELECT list_transform(range(4096), t ->
      |         m[t + 1] - l * pc[t // 64 + 1] * pc[t % 64 + 1]) AS m2
      |       FROM mat CROSS JOIN sg CROSS JOIN lam),
      |it2 AS (SELECT list_reduce(
      |         [list_transform(range(64), i -> CAST(1 AS DOUBLE) / sqrt(CAST(64 AS DOUBLE)))]
      |           || list_transform(range(20), k -> CAST([] AS DOUBLE[])),
      |         (acc, z) -> list_transform(range(64), i ->
      |           list_sum(list_transform(range(64), j -> m2[i * 64 + j + 1] * acc[j + 1])))) AS w2
      |       FROM m2),
      |nv2 AS (SELECT list_transform(w2, x -> x / sqrt(list_sum(list_transform(w2, y -> y * y)))) AS v2 FROM it2),
      |sg2 AS (SELECT CASE WHEN v2[-(list_sort(list_transform(range(64), i ->
      |                {'a': abs(v2[i + 1]), 'ni': -i}), 'DESC')[1].ni) + 1] < 0
      |              THEN list_transform(v2, x -> -x) ELSE v2 END AS pc2
      |       FROM nv2)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_count_by_type" ->
      """SELECT event_type, count(*) AS n_events FROM events
        |GROUP BY event_type ORDER BY n_events DESC, event_type""".stripMargin,
    "q02_hourly_counts" ->
      """SELECT date_trunc('hour', ts) AS hour, count(*) AS n FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q03_daily_type_pivot" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
        |  CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_count,
        |  CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
        |  CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
        |  CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q04_avg_props_len" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(ROUND(AVG(LENGTH(props)), 2) AS DOUBLE) AS avg_len
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q05_user_error_pct" ->
      """WITH totals AS (SELECT user_id, count(*) AS total FROM events GROUP BY 1),
        |errs AS (SELECT user_id, count(*) AS n_err FROM events WHERE event_type='error' GROUP BY 1)
        |SELECT t.user_id, t.total, CAST(COALESCE(e.n_err, 0) AS BIGINT) AS n_err,
        |  CAST(ROUND(COALESCE(e.n_err, 0) * CAST(100 AS DOUBLE) / t.total, 2) AS DOUBLE) AS error_pct
        |FROM totals t LEFT JOIN errs e ON t.user_id = e.user_id ORDER BY t.user_id""".stripMargin,
    "q06_daily_error_pct" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS total,
        |  CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
        |  CAST(ROUND(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) * CAST(100 AS DOUBLE) / count(*), 2) AS DOUBLE) AS error_pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_topk_type_props" ->
      """SELECT event_type, props, count(*) AS occurrences FROM events
        |GROUP BY event_type, props
        |ORDER BY occurrences DESC, event_type, props LIMIT 10""".stripMargin,
    "q08_late_window" ->
      """SELECT event_id, date_trunc('second', ts) AS ts_sec, event_type FROM events
        |WHERE ts >= (DATE '2024-01-25' - INTERVAL 1 DAY)
        |  AND event_type IN ('error', 'purchase')
        |ORDER BY event_id""".stripMargin,
    "q09_kband_classify" ->
      """SELECT CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 25 THEN 'low'
        |            WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 50 THEN 'mid'
        |            WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 75 THEN 'high'
        |            ELSE 'top' END AS k_band, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q10_moving_avg" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |    SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) * CAST(100 AS DOUBLE) / count(*) AS pct_hi
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, hour, CAST(ROUND(pct_hi, 2) AS DOUBLE) AS pct_hi,
        |  CAST(ROUND(AVG(pct_hi) OVER (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS moving_avg_6h
        |FROM hourly ORDER BY event_type, hour""".stripMargin,
    "q11_null_profile" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
        |  CAST(ROUND(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) * CAST(100 AS DOUBLE) / count(*), 2) AS DOUBLE) AS null_props_pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q12_null_ratio_score" ->
      """SELECT event_id,
        |  CAST(((CASE WHEN props IS NULL THEN 1 ELSE 0 END)
        |      + (CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |      + (CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)) * CAST(100 AS DOUBLE) / 3 AS DOUBLE) AS null_pct
        |FROM events ORDER BY event_id""".stripMargin,

    "q13_json_null_profile" ->
      """SELECT event_id,
        |  len(json_keys(props)) AS n_fields,
        |  len(list_filter(json_keys(props), k ->
        |    json_extract_string(props, '$.' || k) IS NULL
        |    OR trim(json_extract_string(props, '$.' || k)) = ''
        |    OR lower(json_extract_string(props, '$.' || k)) IN ('null', 'none'))) AS n_nullish,
        |  CASE WHEN len(json_keys(props)) = 0 THEN CAST(100 AS DOUBLE)
        |       ELSE len(list_filter(json_keys(props), k ->
        |              json_extract_string(props, '$.' || k) IS NULL
        |              OR trim(json_extract_string(props, '$.' || k)) = ''
        |              OR lower(json_extract_string(props, '$.' || k)) IN ('null', 'none')))
        |            * CAST(100 AS DOUBLE) / len(json_keys(props)) END AS null_pct
        |FROM events ORDER BY event_id""".stripMargin,
    "v00_validate_route_pipeline" ->
      """SELECT CASE WHEN event_id IS NOT NULL AND user_id IS NOT NULL
        |            AND COALESCE(regexp_matches(event_type, '(?i)^(purchase|view|click)$'), false)
        |       THEN 'validated.soccer.events' ELSE 'rejected.soccer.events' END AS topic,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical routes to v00 by the equivalence contract (the Spark
    // side swaps plan() for planSinglePass(); ValidateRouteSpec pins
    // full-row equality including hashes on the 13-topic corpus)
    "v03_single_pass_route" ->
      """SELECT CASE WHEN event_id IS NOT NULL AND user_id IS NOT NULL
        |            AND COALESCE(regexp_matches(event_type, '(?i)^(purchase|view|click)$'), false)
        |       THEN 'validated.soccer.events' ELSE 'rejected.soccer.events' END AS topic,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "v01_pk_hash" ->
      """SELECT event_id,
        |  concat_ws('|', COALESCE(CAST(event_id AS VARCHAR), ''), COALESCE(event_type, '')) AS pk,
        |  sha256(concat_ws('|', COALESCE(CAST(event_id AS VARCHAR), ''), COALESCE(event_type, ''))) AS pk_sha
        |FROM events ORDER BY event_id""".stripMargin,
    "v02_route_counts" ->
      """SELECT CASE WHEN event_id IS NOT NULL AND user_id IS NOT NULL
        |            AND COALESCE(regexp_matches(event_type, '(?i)^(purchase|view|click)$'), false)
        |       THEN 'validated' ELSE 'rejected' END AS route, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact-lattice money sums (the latticeSum discipline): per-row
    // FLOOR(x·scale + .5) -> exact BIGINT sum -> one division
    "s01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(FLOOR(l_quantity * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
        |      * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(10000 AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(AVG(l_quantity), 2) AS DOUBLE) AS avg_qty,
        |  CAST(ROUND(AVG(l_discount), 4) AS DOUBLE) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "s02_star_revenue" ->
      """SELECT r_name,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
        |      * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(10000 AS DOUBLE) AS revenue,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY revenue DESC, r_name""".stripMargin,
    "s03_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS DATE) AS last_order_date
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "s04_latest_line_per_order" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, CAST(l_shipdate AS DATE) AS ship_date
        |FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
        |        ORDER BY l_shipdate DESC, l_extendedprice DESC, l_quantity DESC,
        |                 l_partkey DESC, l_suppkey DESC, l_discount DESC, l_tax DESC,
        |                 l_returnflag DESC, l_linestatus DESC) AS rn FROM lineitem)
        |WHERE rn = 1 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "s05_dim_nullify_zero_keys" ->
      """SELECT s_suppkey, s_name,
        |  CASE WHEN COALESCE(s_nationkey, 0) = 0 THEN NULL ELSE s_nationkey END AS nation_nk,
        |  COALESCE(s_nationkey, 0) = 0 AS sk_is_null
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "s06_scalar_derivations" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN LOWER(TRIM(l_returnflag)) = 'r' THEN 1 ELSE 0 END AS is_return,
        |  CASE WHEN l_linestatus = 'O' THEN 'open'
        |       WHEN l_returnflag = 'R' THEN 'returned'
        |       ELSE 'filled' END AS status_class,
        |  CASE WHEN l_discount IS NULL OR l_tax IS NULL THEN NULL
        |       ELSE l_discount + l_tax END AS disc_plus_tax,
        |  strftime(l_shipdate, '%Y%m') AS ship_month,
        |  COALESCE(CAST(l_shipdate AS DATE), DATE '1970-01-01') AS ship_or_epoch
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "s07_monthly_rollup" ->
      """SELECT strftime(o_orderdate, '%Y%m') AS order_month, count(*) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS sum_total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "s08_distinct_parts" ->
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  count(*) AS n_rows FROM lineitem""".stripMargin,

    "s09_shipping_priority" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
        |      * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(10000 AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "s10_priority_with_lineitems" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "s11_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "x01_exact_dedup_groups" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
        |  count(*) AS n_copies, min(doc_id) AS keeper
        |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |GROUP BY 1 ORDER BY keeper""".stripMargin,
    "x02_exact_dedup_kept" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    ORDER BY doc_id) AS rn
        |  FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents))
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "x03_text_profile" ->
      s"""$duckTextMetricCtes
        |SELECT doc_id, n_chars, n_tokens, n_bpeish,
        |  CAST(ROUND(avg_tok, 4) AS DOUBLE) AS avg_token_len,
        |  CAST(ROUND(stop_r, 4) AS DOUBLE) AS stopword_ratio,
        |  CAST(ROUND(punct_r, 4) AS DOUBLE) AS punct_ratio,
        |  $duckQualityExpr AS quality,
        |  $duckLangExpr AS lang_guess
        |FROM m ORDER BY doc_id""".stripMargin,
    // weighted sample: same text-metric CTEs; the per-row threshold is
    // floor(quality × 2^48) in 12 fixed hex chars ('g' sentinel at
    // rate >= 1), mirroring Sampling.weightedSample exactly
    // chunk starts: range(0, max(n,1), step) == Spark's
    // sequence(0, max(n-1,0), step) — all multiples of step below n,
    // with [0] for the empty-token case; 1-based inclusive list slices
    // mirror Spark's slice(toks, st+1, chunkTokens)
    "x31_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 48)) AS st
        |  FROM t)
        |SELECT doc_id,
        |  CAST(st // 48 AS BIGINT) AS chunk_idx,
        |  CAST(st AS BIGINT) AS start_tok,
        |  CAST(least(64, len(toks) - st) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(toks[st+1 : st+64], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "x30_weighted_sample" ->
      s"""$duckTextMetricCtes,
        |q AS (SELECT doc_id, $duckQualityExpr AS quality FROM m)
        |SELECT doc_id, quality FROM q
        |WHERE substr(sha256('wq:' || doc_id), 1, 12) <
        |  CASE WHEN quality >= 1.0 THEN 'g'
        |       ELSE printf('%012x', CAST(greatest(0, floor(quality * 281474976710656.0)) AS BIGINT)) END
        |ORDER BY doc_id""".stripMargin,
    "x04_doc_prefix_fingerprint" ->
      """SELECT doc_id, md5(substr(text, 1, 64)) AS prefix_fp,
        |  LENGTH(text) AS text_len FROM documents ORDER BY doc_id""".stripMargin,
    "x05_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, CAST(ROUND(
        |  list_sum(list_transform(list_zip(embedding, qe), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) AS sim
        |FROM embeddings, q ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "x11_ngram_jaccard_pairs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(0, len(toks) - 3 + 1),
        |                i -> array_to_string(toks[i+1:i+3], ' '))
        |    END AS sh
        |  FROM t)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE)
        |    / len(list_distinct(a.sh || b.sh)) AS jaccard
        |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin,
    "s12_rollup_revenue" ->
      """WITH t AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS oy,
        |         o_orderpriority, o_totalprice
        |  FROM orders)
        |SELECT oy, o_orderpriority,
        |  CAST(GROUPING(oy) AS BIGINT) AS g_y,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_p,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS rev
        |FROM t
        |GROUP BY ROLLUP(oy, o_orderpriority)
        |ORDER BY g_y, g_p, oy, o_orderpriority""".stripMargin,
    "s13_lapsed_customers" ->
      """SELECT o_custkey FROM orders
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '1998-01-01'
        |ORDER BY o_custkey""".stripMargin,
    // Full MinHash-LSH pipeline, portable formulation: lane p of a doc =
    // MIN over shingles of the first-16-hex-chars of sha256("p:shingle")
    // (fixed-length lowercase hex sorts identically to the underlying
    // 64-bit value, so string-MIN == min-hash); 4 bands of 4 lanes via
    // string concat; pairs share a band (bucket cap 1000, mirroring the
    // Spark side's maxBucket); verify = exact distinct-shingle Jaccard
    // (integer-ratio double, bit-identical cross-engine).
    "x13_minhash_lsh_portable" ->
      s"""$duckPortablePairCtes
         |SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b""".stripMargin,
    "x22_dup_groups" ->
      s"""$duckRecursivePairCtes,
         |$duckComponentCtes
         |SELECT id AS doc_id, group_id FROM comp ORDER BY doc_id""".stripMargin,
    "x93_dup_cluster_sizes" ->
      s"""$duckRecursivePairCtes,
         |$duckComponentCtes,
         |sizes AS (SELECT group_id, CAST(count(*) AS BIGINT) AS group_size
         |          FROM comp GROUP BY group_id)
         |SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups
         |FROM sizes GROUP BY group_size
         |ORDER BY group_size""".stripMargin,
    "x23_neardup_dedup_kept" ->
      // kept = corpus ids minus every component member above its
      // group min
      s"""$duckRecursivePairCtes,
         |$duckComponentCtes
         |SELECT c.id AS doc_id
         |FROM corpus c LEFT JOIN comp g ON g.id = c.id
         |WHERE g.id IS NULL OR g.group_id = c.id
         |ORDER BY doc_id""".stripMargin,
    "x14_hash_split" ->
      """SELECT doc_id,
        |  substr(sha256('split:' || doc_id), 1, 4) AS bucket,
        |  CASE WHEN substr(sha256('split:' || doc_id), 1, 4) < 'c000' THEN 'train'
        |       WHEN substr(sha256('split:' || doc_id), 1, 4) < 'e000' THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "x15_token_topk" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents)
        |GROUP BY token
        |ORDER BY cnt DESC, token
        |LIMIT 50""".stripMargin,
    // Portable 16-bit SimHash: token → 4 hex chars of sha256 → per-bit
    // ±1 vote sums → sign bits; Hamming over consecutive-id pairs. The 16
    // vote columns are generated (same loop as the Spark side).
    "x16_simhash_portable_pairs" -> {
      val voteCols = (0 until 16).map { b =>
        val hexPos = b / 4 + 1
        val bitPos = b % 4
        s"SUM(CASE WHEN (((instr('0123456789abcdef', substr(h, $hexPos, 1)) - 1) " +
          s">> $bitPos) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
      }.mkString(", ")
      val fpExpr = (0 until 16)
        .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH tok AS (
         |  SELECT doc_id AS id, unnest(string_split(
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
         |  FROM documents),
         |h AS (SELECT id, substr(sha256(tok), 1, 4) AS h FROM tok),
         |v AS (SELECT id, $voteCols FROM h GROUP BY id),
         |fp AS (SELECT id, CAST($fpExpr AS BIGINT) AS fp FROM v)
         |SELECT a.id AS id_a, b.id AS id_b, a.fp AS fp_a, b.fp AS fp_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON b.id = a.id + 1
         |ORDER BY id_a""".stripMargin
    },
    "x17_text_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' reach me at u' || doc_id || '@mail.example.com'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0
        |         THEN ' see https://site.example/d/' || doc_id ||
        |              '?u=u' || doc_id || '@mail.example.com'
        |         ELSE '' END AS aug
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(aug,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(aug, 'https?://\S+')) AS BIGINT) AS n_urls,
        |  regexp_replace(
        |    regexp_replace(aug, 'https?://\S+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS scrubbed
        |FROM aug
        |ORDER BY doc_id""".stripMargin,
    "x18_sequence_packing" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(
        |      regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT)
        |      AS n_tokens,
        |    doc_id % 8 AS shard
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (
        |      PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_offset
        |  FROM tok)
        |SELECT doc_id, shard, n_tokens, start_offset,
        |  CAST(floor(start_offset / 2048) AS BIGINT) AS bin
        |FROM packed
        |ORDER BY doc_id""".stripMargin,
    // the trailing `+ 0.0` normalizes ROUND's -0.0 (tiny negative cosine
    // rounding to negative zero) to +0.0, matching the Spark side where
    // the TopKByDouble heap key is -0.0-normalized by construction
    "x19_batch_ann_topk" ->
      """WITH sims AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(ROUND(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) + CAST(0 AS DOUBLE) AS sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM sims WHERE sim IS NOT NULL)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rnk <= 3
        |ORDER BY query_id, rank""".stripMargin,
    "x06_embedding_neardup_pairs" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(ROUND(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) AS sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.3 ORDER BY id_a, id_b""".stripMargin,
    "x09_lsh_ann_topk" -> {
      // exact replica of lshTopK: inlined seeded hyperplanes → bucket
      // per row, probe set = query bucket + all Hamming-1 neighbors,
      // exact cosine rank within the probed buckets only
      val bucket = duckLshBucket("embedding", Similarity.hyperplanes(8, 64))
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |  $bucket AS bucket
         |  FROM embeddings),
         |q AS (SELECT embedding AS qe, bucket AS qb FROM b WHERE vec_id = 0)
         |SELECT b.vec_id, CAST(ROUND(
         |  list_sum(list_transform(list_zip(b.embedding, q.qe), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |  / sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
         |       * list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) AS sim
         |FROM b, q WHERE bit_count(xor(b.bucket, q.qb)) <= 1
         |ORDER BY sim DESC, b.vec_id LIMIT 10""".stripMargin
    },
    "x10_ivf_ann_topk" ->
      // probe-all IVF is exact by construction (see the query's note),
      // so the oracle is the brute-force scan — any Spark-side recall
      // loss (mis-assignment, dropped list, ranking bug) hash-fails
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, CAST(ROUND(
        |  list_sum(list_transform(list_zip(embedding, qe), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |  / sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |       * list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) AS sim
        |FROM embeddings, q ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "x12_lsh_neardup_pairs" -> {
      // exact replica of the LSH-bucketed near-dup path: same inlined
      // hyperplanes (6 planes, seed 42), bucket-equality join, cosine
      // threshold — the bucketing IS what's under cross-engine test
      val bucket = duckLshBucket("embedding", Similarity.hyperplanes(6, 64))
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |  $bucket AS bucket
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b, CAST(ROUND(
         |    list_sum(list_transform(list_zip(a.embedding, b2.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |    / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
         |         * list_sum(list_transform(b2.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) AS sim
         |  FROM b a JOIN b b2
         |    ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.3 ORDER BY id_a, id_b""".stripMargin
    },
    "x20_decontaminate" ->
      // same shingle CTE as x11; benchmark = doc_id % 10 = 0; left join
      // against the distinct benchmark shingle set, count matches per doc
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(0, len(toks) - 3 + 1),
        |                i -> array_to_string(toks[i+1:i+3], ' '))
        |    END) AS sh
        |  FROM t),
        |bench AS (SELECT DISTINCT unnest(sh) AS bsh FROM s WHERE doc_id % 10 = 0),
        |ds AS (SELECT doc_id, unnest(sh) AS sh FROM s)
        |SELECT ds.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(count(b.bsh) AS BIGINT) AS n_contaminated,
        |  CAST(count(b.bsh) AS DOUBLE) / count(*) AS contamination,
        |  (CAST(count(b.bsh) AS DOUBLE) / count(*)) <= 0.2 AS is_clean
        |FROM ds LEFT JOIN bench b ON ds.sh = b.bsh
        |GROUP BY ds.doc_id ORDER BY ds.doc_id""".stripMargin,
    "x21_repetition_profile" ->
      // duplicate fractions are 1.0 - distinct/total over the same
      // normalized token stream as the dedup family (x11's CTE)
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(0, len(toks) - 3 + 1),
        |                i -> array_to_string(toks[i+1:i+3], ' '))
        |    END AS grams
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(1 AS DOUBLE) - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_token_frac,
        |  CAST(1 AS DOUBLE) - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS dup_ngram_frac,
        |  (CAST(1 AS DOUBLE) - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) > 0.3 AS is_repetitive
        |FROM g ORDER BY doc_id""".stripMargin,
    // DuckDB's native ASOF JOIN vs the Spark union-window plan. Both
    // sides use floor-to-second integer time (Spark's unix_timestamp ==
    // epoch(date_trunc('second', ts)) on the ns fixture) and the click
    // side is unique per (user, second), so the matched row is pinned.
    "x24_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS click_tsec,
        |    max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.tsec,
        |  c.click_tsec AS last_click_tsec, c.click_id AS last_click_id
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND c.click_tsec <= p.tsec
        |ORDER BY p.event_id""".stripMargin,
    "x25_range_join" ->
      """WITH e AS (
        |  SELECT event_id AS err_id, user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t_start
        |  FROM events WHERE event_type = 'error'),
        |p AS (
        |  SELECT event_id, user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS pt
        |  FROM events WHERE event_type = 'purchase')
        |SELECT e.err_id, e.user_id, e.t_start,
        |  CAST(count(p.event_id) AS BIGINT) AS n_purchases
        |FROM e LEFT JOIN p
        |  ON e.user_id = p.user_id AND p.pt >= e.t_start AND p.pt < e.t_start + 7200
        |GROUP BY 1, 2, 3 ORDER BY err_id""".stripMargin,
    "x26_sessionize" ->
      """WITH t AS (
        |  SELECT event_id, user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec
        |  FROM events),
        |l AS (
        |  SELECT *, lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec, event_id) AS prev
        |  FROM t),
        |s AS (
        |  SELECT *, SUM(CASE WHEN prev IS NULL OR tsec - prev > 1800 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY tsec, event_id
        |          ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM l)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  min(tsec) AS session_start, max(tsec) AS session_end,
        |  count(*) AS n_events
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,
    // thresholds are the 16-bit hex quantizations of the Spark-side
    // fractions: 1.0 → 'g' (above all hex), 0.5 → '8000', 0.1 → '199a',
    // 0.25 → '4000' — see Sampling.hexThreshold. The hash input length-
    // prefixes the stratum ("strat:5:error/17") so the encoding is
    // unambiguous for separator-bearing strata.
    "x27_stratified_sample" ->
      """SELECT event_id, event_type FROM events
        |WHERE substr(sha256('strat:' || length(event_type) || ':' || event_type
        |                    || '/' || event_id), 1, 4) <
        |  CASE event_type WHEN 'error' THEN 'g' WHEN 'purchase' THEN '8000'
        |       WHEN 'view' THEN '199a' ELSE '4000' END
        |ORDER BY event_id""".stripMargin,
    "x29_overlap_join" ->
      """WITH e AS (
        |  SELECT event_id AS err_id, user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS err_s
        |  FROM events WHERE event_type = 'error'),
        |p AS (
        |  SELECT event_id AS purch_id, user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS purch_s
        |  FROM events WHERE event_type = 'purchase')
        |SELECT e.err_id, p.purch_id, e.user_id,
        |  least(e.err_s + 7200, p.purch_s + 3600) - greatest(e.err_s, p.purch_s)
        |    AS overlap_sec
        |FROM e JOIN p ON e.user_id = p.user_id
        |  AND e.err_s < p.purch_s + 3600 AND p.purch_s < e.err_s + 7200
        |ORDER BY err_id, purch_id""".stripMargin,
    "x28_length_percentiles" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(ROUND(quantile_cont(n_chars, 0.25), 4) AS DOUBLE) AS p25,
        |  CAST(ROUND(quantile_cont(n_chars, 0.5), 4) AS DOUBLE) AS p50,
        |  CAST(ROUND(quantile_cont(n_chars, 0.75), 4) AS DOUBLE) AS p75,
        |  CAST(ROUND(quantile_cont(n_chars, 0.9), 4) AS DOUBLE) AS p90,
        |  CAST(ROUND(quantile_cont(n_chars, 0.99), 4) AS DOUBLE) AS p99
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // the integer-pattern guard pins TRY_CAST to Spark's try_cast
    // semantics: DuckDB would ROUND a decimal string ('3.7' -> 4) where
    // Spark's try_cast returns NULL
    "q15_safe_arithmetic" ->
      """WITH g AS (
        |  SELECT event_id, value, event_type,
        |    CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
        |                             '^\s*[+-]?[0-9]+\s*$')
        |         THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
        |    END AS k
        |  FROM events)
        |SELECT event_id, k,
        |  CASE WHEN k = 0 THEN NULL ELSE value / CAST(k AS DOUBLE) END AS value_per_k,
        |  CASE WHEN regexp_matches(event_type, '^\s*[+-]?[0-9]+\s*$')
        |       THEN TRY_CAST(event_type AS BIGINT) END AS type_as_num
        |FROM g ORDER BY event_id""".stripMargin,
    "q16_conversion_funnel" ->
      """WITH s AS (
        |  SELECT user_id, min(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS t_signup
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |p AS (
        |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS pt
        |  FROM events WHERE event_type = 'purchase')
        |SELECT s.user_id, s.t_signup,
        |  min(CASE WHEN p.pt >= s.t_signup THEN p.pt END) AS t_first_purchase,
        |  min(CASE WHEN p.pt >= s.t_signup THEN p.pt END) IS NOT NULL AS converted,
        |  min(CASE WHEN p.pt >= s.t_signup THEN p.pt END) - s.t_signup AS secs_to_convert
        |FROM s LEFT JOIN p USING (user_id)
        |GROUP BY s.user_id, s.t_signup
        |ORDER BY s.user_id""".stripMargin,
    // ASCII projection mirrors the Spark side: Spark's levenshtein is
    // codepoint-level, DuckDB's is byte-level — one '?' per non-ASCII
    // char makes the two units coincide
    "x41_edit_distance_pairs" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    regexp_replace(substr(text, 1, 64), '[^\x20-\x7E]', '?', 'g') AS pfx
        |  FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist,
        |  LENGTH(a.pfx) AS len_a,
        |  LENGTH(b.pfx) AS len_b
        |FROM p a JOIN p b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin,
    // every arithmetic step in the rate is pinned: integer counts,
    // CAST(...AS DOUBLE) multiplies/divides in the same order as the
    // Scala driver (w * N / n), least against a double 1 — so the
    // computed rate and the derived threshold agree bit-for-bit
    "x42_rebalance_sample" ->
      """WITH n AS (SELECT event_type, count(*) AS c FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM n),
        |w AS (
        |  SELECT event_type, c,
        |    CASE event_type WHEN 'error' THEN CAST(0.4 AS DOUBLE)
        |                    WHEN 'purchase' THEN CAST(0.4 AS DOUBLE)
        |                    WHEN 'view' THEN CAST(0.1 AS DOUBLE) END AS tw
        |  FROM n),
        |f AS (
        |  -- least() SKIPS nulls in DuckDB, so the missing-target case
        |  -- must null out BEFORE the cap, not inside it
        |  SELECT event_type,
        |    CASE WHEN tw IS NULL THEN NULL
        |         ELSE least(CAST(1 AS DOUBLE),
        |                    tw * CAST(t AS DOUBLE) / CAST(c AS DOUBLE)) END AS rate
        |  FROM w, tot)
        |SELECT e.event_id, e.event_type, f.rate
        |FROM events e JOIN f USING (event_type)
        |WHERE f.rate IS NOT NULL
        |  AND substr(sha256('mix:' || e.event_id), 1, 12) <
        |      CASE WHEN f.rate >= 1.0 THEN 'g'
        |           ELSE printf('%012x',
        |                  CAST(greatest(0, floor(f.rate * 281474976710656.0)) AS BIGINT))
        |      END
        |ORDER BY e.event_id""".stripMargin,
    // the constraint report is pure integer counting — every check's
    // violation condition is spelled with the same null semantics as the
    // Spark side (typed checks exempt NULLs, satisfies counts them, FK
    // exempts null fact keys, GROUP BY groups null key components)
    "x43_constraint_checks" ->
      """WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM lineitem),
        |row_checks AS (
        |  SELECT 'not_null:l_returnflag' AS check_name,
        |    SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS violations
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'range:l_quantity[1.0,45.0]',
        |    SUM(CASE WHEN l_quantity IS NOT NULL
        |             AND NOT (CAST(l_quantity AS DOUBLE) BETWEEN 1.0 AND 45.0)
        |        THEN 1 ELSE 0 END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'set:l_returnflag{A,N}',
        |    SUM(CASE WHEN l_returnflag IS NOT NULL
        |             AND l_returnflag NOT IN ('A', 'N') THEN 1 ELSE 0 END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'satisfies:discount_cap',
        |    SUM(CASE WHEN NOT COALESCE(l_discount <= 0.08, FALSE)
        |        THEN 1 ELSE 0 END)
        |  FROM lineitem),
        |uniq AS (
        |  SELECT 'unique:l_orderkey,l_linenumber' AS check_name,
        |    COALESCE(SUM(c), 0) AS violations
        |  FROM (SELECT count(*) AS c FROM lineitem
        |        GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)),
        |ri AS (
        |  SELECT 'ref:l_orderkey' AS check_name, count(*) AS violations
        |  FROM lineitem
        |  WHERE l_orderkey IS NOT NULL
        |    AND l_orderkey NOT IN
        |        (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0))
        |SELECT check_name, CAST(violations AS BIGINT) AS violations,
        |  (SELECT total FROM tot) AS total,
        |  violations = 0 AS pass
        |FROM (SELECT * FROM row_checks
        |      UNION ALL SELECT * FROM uniq
        |      UNION ALL SELECT * FROM ri)
        |ORDER BY check_name""".stripMargin,
    // bins ride the integer-seconds base (epoch(date_trunc second) ==
    // unix_timestamp, lesson 24); the spine is generate_series over each
    // key's [min, max]; the fill mirrors Spark's exact expression —
    // pv + (nv - pv) * (bin - pb) / (nb - pb) — over double values and
    // bigint bins, identical IEEE ops left-to-right in both engines
    "x44_timeseries_gapfill" ->
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(epoch(date_trunc('second', ts)) AS BIGINT) / 600)
        |      AS BIGINT) AS bin,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(bin) AS lo, max(bin) AS hi FROM r GROUP BY 1),
        |spine AS (
        |  SELECT event_type, unnest(generate_series(lo, hi)) AS bin FROM b),
        |j AS (
        |  SELECT s.event_type, s.bin, r.n
        |  FROM spine s LEFT JOIN r USING (event_type, bin)),
        |f AS (
        |  SELECT event_type, bin, n,
        |    last_value(n IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN n IS NOT NULL THEN bin END IGNORE NULLS)
        |      OVER wp AS pb,
        |    first_value(n IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN n IS NOT NULL THEN bin END IGNORE NULLS)
        |      OVER wn AS nb
        |  FROM j
        |  WINDOW wp AS (PARTITION BY event_type ORDER BY bin
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY event_type ORDER BY bin
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, bin,
        |  CASE WHEN n IS NOT NULL THEN n
        |       ELSE pv + (nv - pv) * (bin - pb) / (nb - pb) END AS n,
        |  n IS NOT NULL AS observed
        |FROM f
        |ORDER BY event_type, bin""".stripMargin,
    "s18_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
        |      * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(10000 AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,
    "s19_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_r,
        |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_l,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(l_quantity * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_linestatus), ())
        |ORDER BY g_r, g_l, l_returnflag, l_linestatus""".stripMargin,
    "s20_disjunctive_predicate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
        |      * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(10000 AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 35)""".stripMargin,
    // the late CTE is computed once; EXISTS/NOT EXISTS are row-level
    // per l1 line, so duplicate (order, supplier) late lines each count
    "s21_waiting_suppliers" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey,
        |    (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS is_late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F')
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.is_late
        |  AND EXISTS (SELECT 1 FROM late l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey AND l3.is_late)
        |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin,
    // exact cents lattice (the avg threshold can't tie a 2-decimal
    // balance exactly, so the filtered set is stable; the SUM is the
    // latticeSum discipline)
    "s22_global_sales_opportunity" ->
      """SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
        |  CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(SUM(CAST(FLOOR(c_acctbal * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-07-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the revenue CTE is shared by the join and the scalar max
    "s23_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount)
        |        * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |      / CAST(10000 AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |    AND l_shipdate < TIMESTAMP '2000-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,
    "s24_mincost_line" ->
      """SELECT p.p_partkey, p.p_brand, l.l_suppkey, l.l_extendedprice
        |FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        |WHERE p.p_size < 10
        |  AND l.l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                           FROM lineitem l2
        |                           WHERE l2.l_partkey = p.p_partkey)
        |ORDER BY p.p_partkey, l.l_suppkey""".stripMargin,
    // exact cents lattice; the avg-threshold comparison is strict-<
    // against a quotient that never lands on a quantity value
    "s25_small_qty_revenue" ->
      """SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_small,
        |  CAST(SUM(CAST(FLOOR(l.l_extendedprice * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS small_revenue
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_quantity < 0.5 * (SELECT avg(l2.l_quantity)
        |                            FROM lineitem l2
        |                            WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin,
    "s26_notin_suppliers" ->
      """SELECT p.p_brand, p.p_type,
        |  CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_brand <> 'Brand#1'
        |  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
        |                          WHERE s_acctbal < 1000)
        |GROUP BY p.p_brand, p.p_type
        |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type""".stripMargin,
    "s27_big_orders" ->
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                       GROUP BY l_orderkey
        |                       HAVING sum(l_quantity) > 150)
        |ORDER BY o.o_orderkey""".stripMargin,
    "s44_rank_ties_topk" ->
      """SELECT l_partkey, l_orderkey, l_linenumber, l_quantity, rnk
        |FROM (SELECT l_partkey, l_orderkey, l_linenumber, l_quantity,
        |        CAST(rank() OVER (PARTITION BY l_partkey
        |                          ORDER BY l_quantity DESC) AS BIGINT) AS rnk
        |      FROM lineitem) t
        |WHERE rnk <= 3 AND l_partkey <= 200
        |ORDER BY l_partkey, rnk, l_orderkey, l_linenumber""".stripMargin,
    "s45_filter_clause" ->
      """SELECT l_returnflag,
        |  CAST(count(*) AS BIGINT) AS n_all,
        |  CAST(count(*) FILTER (WHERE l_quantity >= 25) AS BIGINT) AS n_big,
        |  CAST(count(DISTINCT l_suppkey) FILTER (WHERE l_discount > 0.05) AS BIGINT)
        |    AS n_supp_disc,
        |  CAST(SUM(CAST(FLOOR(l_extendedprice * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |      FILTER (WHERE l_tax = 0) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS rev_untaxed
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "s43_recursive_spine" ->
      """WITH RECURSIVE months(m) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        |  WHERE m < DATE '2001-08-01')
        |SELECT months.m,
        |  CAST(coalesce(rev.n, 0) AS BIGINT) AS n_orders,
        |  coalesce(rev.r, CAST(0 AS DOUBLE)) AS revenue
        |FROM months
        |LEFT JOIN (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |             count(*) AS n,
        |             CAST(SUM(CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)
        |                   + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |               / CAST(100 AS DOUBLE) AS r
        |           FROM orders GROUP BY 1) rev
        |  ON rev.m = months.m
        |ORDER BY months.m""".stripMargin,
    "x87_recursive_reachability" ->
      """WITH RECURSIVE cp AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey * 10000000 + l_partkey AS sp
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |e AS (SELECT DISTINCT a.c AS src, b.c AS dst
        |      FROM cp a JOIN cp b ON a.sp = b.sp AND a.c <> b.c),
        |rec AS (
        |  SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
        |  UNION ALL
        |  SELECT e.dst AS node, rec.depth + 1 AS depth
        |  FROM rec JOIN e ON e.src = rec.node
        |  WHERE rec.depth < 2)
        |SELECT node, CAST(min(depth) AS BIGINT) AS hops
        |FROM rec GROUP BY node
        |ORDER BY hops, node""".stripMargin,
    "s42_typed_agg" ->
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS total,
        |  CAST(MAX(CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS max_price
        |FROM orders GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    "s40_lateral_topn" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_custkey <= 200
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin,
    "s41_variant_json" ->
      """SELECT event_id,
        |  CAST(props->>'$.k' AS BIGINT) AS k,
        |  CAST(props->>'$.missing' AS BIGINT) AS missing,
        |  props IS NULL AS no_props
        |FROM events ORDER BY event_id""".stripMargin,
    "s38_string_battery" ->
      """SELECT p_partkey,
        |  upper(p_name) AS up, lower(p_type) AS lo,
        |  substring(p_name, 3, 5) AS sub,
        |  lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '#') AS rp,
        |  reverse(p_name) AS rev,
        |  replace(p_name, 'a', '@') AS repl,
        |  CAST(instr(p_name, 'e') AS BIGINT) AS pos_e,
        |  translate(p_type, 'AEO', 'aeo') AS tr,
        |  repeat(p_brand, 2) AS rep2,
        |  concat_ws('|', p_brand, p_type) AS joined,
        |  string_split(p_name, '_')[-1] AS last_part,
        |  CAST(ascii(p_name) AS BIGINT) AS first_code,
        |  CAST(length(p_name) AS BIGINT) AS len,
        |  md5(p_name) AS digest,
        |  coalesce(regexp_extract(p_name, '([0-9]+)', 1), '') AS digits
        |FROM part ORDER BY p_partkey""".stripMargin,
    "s39_date_battery" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(day(o_orderdate) AS BIGINT) AS dom,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |  CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
        |  CAST(last_day(o_orderdate) AS DATE) AS month_end,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus45,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  CAST(date_diff('day', o_orderdate, TIMESTAMP '2001-01-01') AS BIGINT) AS days_to_2001,
        |  make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS first_dom
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "s35_order_count_distribution" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        |      FROM customer c LEFT JOIN orders o
        |        ON o.o_custkey = c.c_custkey
        |        AND o.o_orderpriority <> '1-URGENT'
        |      GROUP BY c.c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "s36_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(FLOOR(l_extendedprice * l_discount
        |      * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(10000 AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_discount BETWEEN CAST(0.02 AS DOUBLE) AND CAST(0.04 AS DOUBLE)
        |  AND l_quantity < 10""".stripMargin,
    "s37_set_ops" ->
      """SELECT 'inter' AS op, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t1
        |UNION ALL
        |SELECT 'except', CAST(count(*) AS BIGINT) FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t2
        |UNION ALL
        |SELECT 'inter_all', CAST(count(*) AS BIGINT) FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t3
        |UNION ALL
        |SELECT 'except_all', CAST(count(*) AS BIGINT) FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') t4
        |ORDER BY op""".stripMargin,
    "s28_late_orders" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "s29_nation_volume" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |  SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
        |        * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |    / CAST(10000 AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,
    "s30_market_share" ->
      """WITH vol AS (
        |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |    CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
        |         * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vq,
        |    n1.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n2.n_regionkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |  WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO')
        |SELECT o_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN vq ELSE 0 END) AS DOUBLE)
        |    / CAST(10000 AS DOUBLE) AS nation_vol,
        |  CAST(SUM(vq) AS DOUBLE) / CAST(10000 AS DOUBLE) AS total_vol,
        |  ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN vq ELSE 0 END) AS DOUBLE)
        |        / CAST(SUM(vq) AS DOUBLE), 6) AS mkt_share
        |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin,
    "s31_nation_profit" ->
      """SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(FLOOR((l.l_extendedprice * (1 - l.l_discount)
        |            - CAST(0.1 AS DOUBLE) * p.p_retailprice * l.l_quantity)
        |           * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
        |    AS DOUBLE) / CAST(10000 AS DOUBLE) AS profit
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE p.p_size < 20
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "s32_top_returners" ->
      """SELECT c.c_custkey, c.c_name,
        |  ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1998-07-01'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "s33_important_parts" ->
      """WITH pv AS (
        |  SELECT l.l_partkey,
        |    SUM(CAST(FLOOR(l.l_extendedprice * l.l_quantity
        |         * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS pq
        |  FROM lineitem l
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n ON n.n_nationkey = s.s_nationkey
        |  WHERE n.n_regionkey = 2
        |  GROUP BY l.l_partkey)
        |SELECT l_partkey, CAST(pq AS DOUBLE) / CAST(10000 AS DOUBLE) AS part_value
        |FROM pv
        |WHERE CAST(pq AS DOUBLE) >
        |  (SELECT CAST(0.0008 AS DOUBLE) * CAST(SUM(pq) AS DOUBLE) FROM pv)
        |ORDER BY part_value DESC, l_partkey""".stripMargin,
    "s34_promo_share" ->
      """WITH q AS (
        |  SELECT CAST(year(l.l_shipdate) * 100 + month(l.l_shipdate) AS BIGINT) AS ym,
        |    CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount)
        |         * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vq,
        |    p.p_type AS ptype
        |  FROM lineitem l
        |  JOIN part p ON p.p_partkey = l.l_partkey)
        |SELECT ym,
        |  CAST(SUM(CASE WHEN ptype = 'PROMO' THEN vq ELSE 0 END) AS DOUBLE)
        |    / CAST(10000 AS DOUBLE) AS promo_rev,
        |  CAST(SUM(vq) AS DOUBLE) / CAST(10000 AS DOUBLE) AS total_rev,
        |  ROUND(CAST(100 AS DOUBLE)
        |        * CAST(SUM(CASE WHEN ptype = 'PROMO' THEN vq ELSE 0 END) AS DOUBLE)
        |        / CAST(SUM(vq) AS DOUBLE), 6) AS promo_share
        |FROM q GROUP BY 1 ORDER BY 1""".stripMargin,
    // integer-seconds RANGE bounds (lesson 24 base) make frame
    // membership exact cross-engine; the count is a bigint
    "q17_range_frame" ->
      """SELECT event_id, user_id,
        |  CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec,
        |  CAST(COUNT(*) OVER (
        |    PARTITION BY user_id
        |    ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |    RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS n_7d
        |FROM events
        |ORDER BY event_id""".stripMargin,
    // the merge is QUALIFY row_number by v DESC then drop winning
    // deletes; (key, v) is unique by construction (v tiers: snapshot 0,
    // update/insert 1, delete 2; insert keys are fresh)
    "x51_cdc_apply" ->
      """WITH snap AS (
        |  SELECT o.*, CAST(0 AS BIGINT) AS v, 'I' AS op FROM orders o),
        |upd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice * 2 AS o_totalprice, o_orderdate, o_orderpriority,
        |    CAST(1 AS BIGINT) AS v, 'U' AS op
        |  FROM orders WHERE o_orderkey % 7 = 0),
        |del AS (
        |  SELECT o.*, CAST(2 AS BIGINT) AS v, 'D' AS op
        |  FROM orders o WHERE o_orderkey % 11 = 0),
        |ins AS (
        |  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
        |    o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
        |    CAST(1 AS BIGINT) AS v, 'I' AS op
        |  FROM orders WHERE o_orderkey % 13 = 0),
        |allr AS (
        |  SELECT * FROM snap UNION ALL SELECT * FROM upd
        |  UNION ALL SELECT * FROM del UNION ALL SELECT * FROM ins),
        |latest AS (
        |  SELECT * FROM allr
        |  QUALIFY row_number() OVER (PARTITION BY o_orderkey
        |                             ORDER BY v DESC) = 1)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate, o_orderpriority, v
        |FROM latest WHERE op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,
    // skipping is I/O-only: the oracle is the plain full-scan predicate
    "x52_manifest_skip" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 1000 AND 3000
        |  AND l_partkey BETWEEN 100 AND 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "x53_bloom_point_skip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (32, 4033, 7432, 9988, 14321)
        |ORDER BY o_orderkey""".stripMargin,
    // same tokenization as x15; DISTINCT before the group = document
    // frequency; list_sort is numeric on BIGINT, as sort_array is
    "x54_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents),
        |td AS (SELECT DISTINCT doc_id, token FROM tok)
        |SELECT token, CAST(count(*) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM td GROUP BY token
        |HAVING count(*) BETWEEN 5 AND
        |  (SELECT count(*) * 4 // 5 FROM documents)
        |ORDER BY token""".stripMargin,
    "x55_winsorize_chars" -> duckWinsorizeCharsSql,
    // the SAME oracle: the approxK query is guarded into the sketch's
    // exact regime, where the bounded read is bit-identical to exact
    "x177_winsorize_approx" -> duckWinsorizeCharsSql,
    "x56_price_histogram" ->
      """SELECT o_orderstatus,
        |  CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(floor(o_totalprice / 25000.0) AS BIGINT) * 25000.0 AS bin_lo
        |FROM orders WHERE o_totalprice IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // keeper rule mirrored exactly: longest member wins, ties to the
    // min id; docs in no component pass through
    "x57_neardup_keep_best" ->
      s"""$duckRecursivePairCtes,
         |$duckComponentCtes,
         |scored AS (
         |  SELECT g.id, g.group_id, len(c.t) AS score
         |  FROM comp g JOIN corpus c ON c.id = g.id),
         |keep AS (
         |  SELECT id FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY group_id
         |                             ORDER BY score DESC, id ASC) = 1)
         |SELECT c.id AS doc_id
         |FROM corpus c
         |LEFT JOIN comp g ON g.id = c.id
         |WHERE g.id IS NULL OR c.id IN (SELECT id FROM keep)
         |ORDER BY doc_id""".stripMargin,
    // exact-integer manifest recomputed from the fixture
    "x66_sharded_export" ->
      """SELECT CAST(doc_id % 8 AS INT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS key_sum,
        |  CAST(min(doc_id) AS BIGINT) AS key_min,
        |  CAST(max(doc_id) AS BIGINT) AS key_max
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // same 4-hex salted sha256 rank as hashBucket, id tiebreak
    "x65_source_cap" ->
      """SELECT doc_id, source FROM documents
        |QUALIFY row_number() OVER (
        |  PARTITION BY source
        |  ORDER BY substr(sha256('cap:' || doc_id), 1, 4), doc_id) <= 10
        |ORDER BY doc_id""".stripMargin,
    // x12's pair SQL (inlined planes) renamed into the shared
    // reachability CTE chain; group id = min reachable member
    "x64_embedding_dup_groups" -> {
      val bucket = duckLshBucket("embedding", Similarity.hyperplanes(6, 64))
      s"""WITH RECURSIVE b AS (
         |  SELECT vec_id, embedding,
         |  $bucket AS bucket
         |  FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b
         |  FROM b a JOIN b b2
         |    ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |  WHERE CAST(ROUND(
         |    list_sum(list_transform(list_zip(a.embedding, b2.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |    / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
         |         * list_sum(list_transform(b2.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) >= 0.3),
         |$duckComponentCtes
         |SELECT id AS vec_id, group_id FROM comp ORDER BY vec_id""".stripMargin
    },
    // pruning is I/O-only: the answer is the plain band filter
    "x69_snapshot_skip" ->
      """SELECT o_orderkey,
        |  CAST(round(o_totalprice, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey BETWEEN 6000 AND 7000
        |ORDER BY o_orderkey""".stripMargin,
    // KMV sketch: 60-bit sha256 hashes (15 hex chars — signed-64-safe
    // in every engine), per-type bottom-64 over DISTINCT hashes, then
    // the (k-1)·2^60/h_k estimator; unsaturated groups report their
    // exact distinct-hash count. All factors exact doubles, division
    // IEEE → bit-identical cross-engine.
    "x86_equidepth_histogram" ->
      """WITH b AS (
        |  SELECT lang, n_chars,
        |    CAST(ntile(8) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(n_chars) AS BIGINT) AS lo, CAST(max(n_chars) AS BIGINT) AS hi
        |FROM b GROUP BY lang, bucket
        |ORDER BY lang, bucket""".stripMargin,
    // bigram + unigram count tables, identical interpolation
    // association order, position-ordered fold (x62's list_sum form)
    "x85_bigram_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok FROM t),
        |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS ucnt FROM e GROUP BY tok),
        |tot AS (SELECT CAST(sum(ucnt) AS BIGINT) AS total FROM f),
        |pr AS (
        |  SELECT doc_id, unnest(range(1, len(toks))) AS pos,
        |    unnest(toks[1:len(toks)-1]) AS prev, unnest(toks[2:]) AS cur
        |  FROM t),
        |b AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS bcnt FROM pr GROUP BY prev, cur),
        |j AS (
        |  SELECT pr.doc_id, pr.pos,
        |    ln(CAST(0.8 AS DOUBLE) * (b.bcnt / CAST(fp.ucnt AS DOUBLE))
        |       + (1.0 - CAST(0.8 AS DOUBLE)) * (fc.ucnt / CAST(tot.total AS DOUBLE))) AS lp
        |  FROM pr
        |  JOIN b ON b.prev = pr.prev AND b.cur = pr.cur
        |  JOIN f fp ON fp.tok = pr.prev
        |  JOIN f fc ON fc.tok = pr.cur
        |  CROSS JOIN tot),
        |g AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    list_sum(list(lp ORDER BY pos)) AS sum_lp
        |  FROM j GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  CAST(ROUND(sum_lp / n_bigrams, 6) AS DOUBLE) AS score
        |FROM g ORDER BY doc_id""".stripMargin,
    // exact HUGEINT sums (DuckDB's int128 twin of the Spark side's
    // DECIMAL(38,0)), identical closed-form divisions — no rounding
    "x84_ols_trend" ->
      """WITH pts AS (
        |  SELECT event_type,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) - 1700000000 AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |sums AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM pts GROUP BY event_type)
        |SELECT event_type, n,
        |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE)
        |    - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
        |      * CAST(sx AS DOUBLE)) / n AS intercept,
        |  (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
        |    / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) AS r2
        |FROM sums ORDER BY event_type""".stripMargin,
    // 8 unrolled BPE rounds: per-round pair counts from the spaced
    // symbol string, (cnt DESC, l, r) argmax, then the merge applied by
    // a list_reduce FOLD (merge when the accumulator's last token == l
    // and the incoming symbol == r) — the SAME left-to-right greedy
    // semantics as the Spark `aggregate` fold. A plain string
    // replace(' l r ') is NOT equivalent: adjacent occurrences share
    // the separator space, so 'papa' under merge (p,a) would come out
    // [pa, p, a] instead of the correct [pa, pa], corrupting later
    // rounds' pair counts on any corpus with adjacent-repeat words.
    // list_zip pads the shorter list with NULL, hence the p[2] filter.
    "x83_bpe_merges" -> {
      val rounds = 8
      val steps = (1 to rounds).map { r =>
        val prev = s"s${r - 1}"
        s"""p$r AS MATERIALIZED (SELECT p[1] AS l, p[2] AS r2, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, unnest(list_zip(ll, ll[2:])) AS p
           |        FROM (SELECT freq, string_split(trim(seq), ' ') AS ll FROM $prev) t1) t2
           |  WHERE p[2] IS NOT NULL
           |  GROUP BY 1, 2 HAVING sum(freq) >= 2),
           |m$r AS MATERIALIZED (SELECT l, r2, cnt FROM p$r ORDER BY cnt DESC, l, r2 LIMIT 1),
           |s$r AS MATERIALIZED (SELECT freq, ' ' || list_reduce(
           |    string_split(trim(seq), ' '),
           |    (acc, x) -> CASE WHEN x = mr AND (acc = ml OR right(acc, length(ml)+1) = ' ' || ml)
           |                THEN left(acc, length(acc) - length(ml)) || ml || mr
           |                ELSE acc || ' ' || x END) || ' ' AS seq
           |  FROM $prev, (SELECT l AS ml, r2 AS mr FROM m$r) mm$r)""".stripMargin
      }.mkString(",\n")
      val out = (1 to rounds)
        .map(r => s"SELECT $r AS round, l AS \"left\", r2 AS \"right\", cnt AS pair_count FROM m$r")
        .mkString("\nUNION ALL\n")
      s"""WITH words AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split(
         |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
         |    FROM documents) t
         |  WHERE length(w) > 0 GROUP BY w),
         |s0 AS MATERIALIZED (SELECT freq,
         |         ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS seq
         |       FROM words),
         |$steps
         |SELECT CAST(round AS BIGINT) AS round, "left", "right", pair_count
         |FROM ($out) u
         |ORDER BY round""".stripMargin
    },
    // float64 cosine replica (x06's arithmetic), best match per corpus
    // vector picked on (rounded sim DESC, bench id DESC) — the
    // lexicographic max(struct) order
    "x82_semantic_decontaminate" ->
      """WITH bench AS (SELECT vec_id AS bench_id, embedding FROM embeddings
        |               WHERE vec_id % 10 = 0),
        |corpus AS (SELECT vec_id, embedding FROM embeddings
        |           WHERE vec_id % 10 <> 0),
        |sims AS (
        |  SELECT c.vec_id, b.bench_id, CAST(ROUND(
        |    list_sum(list_transform(list_zip(c.embedding, b.embedding),
        |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
        |    AS DOUBLE) AS sim
        |  FROM corpus c CROSS JOIN bench b)
        |SELECT vec_id, bench_id, sim FROM sims
        |WHERE sim >= 0.35
        |QUALIFY row_number() OVER (PARTITION BY vec_id
        |                           ORDER BY sim DESC, bench_id DESC) = 1
        |ORDER BY vec_id""".stripMargin,
    // each HOF replayed with its DuckDB list_* twin; integer/string
    // cells only, so every value is exact
    "x80_hof_battery" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT) AS total_chars,
        |  CAST(len(list_filter(toks, t -> length(t) >= 6)) AS BIGINT) AS n_long,
        |  list_contains(toks, 'spark') AS has_spark,
        |  len(list_filter(toks, t -> length(t) = 0)) = 0 AS all_nonempty,
        |  array_to_string((list_sort(toks, 'DESC'))[1:3], ',') AS top3,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
        |  CAST(list_sum(list_transform(toks, t -> length(t) * length(t))) AS BIGINT) AS sum_sq_len
        |FROM toks ORDER BY doc_id""".stripMargin,
    // bottom-64 sketches of both sides, merged bottom-64, membership
    // match count, then the identical (n/m)*union arithmetic
    "x81_kmv_setops" ->
      """WITH ah AS (
        |  SELECT DISTINCT CAST(concat('0x', substr(sha256('kmv:' ||
        |    CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
        |ak AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn FROM ah) WHERE rn <= 64),
        |bh AS (
        |  SELECT DISTINCT CAST(concat('0x', substr(sha256('kmv:' ||
        |    CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL),
        |bk AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) rn FROM bh) WHERE rn <= 64),
        |mh AS (SELECT DISTINCT h FROM (SELECT h FROM ak UNION ALL SELECT h FROM bk) u),
        |mk AS (SELECT h, rn FROM (SELECT h, row_number() OVER (ORDER BY h) rn FROM mh) WHERE rn <= 64),
        |msz AS (SELECT CAST(count(*) AS BIGINT) AS m_size,
        |          max(CASE WHEN rn = 64 THEN h END) AS h64 FROM mk),
        |un AS (SELECT m_size,
        |         CASE WHEN m_size < 64 THEN CAST(m_size AS DOUBLE)
        |              ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |                   / CAST(h64 AS DOUBLE) END AS union_est
        |       FROM msz),
        |mm AS (SELECT CAST(count(*) AS BIGINT) AS n_match FROM mk
        |       WHERE h IN (SELECT h FROM ak) AND h IN (SELECT h FROM bk)),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_inter_exact FROM (
        |         SELECT DISTINCT user_id FROM events
        |         WHERE event_type = 'click' AND user_id IS NOT NULL
        |         INTERSECT
        |         SELECT DISTINCT user_id FROM events
        |         WHERE event_type = 'purchase' AND user_id IS NOT NULL) i),
        |ex2 AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_union_exact
        |        FROM events
        |        WHERE event_type IN ('click', 'purchase') AND user_id IS NOT NULL)
        |SELECT 'all' AS g, un.union_est,
        |  CAST(mm.n_match AS DOUBLE) / un.m_size * un.union_est AS inter_est,
        |  CAST(mm.n_match AS DOUBLE) / un.m_size AS jaccard_est,
        |  ex.n_inter_exact, ex2.n_union_exact
        |FROM un, mm, ex, ex2""".stripMargin,
    // exact-regime GK summary == discrete quantile; DuckDB's
    // quantile_disc picks the same element at these ranks
    "x79_gk_exact_quantiles" ->
      """SELECT lang,
        |  CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS p50,
        |  CAST(quantile_disc(n_chars, 0.9) AS BIGINT) AS p90,
        |  CAST(quantile_disc(n_chars, 0.99) AS BIGINT) AS p99,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY lang
        |ORDER BY lang""".stripMargin,
    // cell-for-cell contingency replica: same tokenizer as x54/x75,
    // full grid with zero cells, identical association order in the
    // p/q/e arithmetic
    "x78_source_drift" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS token
        |  FROM documents),
        |cells AS (SELECT source, token, CAST(count(*) AS BIGINT) AS o
        |          FROM tok GROUP BY 1, 2),
        |pooled AS (SELECT token, CAST(sum(o) AS BIGINT) AS g FROM cells GROUP BY token),
        |totals AS (SELECT source, CAST(sum(o) AS BIGINT) AS n FROM cells GROUP BY source),
        |grand AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells),
        |grid AS (SELECT totals.source, totals.n, pooled.token, pooled.g
        |         FROM totals CROSS JOIN pooled),
        |j AS (SELECT grid.source, grid.n, grid.g, grid.token,
        |        coalesce(cells.o, 0) AS o
        |      FROM grid LEFT JOIN cells
        |        ON cells.source = grid.source AND cells.token = grid.token),
        |terms AS (SELECT j.source, j.n,
        |            CAST(j.o AS DOUBLE) / j.n AS p,
        |            CAST(j.g AS DOUBLE) / g2.t AS q,
        |            j.o, j.n * (CAST(j.g AS DOUBLE) / g2.t) AS e
        |          FROM j CROSS JOIN grand g2)
        |SELECT source, n,
        |  round(sum(CASE WHEN o > 0 THEN p * ln(p / q) ELSE 0.0 END), 6) AS kl,
        |  round(sum((o - e) * (o - e) / e), 4) AS chi2
        |FROM terms GROUP BY source, n
        |ORDER BY source""".stripMargin,
    // PageRank unrolled as three chained CTE steps with the identical
    // dangling-mass convention (no redistribution); every arithmetic
    // step is written in the same association order as the Spark side.
    "x76_pagerank" ->
      """WITH edges AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
        |r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
        |s1 AS (SELECT e.dst AS node, sum(r.rank / o.od) AS inflow
        |       FROM edges e JOIN outdeg o ON o.src = e.src
        |       JOIN r0 r ON r.node = e.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.node,
        |         (1.0 - CAST(0.85 AS DOUBLE)) / nn.n
        |           + CAST(0.85 AS DOUBLE) * coalesce(s1.inflow, 0.0) AS rank
        |       FROM nodes CROSS JOIN nn LEFT JOIN s1 ON s1.node = nodes.node),
        |s2 AS (SELECT e.dst AS node, sum(r.rank / o.od) AS inflow
        |       FROM edges e JOIN outdeg o ON o.src = e.src
        |       JOIN r1 r ON r.node = e.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.node,
        |         (1.0 - CAST(0.85 AS DOUBLE)) / nn.n
        |           + CAST(0.85 AS DOUBLE) * coalesce(s2.inflow, 0.0) AS rank
        |       FROM nodes CROSS JOIN nn LEFT JOIN s2 ON s2.node = nodes.node),
        |s3 AS (SELECT e.dst AS node, sum(r.rank / o.od) AS inflow
        |       FROM edges e JOIN outdeg o ON o.src = e.src
        |       JOIN r2 r ON r.node = e.src GROUP BY e.dst),
        |r3 AS (SELECT nodes.node,
        |         (1.0 - CAST(0.85 AS DOUBLE)) / nn.n
        |           + CAST(0.85 AS DOUBLE) * coalesce(s3.inflow, 0.0) AS rank
        |       FROM nodes CROSS JOIN nn LEFT JOIN s3 ON s3.node = nodes.node)
        |SELECT node, round(rank, 8) AS rank FROM r3
        |ORDER BY node""".stripMargin,
    // naive a<b<c three-way join recount: integer-exact, so the
    // degree-oriented wedge machinery has a full-value oracle
    "x77_triangle_count" ->
      """WITH cp AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey * 10000000 + l_partkey AS sp
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |e AS (SELECT DISTINCT a.c AS a, b.c AS b
        |      FROM cp a JOIN cp b ON a.sp = b.sp AND a.c < b.c),
        |nodes AS (SELECT a AS v FROM e UNION SELECT b FROM e)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  (SELECT CAST(count(*) AS BIGINT)
        |   FROM e e1 JOIN e e2 ON e2.a = e1.b
        |   JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin,
    // BM25 with the Lucene idf variant, replayed term-for-term: same
    // whitespace tokenizer as x54, exact integer tf/df/dl, one-division
    // avgdl, ln-bearing score rounded to 6 dp, cut ordered by (rounded
    // score DESC, doc_id).
    "x75_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks),
        |tok AS (SELECT doc_id, unnest(toks) AS term FROM toks),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok WHERE term IN ('spark', 'join', 'vector', 'stream')
        |       GROUP BY doc_id, term),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |            CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        |          FROM dl),
        |scored AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
        |      * (tf.tf * (CAST(1.2 AS DOUBLE) + 1.0))
        |      / (tf.tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)
        |         + CAST(0.75 AS DOUBLE) * dl.dl / s.avgdl)) AS contrib
        |  FROM tf
        |  JOIN dfreq d USING (term)
        |  JOIN dl ON dl.doc_id = tf.doc_id
        |  CROSS JOIN stats s)
        |SELECT doc_id, round(sum(contrib), 6) AS score,
        |  CAST(count(*) AS BIGINT) AS n_terms_hit
        |FROM scored GROUP BY doc_id
        |ORDER BY score DESC, doc_id
        |LIMIT 25""".stripMargin,
    // Full cross-engine replica of the Count-Min counter matrix: same
    // sha256 hash family ('cms:<r>:<value>'), same mod-512 buckets,
    // same min-over-rows point query. CMS is pure integer arithmetic,
    // so est_cnt must match bit-for-bit.
    "x72_cms_freq" ->
      """WITH v AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
        |hb AS (
        |  SELECT user_id, r,
        |    CAST(concat('0x', substr(sha256('cms:' || CAST(r AS VARCHAR) || ':' ||
        |      CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 512 AS bucket
        |  FROM v CROSS JOIN range(3) t(r)),
        |sk AS (SELECT r, bucket, count(*) AS cnt FROM hb GROUP BY r, bucket),
        |kb AS (SELECT DISTINCT user_id, r, bucket FROM hb),
        |est AS (SELECT kb.user_id, min(coalesce(sk.cnt, 0)) AS est_cnt
        |        FROM kb LEFT JOIN sk USING (r, bucket) GROUP BY kb.user_id),
        |ex AS (SELECT user_id, count(*) AS exact_cnt FROM v GROUP BY user_id)
        |SELECT est.user_id, CAST(est.est_cnt AS BIGINT) AS est_cnt,
        |  CAST(ex.exact_cnt AS BIGINT) AS exact_cnt
        |FROM est JOIN ex USING (user_id)
        |ORDER BY user_id""".stripMargin,
    // Matched-parameter regime (capacity 64 >= 5 distinct types): the
    // Misra-Gries summary is provably exact, so the oracle is the
    // exact group-count in the aggregate's output order.
    "x73_heavy_hitters" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY event_type
        |ORDER BY cnt DESC, event_type""".stripMargin,
    // Portable HLL replica: same 60-bit sha256 hash, reg = h mod 32,
    // w = h // 32, rho = 56 - length(bin(w)) (57 for w=0 would be the
    // all-zero case; 60-bit hash over 5 bits of register leaves 55
    // bits, so rho = 56 only when w = 0), exact DECIMAL register sum
    // scaled by 2^61, then the same alpha*m^2*2^61/sum estimator.
    // Multiplications by powers of two are exact IEEE scalings, so the
    // double estimate matches despite cross-engine evaluation order;
    // the linear-counting branch (the one libm ln) is 4-dp-rounded on
    // both sides.
    "x74_hll_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(sha256('hll:' || CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |rh AS (SELECT event_type, CAST(h % 32 AS INT) AS reg,
        |         CASE WHEN h // 32 = 0 THEN 56
        |              ELSE 56 - length(bin(h // 32)) END AS rho
        |       FROM h),
        |regs AS (SELECT event_type, reg, max(rho) AS maxrho
        |         FROM rh GROUP BY event_type, reg),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS v_filled,
        |        CAST(sum(CAST((CAST(1 AS BIGINT) << (61 - maxrho)) AS DECIMAL(38,0)))
        |          AS DECIMAL(38,0)) AS sum_filled
        |      FROM regs GROUP BY event_type),
        |e AS (SELECT event_type, v_filled,
        |        CAST(sum_filled + (32 - v_filled) *
        |          CAST(2305843009213693952 AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS sum_scaled
        |      FROM g),
        |est AS (SELECT event_type, v_filled,
        |          CAST(sum_scaled AS DOUBLE) AS sum_scaled,
        |          (CAST(0.697 AS DOUBLE) * 32 * 32) * (CAST(2305843009213693952 AS DOUBLE))
        |            / CAST(sum_scaled AS DOUBLE) AS raw
        |        FROM e),
        |x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |      FROM events WHERE user_id IS NOT NULL GROUP BY event_type)
        |SELECT est.event_type, est.v_filled, est.sum_scaled,
        |  round(CASE WHEN est.raw <= 80.0 AND est.v_filled < 32
        |             THEN 32 * ln(32.0 / (32 - est.v_filled))
        |             ELSE est.raw END, 4) AS distinct_est,
        |  x.n_exact
        |FROM est JOIN x USING (event_type)
        |ORDER BY est.event_type""".stripMargin,
    // from-scratch A-Res replay (x97's portable priority arithmetic)
    // == the incrementally maintained top-k sample state
    // contingency counts -> integer-ratio po/pe -> one IEEE kappa chain
    "x119_cohen_kappa" ->
      """WITH r AS (SELECT
        |  CASE WHEN n_chars >= 500 THEN 'long' ELSE 'short' END AS r1,
        |  CASE WHEN len(string_split(regexp_replace(lower(trim(text)),
        |         '\s+', ' ', 'g'), ' ')) >= 80
        |       THEN 'long' ELSE 'short' END AS r2
        |  FROM documents),
        |c AS (SELECT r1, r2, CAST(count(*) AS BIGINT) AS cnt
        |      FROM r GROUP BY 1, 2),
        |m1 AS (SELECT r1 AS k, CAST(SUM(cnt) AS BIGINT) AS a FROM c GROUP BY 1),
        |m2 AS (SELECT r2 AS k, CAST(SUM(cnt) AS BIGINT) AS b FROM c GROUP BY 1),
        |x AS (SELECT COALESCE(SUM(CAST(a AS HUGEINT) * CAST(b AS HUGEINT)),
        |               CAST(0 AS HUGEINT)) AS ab
        |      FROM m1 JOIN m2 USING (k)),
        |tt AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
        |         CAST(SUM(CASE WHEN r1 = r2 THEN cnt ELSE 0 END) AS BIGINT) AS diag
        |       FROM c)
        |SELECT n,
        |  CAST(diag AS DOUBLE) / n AS po,
        |  CAST(ab AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) AS pe,
        |  CASE WHEN CAST(ab AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
        |         < CAST(1 AS DOUBLE)
        |    THEN (CAST(diag AS DOUBLE) / n
        |           - CAST(ab AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))
        |         / (CAST(1 AS DOUBLE)
        |           - CAST(ab AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE))
        |  END AS kappa
        |FROM tt, x""".stripMargin,
    // sorted-distinct entropy fold, replayed term-for-term (list_sum
    // is the same left fold; a - p·ln(p) == a + (-(p·ln(p))) in IEEE)
    "x120_token_entropy" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, toks,
        |        list_sort(list_distinct(toks)) AS dt FROM tk)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(dt) AS BIGINT) AS n_distinct,
        |  ROUND(list_sum(list_transform(dt, t ->
        |    -(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) / len(toks))
        |     * ln(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) / len(toks)))), 6) AS entropy,
        |  CASE WHEN len(dt) > 1
        |    THEN ROUND(ROUND(list_sum(list_transform(dt, t ->
        |      -(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) / len(toks))
        |       * ln(CAST(len(list_filter(toks, x -> x = t)) AS DOUBLE) / len(toks)))), 6)
        |      / ln(CAST(len(dt) AS DOUBLE)), 6)
        |  END AS norm_entropy
        |FROM d
        |ORDER BY doc_id""".stripMargin,
    // full RRF replay: both retrievers re-scored, per-source ranks via
    // the same (score DESC, doc ASC) tie rule, the fused sum folded in
    // source order (list ORDER BY src == the sorted-struct fold)
    "x121_rrf_fusion" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(0, len(toks) - 3 + 1),
        |                i -> array_to_string(toks[i+1:i+3], ' '))
        |    END AS sh
        |  FROM tk),
        |s0 AS (
        |  SELECT q.doc_id AS query_id, t.doc_id,
        |    CAST(len(list_distinct(list_intersect(q.toks, t.toks))) AS DOUBLE) AS score
        |  FROM tk q JOIN tk t ON q.doc_id <= 5 AND t.doc_id <> q.doc_id),
        |s1 AS (
        |  SELECT a.doc_id AS query_id, b.doc_id,
        |    CAST(len(list_distinct(list_intersect(a.sh, b.sh))) AS DOUBLE)
        |      / len(list_distinct(a.sh || b.sh)) AS score
        |  FROM sh a JOIN sh b ON a.doc_id <= 5 AND b.doc_id <> a.doc_id),
        |u AS (SELECT 0 AS src, * FROM s0 UNION ALL SELECT 1 AS src, * FROM s1),
        |rk AS (
        |  SELECT src, query_id, doc_id,
        |    row_number() OVER (PARTITION BY src, query_id
        |                       ORDER BY score DESC, doc_id) AS rnk
        |  FROM u WHERE score IS NOT NULL),
        |fused AS (
        |  SELECT query_id, doc_id,
        |    ROUND(list_sum(list(CAST(1 AS DOUBLE) / (60 + rnk) ORDER BY src)), 6) AS rrf,
        |    CAST(count(*) AS BIGINT) AS n_sources
        |  FROM rk WHERE rnk <= 20 GROUP BY query_id, doc_id),
        |fin AS (
        |  SELECT query_id, doc_id, rrf, n_sources,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY rrf DESC, doc_id) AS rank
        |  FROM fused)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf, n_sources
        |FROM fin WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // clipped-count replay: per distinct candidate bigram, min of the
    // two multiplicities; the three metrics are integer ratios
    "x122_rouge_bigram" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(0, len(toks) - 2 + 1),
        |                i -> array_to_string(toks[i+1:i+2], ' '))
        |    END AS gr
        |  FROM tk),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.gr AS cg, b.gr AS rg
        |  FROM g a JOIN g b ON b.doc_id = a.doc_id + 1),
        |m AS (
        |  SELECT id_a, id_b,
        |    CAST(len(cg) AS BIGINT) AS n_cand,
        |    CAST(len(rg) AS BIGINT) AS n_ref,
        |    CAST(list_sum(list_transform(list_distinct(cg), t ->
        |      least(len(list_filter(cg, x -> x = t)),
        |            len(list_filter(rg, x -> x = t))))) AS BIGINT) AS clipped
        |  FROM p)
        |SELECT id_a, id_b, n_cand, n_ref, clipped,
        |  CAST(clipped AS DOUBLE) / n_cand AS "precision",
        |  CAST(clipped AS DOUBLE) / n_ref AS recall,
        |  CAST(2 AS DOUBLE) * clipped / (n_cand + n_ref) AS f1
        |FROM m ORDER BY id_a""".stripMargin,
    // step-by-step greedy replay: the list_reduce fold carries the
    // selected set; each step scores the remainder (sims rounded to 6
    // like the Spark fold), sorts (score DESC, -id DESC) and appends
    // the winner — the same total order as the Spark (score, nid)
    // struct max. (1 - 0.7) is computed, not written 0.3: the IEEE
    // result of 1.0 - 0.7 differs from the 0.3 literal in the last bit.
    "x123_mmr_diversify" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qemb, label
        |  FROM embeddings WHERE vec_id < 3),
        |cand AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |    round(list_sum(list_transform(list_zip(q.qemb, e.embedding), p ->
        |        CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |      / sqrt(list_sum(list_transform(q.qemb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |           * list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS rel,
        |    CAST(e.embedding AS DOUBLE[]) AS emb
        |  FROM q JOIN embeddings e ON e.label = q.label AND e.vec_id <> q.query_id),
        |g AS (
        |  SELECT query_id, list({'score': CAST(0 AS DOUBLE), 'nid': -id,
        |                         'id': id, 'rel': rel, 'emb': emb} ORDER BY id) AS scands
        |  FROM cand WHERE rel IS NOT NULL GROUP BY query_id),
        |sel AS (
        |  SELECT query_id, list_reduce(
        |    [CAST([] AS STRUCT(score DOUBLE, nid BIGINT, id BIGINT, rel DOUBLE, emb DOUBLE[])[])] ||
        |      list_transform(range(1, 5 + 1), i -> scands),
        |    (sel, cs) -> sel || (list_sort(
        |      list_transform(
        |        list_filter(cs, c -> NOT list_contains(list_transform(sel, s -> s.id), c.id)),
        |        c -> {'score': CAST(0.7 AS DOUBLE) * c.rel
        |                - (CAST(1 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * COALESCE(list_max(
        |                    list_transform(sel, s -> round(
        |                      list_sum(list_transform(list_zip(c.emb, s.emb), p -> p[1] * p[2]))
        |                      / sqrt(list_sum(list_transform(c.emb, x -> x * x))
        |                           * list_sum(list_transform(s.emb, x -> x * x))), 6))), CAST(0 AS DOUBLE)),
        |              'nid': c.nid, 'id': c.id, 'rel': c.rel, 'emb': c.emb}),
        |      'DESC'))[1:1]) AS picks
        |  FROM g),
        |ex AS (
        |  SELECT query_id, unnest(list_transform(range(1, len(picks) + 1), i ->
        |    {'step': i, 'id': picks[i].id, 'mmr': round(picks[i].score, 6)})) AS u
        |  FROM sel)
        |SELECT query_id, CAST(u.step AS BIGINT) AS step, u.id AS vec_id, u.mmr AS mmr
        |FROM ex ORDER BY query_id, step""".stripMargin,
    // x116's containment replay + x14's split replay, cross-tabulated
    "x124_split_leakage" ->
      s"""$duckContainmentCtes,
         |$duckContainmentPairCte,
         |asn AS (
         |  SELECT id,
         |    CASE WHEN substr(sha256('split:' || id), 1, 4) < 'c000' THEN 'train'
         |         WHEN substr(sha256('split:' || id), 1, 4) < 'e000' THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM corpus),
         |j AS (
         |  SELECT least(a.split, b.split) AS split_lo,
         |         greatest(a.split, b.split) AS split_hi, p.id_a, p.id_b
         |  FROM pairs p JOIN asn a ON a.id = p.id_a JOIN asn b ON b.id = p.id_b),
         |np AS (SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM j GROUP BY 1, 2),
         |nd AS (SELECT split_lo, split_hi, CAST(count(DISTINCT u) AS BIGINT) AS n_docs
         |       FROM (SELECT split_lo, split_hi, unnest([id_a, id_b]) AS u FROM j) t
         |       GROUP BY 1, 2)
         |SELECT np.split_lo, np.split_hi, n_pairs, n_docs,
         |  np.split_lo <> np.split_hi AS cross_split
         |FROM np JOIN nd USING (split_lo, split_hi)
         |ORDER BY split_lo, split_hi""".stripMargin,
    // contingency MI: counts multiply as doubles, each entropy/MI sum
    // folds in sorted category order (list_sum == the sorted-struct fold)
    "x125_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang AS x, source AS y, CAST(count(*) AS BIGINT) AS c
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |mx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
        |my AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |          CAST(count(*) AS BIGINT) AS n_cells FROM cells),
        |mi AS (
        |  SELECT ROUND(list_sum(list(
        |    (CAST(c AS DOUBLE) / n) *
        |      ln((CAST(c AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy))
        |    ORDER BY x, y)), 6) AS mi
        |  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot),
        |hx AS (
        |  SELECT ROUND(list_sum(list(
        |    -(CAST(cx AS DOUBLE) / n) * ln(CAST(cx AS DOUBLE) / n)
        |    ORDER BY x)), 6) AS hx
        |  FROM mx CROSS JOIN tot),
        |hy AS (
        |  SELECT ROUND(list_sum(list(
        |    -(CAST(cy AS DOUBLE) / n) * ln(CAST(cy AS DOUBLE) / n)
        |    ORDER BY y)), 6) AS hy
        |  FROM my CROSS JOIN tot)
        |SELECT n, n_cells, mi, hx, hy,
        |  CASE WHEN hx > 0 AND hy > 0
        |    THEN ROUND(mi / sqrt(hx * hy), 6) END AS nmi
        |FROM tot, mi, hx, hy""".stripMargin,
    // component labeling + cluster-keyed sha256 split + leakage matrix:
    // every pair's endpoints share a component, so cross_split is
    // all-false — the value check proves the machinery end to end
    "x126_group_split_leakage" ->
      s"""$duckRecursivePairCtes,
         |$duckComponentCtes,
         |asn AS (
         |  SELECT c.id,
         |    CASE WHEN substr(sha256('gsplit:' || COALESCE(g.group_id, c.id)), 1, 4) < 'c000' THEN 'train'
         |         WHEN substr(sha256('gsplit:' || COALESCE(g.group_id, c.id)), 1, 4) < 'e000' THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM corpus c LEFT JOIN comp g ON g.id = c.id),
         |j AS (
         |  SELECT least(a.split, b.split) AS split_lo,
         |         greatest(a.split, b.split) AS split_hi, p.id_a, p.id_b
         |  FROM pairs p JOIN asn a ON a.id = p.id_a JOIN asn b ON b.id = p.id_b),
         |np AS (SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM j GROUP BY 1, 2),
         |nd AS (SELECT split_lo, split_hi, CAST(count(DISTINCT u) AS BIGINT) AS n_docs
         |       FROM (SELECT split_lo, split_hi, unnest([id_a, id_b]) AS u FROM j) t
         |       GROUP BY 1, 2)
         |SELECT np.split_lo, np.split_hi, n_pairs, n_docs,
         |  np.split_lo <> np.split_hi AS cross_split
         |FROM np JOIN nd USING (split_lo, split_hi)
         |ORDER BY split_lo, split_hi""".stripMargin,
    // component sizes -> 1/size weights -> x97's A-Res priority replay
    "x127_cluster_weighted_sample" ->
      s"""$duckRecursivePairCtes,
         |$duckComponentCtes,
         |sized AS (
         |  SELECT c.id, COALESCE(g.group_id, c.id) AS group_key
         |  FROM corpus c LEFT JOIN comp g ON g.id = c.id),
         |cs AS (SELECT group_key, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM sized GROUP BY 1),
         |p AS (
         |  SELECT id, s.group_key, cluster_size,
         |    round(ln((CAST(concat('0x', substr(sha256('cw:' ||
         |        CAST(id AS VARCHAR)), 1, 12)) AS BIGINT) + 1)
         |        / 281474976710656.0)
         |      / (CAST(1 AS DOUBLE) / cluster_size), 9) AS priority
         |  FROM sized s JOIN cs USING (group_key))
         |SELECT id, group_key, cluster_size, priority
         |FROM p
         |ORDER BY priority DESC, id
         |LIMIT 100""".stripMargin,
    // x33's quantize+centroid CTEs, then per-vector cosine argmax
    // (rounded sims, ties to the greatest label) and the confusion agg
    "x128_nearest_centroid" -> duckNearestCentroidSql(""),
    // the injected-null variant: label nulled on every 7th vec,
    // embedding on every 11th — centroids refit over the survivors
    "x173_centroid_null_rows" ->
      duckNearestCentroidSql(" AND vec_id % 7 <> 0 AND vec_id % 11 <> 0"),
    // group counts -> integer-ratio fracs -> ratio-to-target -> shared
    // max normalizer (one IEEE chain per group, no fold ordering)
    "x130_mixture_reweight" ->
      """WITH cnt AS (SELECT lang AS "group", CAST(count(*) AS BIGINT) AS n
        |             FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt),
        |tgt("group", target_frac) AS (VALUES
        |  ('de', CAST(0.2 AS DOUBLE)), ('en', CAST(0.2 AS DOUBLE)),
        |  ('es', CAST(0.2 AS DOUBLE)), ('fr', CAST(0.2 AS DOUBLE)),
        |  ('zh', CAST(0.2 AS DOUBLE))),
        |r AS (SELECT c."group", c.n,
        |        CAST(c.n AS DOUBLE) / t.t AS frac,
        |        COALESCE(g.target_frac, CAST(0 AS DOUBLE)) AS target_frac
        |      FROM cnt c LEFT JOIN tgt g USING ("group") CROSS JOIN tot t),
        |r2 AS (SELECT *, target_frac / frac AS ratio FROM r),
        |mx AS (SELECT max(ratio) AS m FROM r2)
        |SELECT r2."group", n, frac, target_frac, ratio,
        |  CASE WHEN m > 0 THEN ratio / m END AS keep_prob
        |FROM r2 CROSS JOIN mx
        |ORDER BY r2."group"""".stripMargin,
    "x131_source_percentile" ->
      """SELECT doc_id, source, n_chars,
        |  percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pct
        |FROM documents WHERE n_chars IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    // full PCA replay via the shared duckPca1Ctes chain, then the
    // centered projection
    // NB: concatenation, not s-interpolation — an outer stripMargin
    // would re-strip the chain's `||` list-concat lines into `|`
    "x132_principal_axis" ->
      (duckPca1Ctes + "\n" +
        """SELECT e.vec_id,
          |  round(list_sum(list_transform(range(64), i ->
          |    (e.e[i + 1] - mu.mu[i + 1]) * sg.pc[i + 1])), 6) AS proj
          |FROM e CROSS JOIN mu CROSS JOIN sg
          |ORDER BY vec_id""".stripMargin),
    // x132's chain + ONE Hotelling deflation (λ = vᵀCv with the same
    // ascending folds; C ← C − λ·v·vᵀ with left-assoc products), then
    // the identical extract chain on the deflated matrix
    "x133_pca_plane" ->
      (duckPca2Ctes + "\n" +
        """SELECT e.vec_id,
          |  round(list_sum(list_transform(range(64), i ->
          |    (e.e[i + 1] - mu.mu[i + 1]) * sg.pc[i + 1])), 6) AS proj_1,
          |  round(list_sum(list_transform(range(64), i ->
          |    (e.e[i + 1] - mu.mu[i + 1]) * sg2.pc2[i + 1])), 6) AS proj_2
          |FROM e CROSS JOIN mu CROSS JOIN sg CROSS JOIN sg2
          |ORDER BY vec_id""".stripMargin),
    // x124's pair pipeline -> recursive components -> train-frozen
    // component retarget (train wins; else lexicographic min) -> moves
    "x129_split_repair" ->
      s"""${duckContainmentCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$duckContainmentPairCte,
         |$duckComponentCtes,
         |asn AS (
         |  SELECT id,
         |    CASE WHEN substr(sha256('split:' || id), 1, 4) < 'c000' THEN 'train'
         |         WHEN substr(sha256('split:' || id), 1, 4) < 'e000' THEN 'valid'
         |         ELSE 'test' END AS split
         |  FROM corpus),
         |wc AS (SELECT a.id, a.split, COALESCE(g.group_id, a.id) AS key
         |       FROM asn a LEFT JOIN comp g ON g.id = a.id),
         |tgt AS (SELECT key,
         |          CASE WHEN max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) = 1
         |            THEN 'train' ELSE min(split) END AS nsplit
         |        FROM wc GROUP BY key),
         |rep AS (SELECT wc.id, wc.split AS split_orig, t.nsplit AS split
         |        FROM wc JOIN tgt t ON t.key = wc.key)
         |SELECT split_orig, split, CAST(count(*) AS BIGINT) AS n
         |FROM rep GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // full containment-pipeline replay: excerpt corpus -> distinct
    // 3-shingles -> rare-shingle postings (df in [2,4]) -> candidate
    // pairs -> exact containment/Jaccard (integer-ratio doubles)
    "x116_containment_pairs" ->
      s"""$duckContainmentCtes
         |SELECT id_a, id_b,
         |  CAST(i AS DOUBLE) / na AS c_ab,
         |  CAST(i AS DOUBLE) / nb AS c_ba,
         |  CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
         |FROM v
         |WHERE greatest(CAST(i AS DOUBLE) / na, CAST(i AS DOUBLE) / nb) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    // cumulative confusion counts over the per-score table; the window
    // runs on |distinct n_chars| rows on both engines
    "x117_threshold_sweep" ->
      """WITH g AS (
        |  SELECT n_chars AS threshold, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
        |             CAST(sum(np) AS BIGINT) AS pos FROM g),
        |c AS (SELECT threshold,
        |        CAST(sum(np) OVER (ORDER BY threshold DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
        |        CAST(sum(n) OVER (ORDER BY threshold DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pp
        |      FROM g)
        |SELECT threshold, tp, pp - tp AS fp, t.pos - tp AS fn,
        |  t.tot - pp - (t.pos - tp) AS tn,
        |  CAST(tp AS DOUBLE) / pp AS precision,
        |  CAST(tp AS DOUBLE) / t.pos AS recall,
        |  -- pos = 0 -> NULL f1 (the NULL-on-positive-free convention;
        |  -- without the leading WHEN the NULL comparison falls to ELSE 0.0)
        |  CASE WHEN t.pos = 0 THEN NULL
        |    WHEN CAST(tp AS DOUBLE) / pp + CAST(tp AS DOUBLE) / t.pos > 0
        |    THEN 2 * (CAST(tp AS DOUBLE) / pp) * (CAST(tp AS DOUBLE) / t.pos)
        |         / ((CAST(tp AS DOUBLE) / pp) + (CAST(tp AS DOUBLE) / t.pos))
        |    ELSE 0.0 END AS f1
        |FROM c, t
        |ORDER BY threshold DESC""".stripMargin,
    // probe-all over the incrementally-assigned index = exact: the x99
    // brute-force replay at the x118 query batch (vec_id % 101)
    "x118_snapshot_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id % 101 = 0),
        |sims AS (
        |  SELECT q.query_id, b.vec_id AS neighbor_id, CAST(ROUND(
        |    list_sum(list_transform(list_zip(q.qe, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) + CAST(0 AS DOUBLE) AS sim
        |  FROM q, embeddings b),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM sims WHERE sim IS NOT NULL)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rnk <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "x115_incremental_mv_sample" ->
      """WITH p AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type AS key, event_id,
        |    round(ln((CAST(concat('0x', substr(sha256('mv-ares:' ||
        |        CAST(event_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1)
        |        / 281474976710656.0)
        |      / CAST(round(value * 100) AS DOUBLE), 9) AS priority
        |  FROM events
        |  WHERE event_id IS NOT NULL AND value IS NOT NULL
        |    AND round(value * 100) > 0),
        |r AS (SELECT day, key, event_id, priority,
        |        row_number() OVER (PARTITION BY day, key
        |                           ORDER BY priority DESC, event_id) AS rn
        |      FROM p)
        |SELECT day, key, CAST(rn AS BIGINT) AS rank, event_id, priority
        |FROM r WHERE rn <= 5
        |ORDER BY day, key, rank""".stripMargin,
    // full NB replay: token x label counts -> smoothed grid -> ordered
    // per-(doc, label) fold -> explicit argmax (score DESC, label DESC)
    "x114_nb_lang_classify" ->
      (duckNbCtes + ",\n" +
        """r AS (SELECT doc_id, label, score,
          |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, label DESC) AS rn
          |      FROM fs)
          |SELECT doc_id, label AS pred, CAST(ROUND(score, 6) AS DOUBLE) AS score
          |FROM r WHERE rn = 1
          |ORDER BY doc_id""".stripMargin),
    // below-saturation KMV state == the exact distinct set, so the
    // incrementally maintained MV must serve COUNT(DISTINCT) exactly
    "x113_incremental_mv_distinct" ->
      """SELECT CAST(ts AS DATE) AS day, event_type AS key,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY day, key""".stripMargin,
    // probe-all + above-corpus rerank = exact regime: the quantized
    // two-stage pipeline must reproduce the same brute-force replay as
    // x99 (the int8 pre-rank only REORDERS candidates; with nothing cut
    // the exact float re-rank decides everything)
    "x112_ivf_pq_rerank" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id % 97 = 0),
        |sims AS (
        |  SELECT q.query_id, b.vec_id AS neighbor_id, CAST(ROUND(
        |    list_sum(list_transform(list_zip(q.qe, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) + CAST(0 AS DOUBLE) AS sim
        |  FROM q, embeddings b),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM sims WHERE sim IS NOT NULL)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rnk <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // from-scratch rollup == the incrementally-maintained MV (integer
    // cents keep the sum state bit-exact cross-engine)
    "x111_incremental_mv" ->
      """SELECT CAST(ts AS DATE) AS day, event_type AS key,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY day, key""".stripMargin,
    // exact-regime fold == whole-table order statistics (x100's SQL)
    "x110_snapshot_quantiles" ->
      """WITH s AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |           WHERE n_chars IS NOT NULL),
        |o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |             count(*) OVER () AS n
        |      FROM s),
        |qs(qi, q) AS (VALUES (0, 0.1), (1, 0.25), (2, 0.5),
        |                     (3, 0.75), (4, 0.9), (5, 0.99))
        |SELECT CAST(qs.qi AS BIGINT) AS qi, o.v AS value
        |FROM qs JOIN o
        |  ON o.rn = GREATEST(1, CAST(CEIL(CAST(qs.q AS DOUBLE) * o.n) AS BIGINT))
        |ORDER BY qi""".stripMargin,
    // suffix costs via a reverse-running window sum; the chosen start
    // is the minimal user-led position fitting budget + system cost
    "x109_chat_truncation" ->
      """WITH t AS (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'signup' THEN 'system'
        |         WHEN event_type IN ('click', 'view') THEN 'user'
        |         ELSE 'assistant' END AS role,
        |    concat_ws(' ', event_type, COALESCE(props, '')) AS content,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
        |  FROM events),
        |c AS (SELECT user_id, pos, role,
        |        CAST(len(list_filter(string_split(
        |          regexp_replace(trim(content), '\s+', ' ', 'g'), ' '),
        |          x -> len(x) > 0)) AS BIGINT) AS cost
        |      FROM t),
        |sys AS (SELECT user_id,
        |          CAST(COALESCE(sum(cost) FILTER (role = 'system'), 0) AS BIGINT) AS syscost
        |        FROM c GROUP BY user_id),
        |tail AS (SELECT user_id, role, cost,
        |           row_number() OVER (PARTITION BY user_id ORDER BY pos) AS tpos,
        |           sum(cost) OVER (PARTITION BY user_id ORDER BY pos
        |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sufcost,
        |           count(*) OVER (PARTITION BY user_id) AS ntail
        |         FROM c WHERE role <> 'system'),
        |sel AS (SELECT tail.user_id, min(tpos) AS s
        |        FROM tail JOIN sys ON sys.user_id = tail.user_id
        |        WHERE role = 'user' AND sufcost + syscost <= 40
        |        GROUP BY tail.user_id),
        |picked AS (SELECT t2.user_id, t2.tpos AS s, t2.sufcost, t2.ntail
        |           FROM tail t2 JOIN sel ON sel.user_id = t2.user_id
        |                                AND sel.s = t2.tpos)
        |SELECT sys.user_id AS id,
        |  CAST(COALESCE(p.ntail - p.s + 1, 0) AS BIGINT) AS n_kept,
        |  CAST(COALESCE(p.sufcost + sys.syscost, sys.syscost) AS BIGINT) AS tokens_kept,
        |  (p.s IS NOT NULL) AS fits
        |FROM sys LEFT JOIN picked p ON p.user_id = sys.user_id
        |ORDER BY id""".stripMargin,
    // chosen and rejected share every verdict except divergence (a
    // reversed string is blank iff the original is), so the replay is
    // x107's contract + the last-content self-comparison
    "x108_preference_pairs" ->
      """WITH t AS (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'signup' THEN 'system'
        |         WHEN event_type IN ('click', 'view') THEN 'user'
        |         ELSE 'assistant' END AS role,
        |    CASE WHEN value < 5 THEN '' ELSE event_type END AS content,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |tl AS (SELECT user_id, role,
        |         lag(role) OVER (PARTITION BY user_id ORDER BY pos) AS prev,
        |         row_number() OVER (PARTITION BY user_id ORDER BY pos) AS tpos
        |       FROM t WHERE role <> 'system'),
        |tagg AS (SELECT user_id,
        |           CAST(count(*) AS BIGINT) AS n_tail,
        |           count(*) FILTER (prev IS NOT NULL AND role = prev) AS n_adj_same,
        |           min(CASE WHEN tpos = 1 THEN role END) AS first_tail
        |         FROM tl GROUP BY user_id),
        |agg AS (SELECT user_id,
        |          min(CASE WHEN pos = 1 THEN role END) AS first_role,
        |          count(*) FILTER (role = 'system' AND pos > 1) AS sys_late,
        |          min(CASE WHEN pos = n THEN role END) AS last_role,
        |          min(CASE WHEN pos = n THEN content END) AS last_content,
        |          count(*) FILTER (trim(content) = '') AS n_blank
        |        FROM t GROUP BY user_id),
        |v AS (SELECT a.user_id,
        |        (a.first_role IN ('system', 'user') AND a.sys_late = 0
        |           AND COALESCE(g.n_tail, 0) > 0 AND g.first_tail = 'user'
        |           AND g.n_adj_same = 0 AND a.last_role = 'assistant'
        |           AND a.n_blank = 0) AS chat_valid,
        |        (a.last_role = 'assistant'
        |           AND a.last_content <> reverse(a.last_content)) AS div_last
        |      FROM agg a LEFT JOIN tagg g ON g.user_id = a.user_id)
        |SELECT user_id AS id, chat_valid AS chosen_valid,
        |  chat_valid AS rejected_valid, true AS same_prefix,
        |  div_last AS divergent_last,
        |  (chat_valid AND div_last) AS is_valid
        |FROM v ORDER BY id""".stripMargin,
    // the chat contract evaluated relationally over the same ordered
    // turns: window-lagged alternation, position-1 opening, blank scan
    "x107_chat_validation" ->
      """WITH t AS (
        |  SELECT user_id,
        |    CASE WHEN event_type = 'signup' THEN 'system'
        |         WHEN event_type IN ('click', 'view') THEN 'user'
        |         ELSE 'assistant' END AS role,
        |    CASE WHEN value < 5 THEN '' ELSE event_type END AS content,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |tl AS (SELECT user_id, role,
        |         lag(role) OVER (PARTITION BY user_id ORDER BY pos) AS prev,
        |         row_number() OVER (PARTITION BY user_id ORDER BY pos) AS tpos
        |       FROM t WHERE role <> 'system'),
        |tagg AS (SELECT user_id,
        |           CAST(count(*) AS BIGINT) AS n_tail,
        |           count(*) FILTER (prev IS NOT NULL AND role = prev) AS n_adj_same,
        |           min(CASE WHEN tpos = 1 THEN role END) AS first_tail
        |         FROM tl GROUP BY user_id),
        |agg AS (SELECT user_id,
        |          CAST(count(*) AS BIGINT) AS n_turns,
        |          CAST(count(*) FILTER (role = 'assistant') AS BIGINT) AS n_assistant,
        |          min(CASE WHEN pos = 1 THEN role END) AS first_role,
        |          count(*) FILTER (role = 'system' AND pos > 1) AS sys_late,
        |          min(CASE WHEN pos = n THEN role END) AS last_role,
        |          count(*) FILTER (trim(content) = '') AS n_blank
        |        FROM t GROUP BY user_id)
        |SELECT a.user_id AS id, a.n_turns, a.n_assistant,
        |  true AS parse_ok,
        |  (a.first_role IN ('system', 'user') AND a.sys_late = 0) AS starts_ok,
        |  (COALESCE(g.n_tail, 0) > 0 AND g.first_tail = 'user'
        |     AND g.n_adj_same = 0) AS alternates_ok,
        |  (a.last_role = 'assistant') AS ends_ok,
        |  (a.n_blank = 0) AS content_ok,
        |  true AS roles_ok,
        |  (a.first_role IN ('system', 'user') AND a.sys_late = 0
        |     AND COALESCE(g.n_tail, 0) > 0 AND g.first_tail = 'user'
        |     AND g.n_adj_same = 0 AND a.last_role = 'assistant'
        |     AND a.n_blank = 0) AS is_valid
        |FROM agg a LEFT JOIN tagg g ON g.user_id = a.user_id
        |ORDER BY id""".stripMargin,
    // x19's brute-force replay with the band filter before the rank cut
    "x106_hard_negatives" ->
      """WITH sims AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, CAST(ROUND(
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) + CAST(0 AS DOUBLE) AS sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id <> b.vec_id),
        |banded AS (SELECT * FROM sims
        |           WHERE sim IS NOT NULL AND sim >= 0.2 AND sim < 0.8),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM banded)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rnk <= 2
        |ORDER BY query_id, rank""".stripMargin,
    // positions = row_number over the (48-bit salted hash, id) total
    // order; negatives = hex-prefix hash of 'anchor#j' mod N resolved
    // through those positions — every ingredient replayed exactly
    "x105_negative_sample" ->
      """WITH ids AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id IS NOT NULL),
        |pos AS (SELECT doc_id, CAST(row_number() OVER (
        |          ORDER BY substr(sha256('negx105:pos:' || CAST(doc_id AS VARCHAR)), 1, 12),
        |                   doc_id) - 1 AS BIGINT) AS pos
        |        FROM ids),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ids),
        |cands AS (
        |  SELECT ids.doc_id AS anchor, js.j,
        |    CAST(concat('0x', substr(sha256('negx105:neg:' ||
        |      CAST(ids.doc_id AS VARCHAR) || '#' || CAST(js.j AS VARCHAR)),
        |      1, 12)) AS BIGINT) % nn.n AS negpos
        |  FROM ids, nn, (SELECT unnest(range(3)) AS j) js)
        |SELECT c.anchor, CAST(c.j AS BIGINT) AS j, p.doc_id AS negative
        |FROM cands c JOIN pos p ON p.pos = c.negpos
        |WHERE p.doc_id <> c.anchor
        |ORDER BY anchor, j""".stripMargin,
    // bin shares replayed cell-for-cell; (hi-lo)/nBins = 50 exactly, so
    // the floor-bin arithmetic is the same IEEE division on both sides
    "x104_numeric_drift" ->
      """WITH cells AS (
        |  SELECT event_type,
        |    LEAST(GREATEST(CAST(FLOOR(CAST(value AS DOUBLE) / CAST(50 AS DOUBLE)) AS INT), 0), 9) AS bin,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM events WHERE value IS NOT NULL
        |  GROUP BY 1, 2),
        |pooled AS (SELECT bin, CAST(sum(o) AS BIGINT) AS pool FROM cells GROUP BY bin),
        |totals AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS n FROM cells GROUP BY event_type),
        |grand AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells),
        |grid AS (
        |  SELECT totals.event_type, totals.n, pooled.bin, pooled.pool,
        |         COALESCE(cells.o, 0) AS o, grand.t
        |  FROM totals CROSS JOIN pooled
        |  LEFT JOIN cells ON cells.event_type = totals.event_type
        |                 AND cells.bin = pooled.bin
        |  CROSS JOIN grand),
        |terms AS (
        |  SELECT event_type, n,
        |    CASE WHEN o > 0 THEN CAST(o AS DOUBLE) / n
        |         ELSE CAST(1e-6 AS DOUBLE) END AS p,
        |    CAST(pool AS DOUBLE) / t AS q
        |  FROM grid)
        |SELECT event_type, n, round(sum((p - q) * ln(p / q)), 6) AS psi
        |FROM terms GROUP BY event_type, n ORDER BY event_type""".stripMargin,
    // x83's 8-round learn chain carrying the word key through, then the
    // word→final-sequence mapping joins back to per-doc word lists —
    // merge order, fold semantics and the doc-level rollup all checked
    "x103_bpe_encode" -> {
      val rounds = 8
      val steps = (1 to rounds).map { r =>
        val prev = s"s${r - 1}"
        s"""p$r AS MATERIALIZED (SELECT p[1] AS l, p[2] AS r2, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq, unnest(list_zip(ll, ll[2:])) AS p
           |        FROM (SELECT freq, string_split(trim(seq), ' ') AS ll FROM $prev) t1) t2
           |  WHERE p[2] IS NOT NULL
           |  GROUP BY 1, 2 HAVING sum(freq) >= 2),
           |m$r AS MATERIALIZED (SELECT l, r2, cnt FROM p$r ORDER BY cnt DESC, l, r2 LIMIT 1),
           |s$r AS MATERIALIZED (SELECT w, freq, ' ' || list_reduce(
           |    string_split(trim(seq), ' '),
           |    (acc, x) -> CASE WHEN x = mr AND (acc = ml OR right(acc, length(ml)+1) = ' ' || ml)
           |                THEN left(acc, length(acc) - length(ml)) || ml || mr
           |                ELSE acc || ' ' || x END) || ' ' AS seq
           |  FROM $prev, (SELECT l AS ml, r2 AS mr FROM m$r) mm$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH words AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split(
         |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
         |    FROM documents) t
         |  WHERE length(w) > 0 GROUP BY w),
         |s0 AS MATERIALIZED (SELECT w, freq,
         |         ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS seq
         |       FROM words),
         |$steps,
         |dw AS (SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split(
         |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
         |    FROM documents) t WHERE length(w) > 0)
         |SELECT dw.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(dw.w)) AS BIGINT) AS n_chars_tokenized,
         |  CAST(sum(len(string_split(trim(s$rounds.seq), ' '))) AS BIGINT) AS n_tokens
         |FROM dw JOIN s$rounds ON s$rounds.w = dw.w
         |GROUP BY dw.doc_id
         |ORDER BY dw.doc_id""".stripMargin
    },
    // x76's chained-CTE replay with the teleport swapped for the
    // source indicator; rank-0 (unreachable) rows pruned both sides
    "x102_personalized_pagerank" ->
      """WITH edges AS (
        |  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
        |r0 AS (SELECT node,
        |         CASE WHEN node = 1 THEN CAST(1 AS DOUBLE) ELSE 0.0 END AS rank
        |       FROM nodes),
        |s1 AS (SELECT e.dst AS node, sum(r.rank / o.od) AS inflow
        |       FROM edges e JOIN outdeg o ON o.src = e.src
        |       JOIN r0 r ON r.node = e.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.node,
        |         CASE WHEN nodes.node = 1 THEN 1.0 - CAST(0.85 AS DOUBLE) ELSE 0.0 END
        |           + CAST(0.85 AS DOUBLE) * coalesce(s1.inflow, 0.0) AS rank
        |       FROM nodes LEFT JOIN s1 ON s1.node = nodes.node),
        |s2 AS (SELECT e.dst AS node, sum(r.rank / o.od) AS inflow
        |       FROM edges e JOIN outdeg o ON o.src = e.src
        |       JOIN r1 r ON r.node = e.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.node,
        |         CASE WHEN nodes.node = 1 THEN 1.0 - CAST(0.85 AS DOUBLE) ELSE 0.0 END
        |           + CAST(0.85 AS DOUBLE) * coalesce(s2.inflow, 0.0) AS rank
        |       FROM nodes LEFT JOIN s2 ON s2.node = nodes.node),
        |s3 AS (SELECT e.dst AS node, sum(r.rank / o.od) AS inflow
        |       FROM edges e JOIN outdeg o ON o.src = e.src
        |       JOIN r2 r ON r.node = e.src GROUP BY e.dst),
        |r3 AS (SELECT nodes.node,
        |         CASE WHEN nodes.node = 1 THEN 1.0 - CAST(0.85 AS DOUBLE) ELSE 0.0 END
        |           + CAST(0.85 AS DOUBLE) * coalesce(s3.inflow, 0.0) AS rank
        |       FROM nodes LEFT JOIN s3 ON s3.node = nodes.node)
        |SELECT node, round(rank, 8) AS rank FROM r3
        |WHERE round(rank, 8) > 0
        |ORDER BY node""".stripMargin,
    // gaps-and-islands: break when the gap REACHES 30 min (half-open
    // session windows), cumulative-sum the breaks into session ids
    "x101_session_windows" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (SELECT user_id, ts,
        |        sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                       ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM e)
        |SELECT user_id, min(ts) AS s_start,
        |  max(ts) + INTERVAL 30 MINUTE AS s_end,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,
    // exact-regime KLL = plain order statistics; q CAST to DOUBLE so
    // the ⌈q·n⌉ rank arithmetic is the same IEEE product on both sides
    // (a DECIMAL q would round differently at representation edges)
    "x100_kll_quantiles" ->
      """WITH s AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |           WHERE n_chars IS NOT NULL),
        |o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |             count(*) OVER () AS n
        |      FROM s),
        |qs(qi, q) AS (VALUES (0, 0.1), (1, 0.25), (2, 0.5),
        |                     (3, 0.75), (4, 0.9), (5, 0.99))
        |SELECT CAST(qs.qi AS BIGINT) AS qi, o.v AS v
        |FROM qs JOIN o
        |  ON o.rn = GREATEST(1, CAST(CEIL(CAST(qs.q AS DOUBLE) * o.n) AS BIGINT))
        |ORDER BY qi""".stripMargin,
    // probe-all IVF batch is exact (see the query's note) → oracle is
    // the per-query brute-force scan, x19's arithmetic; queries keep
    // their own corpus row (separate-namespace contract → self at 1.0)
    "x99_ivf_batch_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id % 97 = 0),
        |sims AS (
        |  SELECT q.query_id, b.vec_id AS neighbor_id, CAST(ROUND(
        |    list_sum(list_transform(list_zip(q.qe, b.embedding), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |    / sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) + CAST(0 AS DOUBLE) AS sim
        |  FROM q, embeddings b),
        |ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM sims WHERE sim IS NOT NULL)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, sim
        |FROM ranked WHERE rnk <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // UNION (not ALL) recursion: the accumulated (node, depth) set
    // dedups, so the replay is node×depth-bounded instead of
    // path-enumerating — matches BFS min-hop semantics under the
    // final GROUP BY exactly
    "x98_bfs_distances" ->
      """WITH RECURSIVE cp AS (
        |  SELECT DISTINCT o_custkey AS c, l_suppkey * 10000000 + l_partkey AS sp
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        |e AS (SELECT DISTINCT a.c AS src, b.c AS dst
        |      FROM cp a JOIN cp b ON a.sp = b.sp AND a.c <> b.c),
        |rec AS (
        |  SELECT CAST(7 AS BIGINT) AS node, 0 AS depth
        |  UNION
        |  SELECT e.dst AS node, rec.depth + 1 AS depth
        |  FROM rec JOIN e ON e.src = rec.node
        |  WHERE rec.depth < 3)
        |SELECT node, CAST(min(depth) AS BIGINT) AS hops
        |FROM rec GROUP BY node
        |ORDER BY hops, node""".stripMargin,
    "x97_priority_sample" ->
      """WITH p AS (
        |  SELECT doc_id, source, n_chars,
        |    round(ln((CAST(concat('0x', substr(sha256('ares:' ||
        |        CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1)
        |        / 281474976710656.0)
        |      / CAST(n_chars AS DOUBLE), 9) AS priority
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND n_chars > 0)
        |SELECT doc_id, source, n_chars, priority
        |FROM p
        |ORDER BY priority DESC, doc_id
        |LIMIT 100""".stripMargin, // driver sorts rows before hashing,
        // so the Spark side's doc_id presentation order is immaterial
    "x96_share_of_total" ->
      """WITH m AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |    CAST(month(o_orderdate) AS BIGINT) AS m,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)
        |        + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT y, m, CAST(cents AS DOUBLE) / CAST(100 AS DOUBLE) AS rev,
        |  round(CAST(cents AS DOUBLE)
        |        / CAST(sum(cents) OVER (PARTITION BY y) AS DOUBLE), 6) AS share
        |FROM m ORDER BY y, m""".stripMargin,
    "x94_transition_matrix" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |tr AS (SELECT prev_type, event_type AS next_type,
        |         CAST(count(*) AS BIGINT) AS n
        |       FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |o AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_out
        |      FROM tr GROUP BY prev_type)
        |SELECT tr.prev_type, tr.next_type, tr.n,
        |  CAST(tr.n AS DOUBLE) / o.n_out AS p
        |FROM tr JOIN o USING (prev_type)
        |ORDER BY prev_type, next_type""".stripMargin,
    "x95_skew_report" ->
      """WITH c AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
        |           FROM lineitem GROUP BY 1),
        |r AS (SELECT cnt, l_suppkey,
        |        row_number() OVER (ORDER BY cnt, l_suppkey) AS i FROM c),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |        CAST(sum(cnt) AS BIGINT) AS total,
        |        CAST(max(cnt) AS BIGINT) AS max_cnt,
        |        CAST(sum(i * cnt) AS BIGINT) AS iwsum FROM r)
        |SELECT n_keys,
        |  CAST(max_cnt AS DOUBLE) / total AS max_share,
        |  CAST(2 AS DOUBLE) * iwsum / (n_keys * total)
        |    - CAST(n_keys + 1 AS DOUBLE) / n_keys AS gini
        |FROM a""".stripMargin,
    "x92_table_profile" ->
      """WITH p AS (
        |  SELECT 'event_id' AS "column", CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(*) - count(event_id) AS BIGINT) AS n_null,
        |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
        |  FROM events
        |  UNION ALL
        |  SELECT 'user_id', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(user_id) AS BIGINT),
        |    CAST(count(DISTINCT user_id) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'event_type', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(event_type) AS BIGINT),
        |    CAST(count(DISTINCT event_type) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'value', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(value) AS BIGINT),
        |    CAST(count(DISTINCT value) AS BIGINT) FROM events
        |  UNION ALL
        |  SELECT 'props', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(props) AS BIGINT),
        |    CAST(count(DISTINCT props) AS BIGINT) FROM events)
        |SELECT "column", n, n_null, n_distinct,
        |  CAST(n_null AS DOUBLE) / n AS null_frac
        |FROM p ORDER BY "column"""".stripMargin,
    // chained greedy stages: earliest anchor, each next step the
    // earliest qualifying event, all within the anchor window
    "x90_window_funnel" ->
      """WITH e AS (
        |  SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
        |    event_type AS et
        |  FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, s1.t1, min(e.t) AS t2
        |       FROM s1 LEFT JOIN e ON e.user_id = s1.user_id AND e.et = 'click'
        |         AND e.t > s1.t1 AND e.t <= s1.t1 + 604800
        |       GROUP BY s1.user_id, s1.t1),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2, min(e.t) AS t3
        |       FROM s2 LEFT JOIN e ON e.user_id = s2.user_id AND e.et = 'purchase'
        |         AND s2.t2 IS NOT NULL AND e.t > s2.t2 AND e.t <= s2.t1 + 604800
        |       GROUP BY s2.user_id, s2.t1, s2.t2)
        |SELECT user_id, t1,
        |  CAST(1 + (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END)
        |         + (CASE WHEN t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS steps_completed
        |FROM s3 ORDER BY user_id""".stripMargin,
    "x91_retention" ->
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 604800 AS p
        |  FROM events),
        |f AS (SELECT user_id, min(p) AS cp FROM b GROUP BY user_id),
        |sz AS (SELECT cp, CAST(count(*) AS BIGINT) AS cohort_size FROM f GROUP BY cp),
        |a AS (SELECT DISTINCT user_id, p FROM b),
        |act AS (SELECT f.cp, a.p - f.cp AS off, CAST(count(*) AS BIGINT) AS n_active
        |        FROM a JOIN f USING (user_id)
        |        WHERE a.p - f.cp BETWEEN 0 AND 3 GROUP BY 1, 2)
        |SELECT act.cp * 604800 AS cohort, CAST(act.off AS BIGINT) AS "offset",
        |  act.n_active, sz.cohort_size,
        |  round(CAST(act.n_active AS DOUBLE) / sz.cohort_size * 100, 4) AS pct
        |FROM act JOIN sz USING (cp)
        |ORDER BY cohort, "offset"""".stripMargin,
    // integer-sqrt weights, the same (T*w)/(sumW*n) association order,
    // x42's sha256 threshold form
    "x89_temperature_sample" ->
      """WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY 1),
        |w AS (SELECT source, c,
        |        CAST(floor(sqrt(CAST(c AS DOUBLE))) AS BIGINT) AS wt FROM n),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_rows,
        |          CAST(sum(wt) AS BIGINT) AS sum_w FROM w),
        |f AS (
        |  SELECT source,
        |    least(CAST(1 AS DOUBLE),
        |      CAST(CAST(floor(CAST(0.3 AS DOUBLE) * t_rows) AS BIGINT) * wt AS DOUBLE)
        |        / CAST(sum_w * c AS DOUBLE)) AS rate
        |  FROM w, tot)
        |SELECT d.doc_id, d.source, f.rate
        |FROM documents d JOIN f USING (source)
        |WHERE substr(sha256('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 12) <
        |      CASE WHEN f.rate >= 1.0 THEN 'g'
        |           ELSE printf('%012x',
        |                  CAST(greatest(0, floor(f.rate * 281474976710656.0)) AS BIGINT))
        |      END
        |ORDER BY d.doc_id""".stripMargin,
    // whole-table KMV replica: the per-commit fold must equal this by
    // the bottom-k-of-union law, bit for bit
    "x88_snapshot_sketch" ->
      """WITH h AS (
        |  SELECT DISTINCT
        |    CAST(concat('0x', substr(sha256('kmv:' || CAST(o_custkey AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM orders WHERE o_custkey IS NOT NULL),
        |r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS k_used,
        |        max(CASE WHEN rn = 256 THEN h END) AS h256
        |      FROM r WHERE rn <= 256),
        |x AS (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact FROM orders)
        |SELECT k.k_used,
        |  CASE WHEN k.k_used < 256 THEN CAST(k.k_used AS DOUBLE)
        |       ELSE CAST(255 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |            / CAST(k.h256 AS DOUBLE) END AS distinct_est,
        |  x.n_exact
        |FROM k, x""".stripMargin,
    "x71_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(concat('0x', substr(sha256('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT event_type, h,
        |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |      FROM h),
        |k AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k_used,
        |        max(CASE WHEN rn = 64 THEN h END) AS h64
        |      FROM r WHERE rn <= 64 GROUP BY event_type),
        |x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        |      FROM events GROUP BY event_type)
        |SELECT k.event_type, k.k_used,
        |  CASE WHEN k.k_used < 64 THEN CAST(k.k_used AS DOUBLE)
        |       ELSE CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE)
        |            / CAST(k.h64 AS DOUBLE) END AS distinct_est,
        |  x.n_exact
        |FROM k JOIN x USING (event_type)
        |ORDER BY event_type""".stripMargin,
    // 64-bit portable SimHash (16 sha256 hex chars → per-bit ±1 vote
    // sums → sign bits, UBIGINT domain so bit 63 carries no sign),
    // then the operator's exact pairing protocol: block on the top 16
    // bits, drop buckets outside [2, 1000], pair id_a < id_b within a
    // bucket, keep Hamming <= 3. The 64 vote columns are generated by
    // the same loop as the Spark side.
    "x70_simhash64_oracled" -> {
      val voteCols = (0 until 64).map { b =>
        val hexPos = b / 4 + 1
        val bitPos = b % 4
        s"SUM(CASE WHEN (((instr('0123456789abcdef', substr(h, $hexPos, 1)) - 1) " +
          s">> $bitPos) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
      }.mkString(", ")
      val fpExpr = (0 until 64).map { b =>
        val pow = java.lang.Long.toUnsignedString(1L << b)
        s"(CASE WHEN v$b > 0 THEN CAST($pow AS UBIGINT) ELSE CAST(0 AS UBIGINT) END)"
      }.mkString(" + ")
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents),
         |tok AS (
         |  SELECT doc_id AS id, unnest(string_split(
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS tok
         |  FROM corpus),
         |h AS (SELECT id, substr(sha256(tok), 1, 16) AS h FROM tok),
         |v AS (SELECT id, $voteCols FROM h GROUP BY id),
         |fp AS (SELECT id, $fpExpr AS fp FROM v),
         |blk AS (SELECT id, fp, fp >> 48 AS bh FROM fp),
         |ok AS (
         |  SELECT blk.id, blk.fp, blk.bh FROM blk
         |  JOIN (SELECT bh, count(*) AS n FROM blk GROUP BY bh) c USING (bh)
         |  WHERE c.n BETWEEN 2 AND 1000)
         |SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
         |FROM ok a JOIN ok b ON a.bh = b.bh AND a.id < b.id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    },
    // final state = mod-5 slice at new prices ∪ mod-3-only slice at
    // original prices (2-decimal doubles round stably at 2dp)
    "x68_snapshot_upsert" ->
      """SELECT o_orderkey,
        |  CAST(round(o_totalprice + 1000, 2) AS DOUBLE) AS price
        |FROM orders WHERE o_orderkey % 5 = 0
        |UNION ALL
        |SELECT o_orderkey, CAST(round(o_totalprice, 2) AS DOUBLE)
        |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    // content must survive compaction bit-identically (both tags cover
    // ALL orders — the three mod-3 slices partition the table) and the
    // dir counts are fixed by the protocol: 3 batch commits → 1 merged
    // dir; a replayed absorbed batch adds nothing
    "x67_compaction" ->
      """SELECT 'after_compact' AS tag, CAST(1 AS BIGINT) AS n_dirs,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |UNION ALL
        |SELECT 'before_compact', CAST(3 AS BIGINT),
        |  CAST(count(*) AS BIGINT), CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders
        |ORDER BY tag""".stripMargin,
    // both feeds from the same fixture slices: live = keys ≡ 0,1 (mod
    // 3); the delete removes keys ending in 3 from the live set only
    "x63_delete_where" ->
      """SELECT 'after_delete' AS tag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 10 <> 3
        |UNION ALL
        |SELECT 'before_delete', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |ORDER BY tag""".stripMargin,
    // unigram frequencies over the whole corpus; per-doc mean ln(p) in
    // POSITION order (ordered list_sum == Spark's sorted l2r fold);
    // round(6) absorbs the <=1-ulp libm ln divergence
    "x62_unigram_score" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |e AS (
        |  SELECT doc_id, unnest(range(0, len(toks))) AS pos, unnest(toks) AS tok
        |  FROM t),
        |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY tok),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM f),
        |j AS (
        |  SELECT e.doc_id, e.pos, f.cnt, ln(f.cnt / CAST(tot.total AS DOUBLE)) AS lp
        |  FROM e JOIN f USING (tok), tot),
        |g AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(cnt) AS BIGINT) AS sum_tok_freq,
        |    list_sum(list(lp ORDER BY pos)) AS sum_lp
        |  FROM j GROUP BY doc_id)
        |SELECT doc_id, n_tokens, sum_tok_freq,
        |  CAST(ROUND(sum_lp / n_tokens, 6) AS DOUBLE) AS score
        |FROM g ORDER BY doc_id""".stripMargin,
    // sliding 8-token windows (shinglesOfTokens contract incl. the
    // short-doc whole-text window), df >= 2 filter, covered-position
    // expansion range(s, s+8), rebuild from uncovered positions
    "x61_repeated_span_removal" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) <= 8 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(0, len(toks) - 8 + 1),
        |                i -> array_to_string(toks[i+1:i+8], ' ')) END AS shs
        |  FROM t),
        |e AS (
        |  SELECT doc_id, unnest(range(0, len(shs))) AS s, unnest(shs) AS sh
        |  FROM s),
        |r AS (SELECT sh FROM e GROUP BY sh HAVING count(*) >= 2),
        |cov AS (
        |  SELECT doc_id, list_distinct(flatten(list(range(s, s + 8)))) AS cov
        |  FROM e WHERE sh IN (SELECT sh FROM r)
        |  GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CASE WHEN cov.cov IS NULL THEN array_to_string(t.toks, ' ')
        |       -- COALESCE: DuckDB array_to_string([]) is NULL, Spark
        |       -- concat_ws of an empty array is '' (fully-excised doc)
        |       ELSE COALESCE(array_to_string(list_transform(
        |         list_sort(list_filter(range(0, len(t.toks)),
        |           p -> NOT list_contains(cov.cov, p))),
        |         p -> t.toks[p+1]), ' '), '') END AS clean
        |FROM t LEFT JOIN cov USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // same seeded planes inlined as literals; one UNION branch per
    // component, dot in list order, scale + round identical to Spark
    "x60_random_projection" -> {
      val planes = Similarity.hyperplanes(8, 64)
      planes.zipWithIndex.map { case (p, j) =>
        s"""SELECT vec_id, CAST($j AS BIGINT) AS component,
           |  CAST(ROUND(${duckDot("embedding", p)} / sqrt(8.0), 6) AS DOUBLE) AS value
           |FROM embeddings""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY vec_id, component")
    },
    // the kernel (xxhash64) pipeline's pair set equals the portable
    // pipeline's at production parameters — same oracle as x13
    "x59_kernel_minhash_oracled" ->
      (duckPortablePairCtesAt(64, 16, 0.9) + "\n" +
        """SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b"""),
    // the three feeds recomputed from the same fixture slices the
    // commits were built from: v1 = keys ≡ 0 (mod 3), the change feed
    // = exactly v2's appended slice (≡ 1), latest = both
    "x58_time_travel" ->
      """SELECT 'changes_v1_v2' AS tag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT 'v1_snapshot', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'v2_snapshot', CAST(count(*) AS BIGINT),
        |  CAST(sum(o_orderkey) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |ORDER BY tag""".stripMargin,
    "q18_subquery_family" ->
      """SELECT o.o_orderkey, o.o_totalprice,
        |  (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey) AS n_lines
        |FROM orders o
        |WHERE o.o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_returnflag = 'R')
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey
        |                    AND l.l_quantity > 49)
        |ORDER BY o.o_orderkey""".stripMargin,
    // online dedup rule over the shared pair CTEs: index = even
    // original ids; a batch doc drops iff it is some pair's id_b, or
    // an id_a whose (higher) partner is an index doc
    "x50_incremental_dedup" ->
      s"""$duckPortablePairCtes
         |SELECT c.id AS doc_id
         |FROM corpus c
         |WHERE NOT (c.id < 1000000 AND c.id % 2 = 0)
         |  AND NOT EXISTS (SELECT 1 FROM pairs p WHERE p.id_b = c.id)
         |  AND NOT EXISTS (SELECT 1 FROM pairs p
         |                  WHERE p.id_a = c.id
         |                    AND p.id_b < 1000000 AND p.id_b % 2 = 0)
         |ORDER BY doc_id""".stripMargin,
    // unigram/bigram counts over the x15 token stream; lift mirrors
    // Spark's left-to-right spelling exactly; M counts bigrams BEFORE
    // the frequency threshold
    "x49_collocations" ->
      """WITH toks AS (
        |  SELECT string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
        |  FROM documents),
        |uni AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c_w
        |  FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(len(w)) AS DOUBLE) AS n_tok,
        |         CAST(SUM(greatest(len(w) - 1, 0)) AS DOUBLE) AS n_big
        |  FROM toks),
        |big AS (
        |  SELECT pair, CAST(count(*) AS BIGINT) AS c_ab FROM (
        |    SELECT unnest(list_transform(range(1, len(w)),
        |                                 i -> w[i] || ' ' || w[i+1])) AS pair
        |    FROM toks WHERE len(w) >= 2)
        |  GROUP BY 1
        |  HAVING count(*) >= 5),
        |sel AS (
        |  SELECT pair, string_split(pair, ' ')[1] AS w1,
        |    string_split(pair, ' ')[2] AS w2, c_ab
        |  FROM big)
        |SELECT s.pair, s.w1, s.w2, s.c_ab, ua.c_w AS c_a, ub.c_w AS c_b,
        |  s.c_ab / t.n_big * t.n_tok / ua.c_w * t.n_tok / ub.c_w AS lift
        |FROM sel s
        |JOIN uni ua ON ua.w = s.w1
        |JOIN uni ub ON ub.w = s.w2, tot t
        |ORDER BY lift DESC, pair
        |LIMIT 50""".stripMargin,
    // per-source rollup over the shared quality CTEs; the dup term is
    // count(*) - count(DISTINCT md5(normalized text)); every fraction
    // is bigint/bigint (double division in both engines)
    "x48_source_gate" ->
      s"""$duckTextMetricCtes,
        |q AS (SELECT doc_id, $duckQualityExpr AS quality FROM m),
        |h AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS ch
        |  FROM documents),
        |g AS (
        |  SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_good,
        |    CAST(count(*) - count(DISTINCT ch) AS BIGINT) AS n_dup
        |  FROM h JOIN q USING (doc_id)
        |  GROUP BY source)
        |SELECT source, n_docs, n_good,
        |  n_good / n_docs AS good_frac,
        |  n_dup,
        |  n_dup / n_docs AS dup_frac,
        |  n_docs >= 3 AND n_good / n_docs >= 0.5 AND n_dup / n_docs <= 0.2
        |    AS admit
        |FROM g ORDER BY source""".stripMargin,
    // shared component labeling; the split replays x14's sha256
    // threshold scheme keyed on the GROUP representative
    "x47_leakproof_split" ->
      s"""$duckRecursivePairCtes,
         |$duckComponentCtes,
         |lab AS (
         |  SELECT c.id, COALESCE(g.group_id, c.id) AS group_id
         |  FROM corpus c LEFT JOIN comp g USING (id))
         |SELECT id AS doc_id, group_id,
         |  CASE WHEN substr(sha256('split:' || group_id), 1, 4) < 'c000'
         |         THEN 'train'
         |       WHEN substr(sha256('split:' || group_id), 1, 4) < 'e000'
         |         THEN 'valid'
         |       ELSE 'test' END AS split
         |FROM lab ORDER BY doc_id""".stripMargin,
    // x45/x46 share x44's CTE base; the ffill is one IGNORE NULLS
    // running last_value (current row included — at observed bins it IS
    // the bin's own n). Window sums run over integer-valued doubles, so
    // frame-algorithm differences between engines cannot shift a bit.
    "x45_rolling_features" ->
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(epoch(date_trunc('second', ts)) AS BIGINT) / 600)
        |      AS BIGINT) AS bin,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(bin) AS lo, max(bin) AS hi FROM r GROUP BY 1),
        |spine AS (
        |  SELECT event_type, unnest(generate_series(lo, hi)) AS bin FROM b),
        |j AS (
        |  SELECT s.event_type, s.bin, r.n
        |  FROM spine s LEFT JOIN r USING (event_type, bin)),
        |g AS (
        |  SELECT event_type, bin,
        |    last_value(n IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        |  FROM j)
        |SELECT event_type, bin, v AS n,
        |  lag(v) OVER w1 AS lag_1,
        |  v - lag(v) OVER w1 AS delta,
        |  SUM(v) OVER wt AS roll_sum,
        |  CAST(COUNT(v) OVER wt AS BIGINT) AS roll_cnt,
        |  SUM(v) OVER wt / COUNT(v) OVER wt AS roll_avg,
        |  MIN(v) OVER wt AS roll_min,
        |  MAX(v) OVER wt AS roll_max
        |FROM g
        |WINDOW w1 AS (PARTITION BY event_type ORDER BY bin),
        |       wt AS (PARTITION BY event_type ORDER BY bin
        |              ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, bin""".stripMargin,
    // z mirrors Spark's exact spelling (c·v − s)/sqrt(c·q − s²); the
    // zero-variance "infinite z" case flags is_anomaly with z null
    "x46_anomaly_score" ->
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(epoch(date_trunc('second', ts)) AS BIGINT) / 600)
        |      AS BIGINT) AS bin,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(bin) AS lo, max(bin) AS hi FROM r GROUP BY 1),
        |spine AS (
        |  SELECT event_type, unnest(generate_series(lo, hi)) AS bin FROM b),
        |j AS (
        |  SELECT s.event_type, s.bin, r.n
        |  FROM spine s LEFT JOIN r USING (event_type, bin)),
        |g AS (
        |  SELECT event_type, bin,
        |    last_value(n IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        |  FROM j),
        |a AS (
        |  SELECT event_type, bin, v,
        |    SUM(v) OVER wh AS s,
        |    SUM(v * v) OVER wh AS q,
        |    CAST(COUNT(v) OVER wh AS DOUBLE) AS c
        |  FROM g
        |  WINDOW wh AS (PARTITION BY event_type ORDER BY bin
        |                ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)),
        |zc AS (SELECT event_type, bin, v, s, c, c * q - s * s AS vt FROM a)
        |SELECT event_type, bin, v AS n,
        |  CASE WHEN c >= 2 AND vt > 0 THEN (c * v - s) / sqrt(vt) END AS z,
        |  COALESCE(CASE WHEN c >= 2 AND vt > 0
        |             THEN abs((c * v - s) / sqrt(vt)) > CAST(3 AS DOUBLE) END,
        |           FALSE)
        |    OR COALESCE(c >= 2 AND vt = 0 AND c * v - s <> 0, FALSE)
        |    AS is_anomaly
        |FROM zc
        |ORDER BY event_type, bin""".stripMargin,
    // the curation verdict joins four signals, all over the shared
    // text-metric CTEs: quality/lang from m, repetition grams and the
    // OOV join from p.ltoks (same normalized token stream as the Spark
    // side's TextDedup.tokens)
    "x40_curation_pipeline" ->
      s"""$duckTextMetricCtes,
        |lq AS (
        |  SELECT doc_id, $duckQualityExpr AS quality,
        |    $duckLangExpr AS lang_guess
        |  FROM m),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(ltoks) <= 3 THEN [array_to_string(ltoks, ' ')]
        |         ELSE list_transform(range(0, len(ltoks) - 3 + 1),
        |                i -> array_to_string(ltoks[i+1:i+3], ' '))
        |    END AS g
        |  FROM p),
        |rep AS (
        |  SELECT doc_id,
        |    CAST(1 AS DOUBLE) - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
        |      AS dup_ngram_frac
        |  FROM grams),
        |tok AS (SELECT doc_id, unnest(ltoks) AS tok FROM p),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT tok AS token, count(*) AS cnt FROM tok
        |    GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30)),
        |oov AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS oov_rate
        |  FROM tok t LEFT JOIN vocab v ON t.tok = v.token
        |  GROUP BY doc_id)
        |SELECT lq.doc_id, quality, lang_guess, dup_ngram_frac, oov_rate,
        |  quality >= 0.5 AND dup_ngram_frac <= 0.3 AND lang_guess <> 'und'
        |    AND oov_rate <= 0.6 AS keep
        |FROM lq
        |JOIN rep USING (doc_id)
        |JOIN oov USING (doc_id)
        |ORDER BY lq.doc_id""".stripMargin,
    // 16-token paragraphs (x31's chunk CTE at overlap 0) over the
    // doubled corpus; QUALIFY keeps each paragraph's min unit_id row —
    // exactly dedupExact's min_by keeper
    "x38_paragraph_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM base),
        |c AS (
        |  SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 16)) AS st
        |  FROM t),
        |p AS (
        |  SELECT doc_id,
        |    CAST(st // 16 AS BIGINT) AS chunk_idx,
        |    array_to_string(toks[st+1 : st+16], ' ') AS chunk_text,
        |    doc_id * 10000 + (st // 16) AS unit_id
        |  FROM c)
        |SELECT doc_id, chunk_idx, chunk_text
        |FROM p
        |QUALIFY row_number() OVER (PARTITION BY chunk_text ORDER BY unit_id) = 1
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "x39_oov_profile" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT token FROM (
        |    SELECT tok AS token, count(*) AS cnt FROM tok
        |    GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30)),
        |j AS (SELECT t.doc_id, t.tok, v.token
        |      FROM tok t LEFT JOIN vocab v ON t.tok = v.token)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(CASE WHEN token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    AS oov_rate
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x37_bloom_semijoin" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_shipdate >= TIMESTAMP '1999-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "x35_zorder_values" -> {
      // bit interleave generated by the same loop as Layout.zValueN:
      // bit i of pk_b -> position 2i, bit i of sk_b -> position 2i+1
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((pk_b >> $i) & 1) << ${2 * i})",
        s"(((sk_b >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""WITH t AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CAST(l_partkey % 256 AS BIGINT) AS pk_b,
         |    CAST(l_suppkey % 256 AS BIGINT) AS sk_b
         |  FROM lineitem)
         |SELECT l_orderkey, l_linenumber, pk_b, sk_b,
         |  CAST($terms AS BIGINT) AS z
         |FROM t ORDER BY l_orderkey, l_linenumber""".stripMargin
    },
    // quantization chain mirrored exactly: float→double element cast,
    // left-to-right list_sum, scale = max|x|/127 floored at 1e-30,
    // round-half-up via floor(x/scale + 0.5), clamp to ±127
    "x32_embedding_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, e,
        |    sqrt(list_sum(list_transform(e, x -> x * x))) AS norm,
        |    greatest(list_max(list_transform(e, x -> abs(x))), 1e-30) / 127.0 AS scale
        |  FROM v),
        |q AS (
        |  SELECT vec_id, norm, scale,
        |    list_transform(e, x ->
        |      CAST(greatest(-127, least(127, floor(x / scale + 0.5))) AS INT)) AS qv
        |  FROM n)
        |SELECT vec_id,
        |  CAST(norm AS DOUBLE) AS norm,
        |  CAST(scale AS DOUBLE) AS scale,
        |  CAST(list_sum(list_transform(qv, x -> CAST(x AS BIGINT))) AS BIGINT) AS q_sum,
        |  CAST(list_sum(list_transform(qv, x -> CAST(abs(x) AS BIGINT))) AS BIGINT) AS q_l1,
        |  CAST(list_max(qv) AS BIGINT) AS q_max
        |FROM q ORDER BY vec_id""".stripMargin,
    "x33_group_centroids" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, e,
        |    greatest(list_max(list_transform(e, x -> abs(x))), 1e-30) / 127.0 AS scale
        |  FROM v),
        |q AS (
        |  SELECT vec_id, label,
        |    list_transform(e, x ->
        |      CAST(greatest(-127, least(127, floor(x / scale + 0.5))) AS INT)) AS qv
        |  FROM n),
        |x AS (
        |  SELECT label, unnest(qv) AS qe, unnest(range(len(qv))) AS dim FROM q)
        |SELECT label, CAST(dim AS BIGINT) AS dim,
        |  count(*) AS n_vecs,
        |  CAST(sum(qe) AS BIGINT) AS q_sum,
        |  CAST(sum(qe) AS DOUBLE) / count(*) AS q_mean
        |FROM x GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,
    "x34_salient_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) * ((n.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS score
        |  FROM tf JOIN dfreq USING (term), n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS term_rank, term, tf, df, score
        |FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, term_rank""".stripMargin,
    "s17_cube_revenue" ->
      """WITH t AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS oy,
        |         o_orderpriority, o_totalprice
        |  FROM orders)
        |SELECT oy, o_orderpriority,
        |  CAST(GROUPING(oy) AS BIGINT) AS g_y,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_p,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * CAST(100 AS DOUBLE)
        |      + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
        |    / CAST(100 AS DOUBLE) AS rev
        |FROM t
        |GROUP BY CUBE(oy, o_orderpriority)
        |ORDER BY g_y, g_p, oy, o_orderpriority""".stripMargin,
    "q14_window_family" ->
      """WITH t AS (
        |  SELECT event_id, user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec
        |  FROM events)
        |SELECT event_id, user_id, tsec,
        |  CAST(row_number() OVER w AS BIGINT) AS rn,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  CAST(percent_rank() OVER w AS DOUBLE) AS pct_rank,
        |  CAST(cume_dist() OVER w AS DOUBLE) AS cdist,
        |  lag(event_id, 1) OVER w AS prev_id,
        |  lead(event_id, 1) OVER w AS next_id,
        |  first_value(event_id) OVER (PARTITION BY user_id ORDER BY tsec, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_id,
        |  count(*) OVER (PARTITION BY user_id ORDER BY tsec, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
        |FROM t
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
        |ORDER BY event_id""".stripMargin,
    "x36_robust_outliers" -> duckRobustOutliersSql,
    // the SAME oracle: the approxK query is guarded into the sketch's
    // exact regime, where the bounded read is bit-identical to exact
    "x178_robust_outliers_approx" -> duckRobustOutliersSql,
    // rn=1 OR per-attr IS DISTINCT FROM == Spark's NOT(struct <=> lag):
    // the struct compare is null-safe elementwise and its lag is null
    // only on the first row
    "s16_scd2_customer_status" ->
      """WITH src AS (
        |  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS obs_date,
        |         o_orderstatus, o_orderpriority
        |  FROM orders),
        |lagd AS (
        |  SELECT *,
        |    row_number() OVER w AS rn,
        |    lag(o_orderstatus) OVER w AS p_status,
        |    lag(o_orderpriority) OVER w AS p_prio
        |  FROM src
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY obs_date, o_orderkey)),
        |chg AS (
        |  SELECT * FROM lagd
        |  WHERE rn = 1 OR o_orderstatus IS DISTINCT FROM p_status
        |     OR o_orderpriority IS DISTINCT FROM p_prio)
        |SELECT o_custkey, o_orderstatus, o_orderpriority,
        |  obs_date AS effective_from,
        |  COALESCE(lead(obs_date) OVER w2, DATE '9999-12-31') AS effective_to,
        |  lead(obs_date) OVER w2 IS NULL AS is_current
        |FROM chg
        |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY obs_date, o_orderkey)
        |ORDER BY o_custkey, effective_from, o_orderstatus, o_orderpriority,
        |  effective_to""".stripMargin,
    "s14_pivot_daily_types" ->
      """SELECT CAST(ts AS DATE) AS day,
        |  CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
        |  CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup_count,
        |  CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
        |  CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
        |  CAST(SUM(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "s15_unpivot_lineitem_metrics" ->
      """SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
        |  CAST(l_quantity AS DOUBLE) AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'extendedprice',
        |  CAST(l_extendedprice AS DOUBLE) FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'discount',
        |  CAST(l_discount AS DOUBLE) FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'tax',
        |  CAST(l_tax AS DOUBLE) FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    // exact HUGEINT sufficient statistics (the DECIMAL(38,0) twin),
    // then the identical Cramer parenthesization — b via det ratios,
    // r2 via the normal-equations SSE identity
    "x134_ols_quality_fit" ->
      """WITH f AS (
        |  SELECT len(list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))) AS y,
        |         len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS x1,
        |         n_chars AS x2
        |  FROM documents
        |  WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |st AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x1 AS BIGINT)) AS DOUBLE) AS s1,
        |    CAST(SUM(CAST(x2 AS BIGINT)) AS DOUBLE) AS s2,
        |    CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x1 AS BIGINT) * x1) AS DOUBLE) AS s11,
        |    CAST(SUM(CAST(x1 AS BIGINT) * x2) AS DOUBLE) AS s12,
        |    CAST(SUM(CAST(x2 AS BIGINT) * x2) AS DOUBLE) AS s22,
        |    CAST(SUM(CAST(x1 AS BIGINT) * y) AS DOUBLE) AS s1y,
        |    CAST(SUM(CAST(x2 AS BIGINT) * y) AS DOUBLE) AS s2y,
        |    CAST(SUM(CAST(y AS BIGINT) * y) AS DOUBLE) AS syy
        |  FROM f),
        |sv AS (
        |  SELECT *, CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12)
        |    - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2) AS det
        |  FROM st),
        |b AS (
        |  SELECT n, sy, s1y, s2y, syy,
        |    CASE WHEN det <> 0 THEN (sy * (s11 * s22 - s12 * s12)
        |      - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y)) / det END AS b0,
        |    CASE WHEN det <> 0 THEN (CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y)
        |      - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2)) / det END AS b1,
        |    CASE WHEN det <> 0 THEN (CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12)
        |      - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2)) / det END AS b2,
        |    syy - sy * sy / n AS sst
        |  FROM sv)
        |SELECT n, round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
        |  CASE WHEN sst > 0
        |    THEN round(1 - (syy - (b0 * sy + b1 * s1y + b2 * s2y)) / sst, 6) END AS r2
        |FROM b""".stripMargin,
    // per-(group, score) counts -> cumulative-below window over
    // distinct scores -> integral 2·ranksum -> one exact division
    "x135_source_auc" ->
      duckGroupAucSql("n_chars IS NOT NULL AND lang IS NOT NULL"),
    // the injected-null variant: every 7th doc is UN-labeled and must
    // drop — the oracle gate now exercises the null-label contract the
    // fixtures (null-free) never reach
    "x170_auc_null_labels" ->
      duckGroupAucSql(
        "n_chars IS NOT NULL AND lang IS NOT NULL AND doc_id % 7 <> 0"),
    // 1e-6 confidence lattice -> exact per-bin sums -> bin-ordered ECE
    // fold (list_sum == the sorted-struct fold)
    "x136_calibration" -> duckCalibrationSql(""),
    // the injected-null variant: every 7th doc's label is nulled
    // query-side and must drop from confidence sums AND the ECE weights
    "x172_calibration_null_labels" ->
      duckCalibrationSql(" AND doc_id % 7 <> 0"),
    // the shared 2-component PCA chain, then the all-but-the-top
    // correction: centered vector, RAW projections, corrected element
    // = ce − p1·pc − p2·pc2 (left-assoc), positional norm folds
    "x137_remove_top_components" ->
      (duckPca2Ctes + ",\n" +
        """cr AS (SELECT e.vec_id,
          |         list_transform(range(64), i -> e.e[i + 1] - mu.mu[i + 1]) AS ce,
          |         pc, pc2
          |       FROM e CROSS JOIN mu CROSS JOIN sg CROSS JOIN sg2),
          |pj AS (SELECT vec_id, ce, pc, pc2,
          |         list_sum(list_transform(range(64), i -> ce[i + 1] * pc[i + 1])) AS p1,
          |         list_sum(list_transform(range(64), i -> ce[i + 1] * pc2[i + 1])) AS p2
          |       FROM cr)
          |SELECT vec_id, round(p1, 6) AS proj_1, round(p2, 6) AS proj_2,
          |  round(sqrt(list_sum(list_transform(ce, x -> x * x))), 6) AS norm_before,
          |  round(sqrt(list_sum(list_transform(
          |    list_transform(range(64), i -> ce[i + 1] - p1 * pc[i + 1] - p2 * pc2[i + 1]),
          |    x -> x * x))), 6) AS norm_after
          |FROM pj ORDER BY vec_id""".stripMargin),
    // per-(group, value) weight sums -> cumulative window -> first
    // value reaching half the total (2·cum >= tot, exact integers)
    "x138_weighted_median" ->
      """WITH base AS (
        |  SELECT source AS "group", n_chars AS v,
        |    CAST(len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS w
        |  FROM documents WHERE n_chars IS NOT NULL),
        |g AS (SELECT "group", v, CAST(sum(w) AS BIGINT) AS gw
        |      FROM base WHERE w > 0 GROUP BY 1, 2),
        |c AS (SELECT *, CAST(sum(gw) OVER (PARTITION BY "group" ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(sum(gw) OVER (PARTITION BY "group") AS BIGINT) AS tot FROM g)
        |SELECT "group", max(tot) AS total_w, min(v) AS w_median
        |FROM c WHERE cum * 2 >= tot GROUP BY 1 ORDER BY 1""".stripMargin,
    // unigram + adjacent-pair counts over the house tokenizer, the
    // identical ln() chain, and the (rounded pmi, terms) total-order cut
    "x139_pmi_collocations" ->
      """WITH tk AS (
        |  SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |uni AS (SELECT unnest(toks) AS term FROM tk),
        |ucnt AS (SELECT term, CAST(count(*) AS BIGINT) AS n_term FROM uni GROUP BY 1),
        |nu AS (SELECT CAST(sum(n_term) AS BIGINT) AS nu FROM ucnt),
        |bi0 AS (SELECT unnest(list_transform(range(len(toks) - 1),
        |          i -> {'a': toks[i + 1], 'b': toks[i + 2]})) AS p
        |        FROM tk WHERE len(toks) >= 2),
        |bcnt AS (SELECT p.a AS term_a, p.b AS term_b,
        |           CAST(count(*) AS BIGINT) AS n_pair
        |         FROM bi0 GROUP BY 1, 2),
        |nb AS (SELECT CAST(sum(n_pair) AS BIGINT) AS nb FROM bcnt)
        |SELECT term_a, term_b, n_pair,
        |  round(ln((CAST(n_pair AS DOUBLE) * nu * nu)
        |    / (CAST(nb AS DOUBLE) * na.n_term * b2.n_term)), 6) AS pmi
        |FROM bcnt JOIN ucnt na ON na.term = term_a JOIN ucnt b2 ON b2.term = term_b
        |CROSS JOIN nu CROSS JOIN nb
        |WHERE n_pair >= 5
        |ORDER BY pmi DESC, term_a, term_b LIMIT 50""".stripMargin,
    // full (source × vocab) grid -> per-cell JSD terms (p = 0 cells
    // keep only their q·ln 2 half) -> vocab-ordered fold
    "x140_token_jsd" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents),
        |cells AS (SELECT source, term, CAST(count(*) AS BIGINT) AS o
        |          FROM tok WHERE term IS NOT NULL GROUP BY 1, 2),
        |pooled AS (SELECT term, CAST(sum(o) AS BIGINT) AS pool FROM cells GROUP BY 1),
        |totals AS (SELECT source, CAST(sum(o) AS BIGINT) AS n FROM cells GROUP BY 1),
        |grand AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells),
        |grid AS (SELECT totals.source, totals.n, pooled.term, pooled.pool,
        |                COALESCE(c.o, 0) AS o, grand.t
        |         FROM totals CROSS JOIN pooled
        |         LEFT JOIN cells c ON c.source = totals.source AND c.term = pooled.term
        |         CROSS JOIN grand),
        |terms AS (SELECT source, n, term,
        |    CASE WHEN o > 0 THEN (CAST(o AS DOUBLE) / n)
        |      * ln((CAST(o AS DOUBLE) / n)
        |          / ((CAST(o AS DOUBLE) / n + CAST(pool AS DOUBLE) / t) / 2))
        |      ELSE 0 END / 2
        |    + (CAST(pool AS DOUBLE) / t)
        |      * ln((CAST(pool AS DOUBLE) / t)
        |          / ((CAST(o AS DOUBLE) / n + CAST(pool AS DOUBLE) / t) / 2)) / 2 AS trm
        |  FROM grid)
        |SELECT source, n, round(list_sum(list(trm ORDER BY term)), 6) AS jsd
        |FROM terms GROUP BY 1, 2 ORDER BY source""".stripMargin,
    // per-(source, term) counts -> ascending/descending rank windows ->
    // exact HUGEINT rank·count sum -> the one-division Gini chain
    "x141_token_gini" ->
      """WITH cnt AS (
        |  SELECT source AS "group", term, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(
        |          regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY "group" ORDER BY c, term) AS i,
        |        row_number() OVER (PARTITION BY "group" ORDER BY c DESC, term) AS rd
        |      FROM cnt),
        |g AS (SELECT "group", CAST(count(*) AS BIGINT) AS n_terms,
        |        CAST(sum(c) AS BIGINT) AS total_tokens,
        |        CAST(sum(CAST(i AS HUGEINT) * c) AS DOUBLE) AS ic,
        |        CAST(sum(CASE WHEN rd <= 10 THEN c ELSE 0 END) AS BIGINT) AS top
        |      FROM r GROUP BY 1)
        |SELECT "group", n_terms, total_tokens,
        |  round((2 * ic - (CAST(n_terms AS DOUBLE) + 1) * total_tokens)
        |    / (CAST(n_terms AS DOUBLE) * total_tokens), 6) AS gini,
        |  round(CAST(top AS DOUBLE) / total_tokens, 6) AS topk_share
        |FROM g ORDER BY "group"""".stripMargin,
    // full (source × distinct-value) grid -> cumulative ECDFs -> the
    // exact discrete sup of |p − q|
    "x142_ks_drift" ->
      """WITH cells AS (
        |  SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS o
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        |pooled AS (SELECT v, CAST(sum(o) AS BIGINT) AS pool FROM cells GROUP BY 1),
        |totals AS (SELECT source, CAST(sum(o) AS BIGINT) AS n FROM cells GROUP BY 1),
        |grand AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells),
        |grid AS (SELECT totals.source, totals.n, pooled.v, pooled.pool,
        |                COALESCE(c.o, 0) AS o, grand.t
        |         FROM totals CROSS JOIN pooled
        |         LEFT JOIN cells c ON c.source = totals.source AND c.v = pooled.v
        |         CROSS JOIN grand),
        |cum AS (SELECT *,
        |          CAST(sum(o) OVER (PARTITION BY source ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cg,
        |          CAST(sum(pool) OVER (PARTITION BY source ORDER BY v
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
        |        FROM grid)
        |SELECT source, n,
        |  max(abs(CAST(cg AS DOUBLE) / n - CAST(cp AS DOUBLE) / t)) AS ks
        |FROM cum GROUP BY 1, 2 ORDER BY source""".stripMargin,
    // distinct 3-shingles per doc (the x116 spelling) -> document
    // frequencies -> per-doc shared-shingle rollup
    "x143_boilerplate_fraction" ->
      """WITH base AS (
        |  SELECT doc_id AS id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        |  FROM documents),
        |tk AS (SELECT id, string_split(t, ' ') AS toks FROM base),
        |s AS (SELECT id, list_distinct(
        |        CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |             ELSE list_transform(range(0, len(toks) - 3 + 1),
        |                    i -> array_to_string(toks[i+1:i+3], ' '))
        |        END) AS sh
        |      FROM tk),
        |inv AS (SELECT id, unnest(sh) AS g FROM s),
        |dfreq AS (SELECT g, CAST(count(*) AS BIGINT) AS dfc FROM inv GROUP BY g)
        |SELECT id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared,
        |  round(CAST(sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS boilerplate_frac
        |FROM inv JOIN dfreq USING (g) GROUP BY id ORDER BY id""".stripMargin,
    // rank (score DESC, doc ASC) -> graded top-10 -> rank-ordered DCG /
    // AP folds; ideal side from the qrels' k best grades; identical ln
    // chain and tie rules
    "x144_retrieval_eval" ->
      """WITH tk AS (
        |  SELECT doc_id, lang, source,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |q AS (SELECT doc_id AS query_id, toks AS qtoks, lang AS qlang,
        |             source AS qsource
        |      FROM tk WHERE doc_id <= 5),
        |ranked AS (
        |  SELECT query_id, doc_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY
        |      CAST(len(list_intersect(list_distinct(qtoks),
        |        list_distinct(toks))) AS DOUBLE) DESC, doc_id) AS rank
        |  FROM q JOIN tk ON doc_id <> query_id),
        |qrels AS (
        |  SELECT query_id, doc_id,
        |    CASE WHEN source = qsource THEN 2 ELSE 1 END AS grade
        |  FROM q JOIN tk ON doc_id <> query_id WHERE lang = qlang),
        |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
        |         FROM qrels GROUP BY 1),
        |ideal AS (
        |  SELECT query_id, list_sum(list(
        |      (pow(2, CAST(grade AS DOUBLE)) - 1)
        |        / (ln(CAST(i AS DOUBLE) + 1) / ln(2)) ORDER BY i)) AS idcg
        |  FROM (SELECT query_id, grade, row_number() OVER (
        |          PARTITION BY query_id ORDER BY grade DESC) AS i
        |        FROM qrels)
        |  WHERE i <= 10 GROUP BY query_id),
        |graded AS (
        |  SELECT t.query_id, t.rank,
        |    COALESCE(CAST(r.grade AS DOUBLE), 0) AS grade
        |  FROM ranked t LEFT JOIN qrels r
        |    ON t.query_id = r.query_id AND t.doc_id = r.doc_id
        |  WHERE t.rank <= 10),
        |cumed AS (SELECT *, CAST(sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY query_id ORDER BY rank
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumhits
        |  FROM graded),
        |perq AS (
        |  SELECT query_id,
        |    CAST(sum(CASE WHEN grade > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |    list_sum(list((pow(2, grade) - 1)
        |      / (ln(CAST(rank AS DOUBLE) + 1) / ln(2)) ORDER BY rank)) AS dcg,
        |    min(CASE WHEN grade > 0 THEN rank END) AS first_rel,
        |    list_sum(list(CASE WHEN grade > 0
        |      THEN CAST(cumhits AS DOUBLE) / rank
        |      ELSE CAST(0 AS DOUBLE) END ORDER BY rank)) AS apnum
        |  FROM cumed GROUP BY query_id)
        |SELECT query_id, COALESCE(n.n_rel, 0) AS n_rel,
        |  COALESCE(p.hits, 0) AS hits,
        |  round(CAST(COALESCE(p.hits, 0) AS DOUBLE) / 10, 6)
        |    AS precision_at_k,
        |  round(CASE WHEN n.n_rel > 0
        |    THEN CAST(COALESCE(p.hits, 0) AS DOUBLE) / n.n_rel END, 6)
        |    AS recall_at_k,
        |  round(COALESCE(CAST(1 AS DOUBLE) / first_rel,
        |    CAST(0 AS DOUBLE)), 6) AS mrr,
        |  round(CASE WHEN n.n_rel > 0 THEN COALESCE(apnum, CAST(0 AS DOUBLE))
        |    / least(CAST(n.n_rel AS DOUBLE), CAST(10 AS DOUBLE)) END, 6) AS ap,
        |  round(CASE WHEN i.idcg > 0
        |    THEN COALESCE(p.dcg, CAST(0 AS DOUBLE)) / i.idcg END, 6) AS ndcg
        |FROM perq p
        |FULL JOIN nrel n USING (query_id)
        |LEFT JOIN ideal i USING (query_id)
        |ORDER BY query_id""".stripMargin,
    // per-type daily counts -> bin-ordered list -> the EWMA recurrence
    // as a list_reduce fold (init = first value, (1-α) computed IEEE)
    "x145_ewma_smoothing" ->
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |      / 86400) AS BIGINT) AS bin,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |ser AS (SELECT event_type,
        |          list(struct_pack(bin := bin, n := n) ORDER BY bin) AS s
        |        FROM r GROUP BY 1),
        |folded AS (SELECT event_type, s,
        |    list_reduce([[s[1].n]] || list_transform(s[2:], e -> [e.n]),
        |      (acc, e) -> acc || [CAST(0.3 AS DOUBLE) * e[1]
        |        + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * acc[len(acc)]])
        |      AS f
        |  FROM ser),
        |ex AS (SELECT event_type, unnest(list_transform(range(1, len(s) + 1),
        |    i -> {'bin': s[i].bin, 'n': s[i].n, 'ewma': round(f[i], 6)})) AS u
        |  FROM folded)
        |SELECT event_type, u.bin AS bin, u.n AS n, u.ewma AS ewma
        |FROM ex ORDER BY event_type, bin""".stripMargin,
    // same series; two-sided CUSUM recurrence vs the per-type mean,
    // sentinel-seeded fold (real entries at f[i + 1]), alarm compares
    // the UNROUNDED excursions like the engine
    "x146_cusum_changepoint" ->
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |      / 86400) AS BIGINT) AS bin,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |tgt AS (SELECT event_type, sum(n) / count(*) AS target
        |        FROM r GROUP BY 1),
        |ser AS (SELECT r.event_type,
        |          list(struct_pack(bin := bin, v := n, t := target)
        |            ORDER BY bin) AS s
        |        FROM r JOIN tgt USING (event_type) GROUP BY 1),
        |folded AS (SELECT event_type, s,
        |    list_reduce(
        |      [[{'sp': CAST(0 AS DOUBLE), 'sn': CAST(0 AS DOUBLE),
        |         'v': CAST(0 AS DOUBLE), 't': CAST(0 AS DOUBLE)}]]
        |        || list_transform(s, e -> [{'sp': CAST(0 AS DOUBLE),
        |             'sn': CAST(0 AS DOUBLE), 'v': e.v, 't': e.t}]),
        |      (acc, e) -> acc || [{
        |        'sp': greatest(CAST(0 AS DOUBLE),
        |          acc[len(acc)].sp + (e[1].v - e[1].t - CAST(2 AS DOUBLE))),
        |        'sn': greatest(CAST(0 AS DOUBLE),
        |          acc[len(acc)].sn + (e[1].t - e[1].v - CAST(2 AS DOUBLE))),
        |        'v': e[1].v, 't': e[1].t}]) AS f
        |  FROM ser),
        |ex AS (SELECT event_type, unnest(list_transform(range(1, len(s) + 1),
        |    i -> {'bin': s[i].bin, 'n': s[i].v,
        |          'hi': round(f[i + 1].sp, 6), 'lo': round(f[i + 1].sn, 6),
        |          'alarm': f[i + 1].sp > CAST(20 AS DOUBLE)
        |            OR f[i + 1].sn > CAST(20 AS DOUBLE)})) AS u
        |  FROM folded)
        |SELECT event_type, u.bin AS bin, u.n AS n, u.hi AS cusum_hi,
        |  u.lo AS cusum_lo, u.alarm AS alarm
        |FROM ex ORDER BY event_type, bin""".stripMargin,
    // three suffixed KS chains over one doc-level feature frame ->
    // DKW p bound -> rank / m / tail-running-min windows -> the q <= α
    // step-up rule on the UNROUNDED q
    "x147_bh_drift_alerts" ->
      s"""WITH f AS (
         |  SELECT source, n_chars,
         |    CAST(len(string_split(regexp_replace(lower(trim(text)),
         |      '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(string_split(regexp_replace(
         |      lower(trim(text)), '\\s+', ' ', 'g'), ' '))) AS BIGINT)
         |      AS n_distinct
         |  FROM documents),
         |${duckKsCtes("nc", "n_chars")},
         |${duckKsCtes("nt", "n_tokens")},
         |${duckKsCtes("nd", "n_distinct")},
         |tests AS (SELECT * FROM ks_nc UNION ALL SELECT * FROM ks_nt
         |          UNION ALL SELECT * FROM ks_nd),
         |wp AS (SELECT feature, source, n, ks,
         |    CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS t
         |  FROM tests),
         |pv AS (SELECT feature || ':' || source AS id,
         |    least(CAST(1 AS DOUBLE), CAST(2 AS DOUBLE)
         |      * exp(CAST(-2 AS DOUBLE) * ks * ks
         |        * (CAST(n AS DOUBLE) * t / (n + t)))) AS p
         |  FROM wp),
         |ranked AS (SELECT id, p,
         |    CAST(row_number() OVER (ORDER BY p, id) AS BIGINT) AS rank,
         |    CAST(count(*) OVER () AS BIGINT) AS m
         |  FROM pv),
         |q AS (SELECT *, min(CAST(m AS DOUBLE) * p / rank)
         |    OVER (ORDER BY rank DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qraw
         |  FROM ranked)
         |SELECT id, p, rank, m,
         |  round(least(qraw, CAST(1 AS DOUBLE)), 6) AS q_value,
         |  qraw <= CAST(0.1 AS DOUBLE) AS rejected
         |FROM q ORDER BY rank""".stripMargin,
    // segment touches to their next conversion (strictly-preceding
    // running conversion count), role them by path position, reduce to
    // the exact (channel, n, role) grid, fold each model sorted
    "x148_attribution" ->
      """WITH ev AS (
        |  SELECT user_id AS u, ts, event_id AS id, event_type AS ch
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click', 'view', 'signup')),
        |segd AS (
        |  SELECT *,
        |    COALESCE(CAST(sum(CASE WHEN ch = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY u ORDER BY ts, id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS seg,
        |    CAST(sum(CASE WHEN ch = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY u ORDER BY ts, id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cidx
        |  FROM ev),
        |convs AS (SELECT u AS cu, cidx AS conv FROM segd
        |          WHERE ch = 'purchase'),
        |touches AS (
        |  SELECT s.u, s.seg, s.ts, s.id, s.ch
        |  FROM segd s JOIN convs c ON s.u = c.cu AND s.seg + 1 = c.conv
        |  WHERE s.ch <> 'purchase'),
        |roled AS (
        |  SELECT u, seg, ch,
        |    CAST(row_number() OVER (PARTITION BY u, seg ORDER BY ts, id)
        |      AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY u, seg) AS BIGINT) AS n
        |  FROM touches),
        |cells AS (
        |  SELECT ch, n,
        |    CASE WHEN n = 1 THEN 'only' WHEN i = 1 THEN 'first'
        |         WHEN i = n THEN 'last' ELSE 'mid' END AS role,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM roled GROUP BY 1, 2, 3)
        |SELECT ch AS channel,
        |  CAST(sum(cnt) AS BIGINT) AS n_touches,
        |  CAST(sum(CASE WHEN role IN ('only', 'first') THEN cnt ELSE 0 END)
        |    AS BIGINT) AS first_touch,
        |  CAST(sum(CASE WHEN role IN ('only', 'last') THEN cnt ELSE 0 END)
        |    AS BIGINT) AS last_touch,
        |  round(list_sum(list(CAST(cnt AS DOUBLE) / n ORDER BY n, role)), 6)
        |    AS linear,
        |  round(list_sum(list(CASE
        |    WHEN n = 1 THEN CAST(1 AS DOUBLE) * cnt
        |    WHEN n = 2 THEN CAST(0.5 AS DOUBLE) * cnt
        |    WHEN role = 'mid' THEN CAST(0.2 AS DOUBLE) / (n - 2) * cnt
        |    ELSE CAST(0.4 AS DOUBLE) * cnt END ORDER BY n, role)), 6)
        |    AS position
        |FROM cells GROUP BY 1 ORDER BY channel""".stripMargin,
    // distinct (order, brand) -> capped baskets -> within-basket pairs
    // -> integer-ratio metrics, rounded-lift total-order cut
    "x149_association_rules" ->
      """WITH raw AS (
        |  SELECT DISTINCT l_orderkey AS bk, p_brand AS i
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand IS NOT NULL AND l_orderkey IS NOT NULL),
        |sz AS (SELECT bk FROM raw GROUP BY bk HAVING count(*) <= 1000),
        |items AS (SELECT raw.* FROM raw JOIN sz USING (bk)),
        |nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets
        |       FROM items),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ni
        |       FROM items GROUP BY 1),
        |pr AS (SELECT l.i AS a, r.i AS b, CAST(count(*) AS BIGINT) AS n_ab
        |       FROM items l JOIN items r ON l.bk = r.bk AND l.i <> r.i
        |       GROUP BY 1, 2 HAVING count(*) >= 10)
        |SELECT a, b, n_ab, x.ni AS n_a, y.ni AS n_b, n_baskets,
        |  round(CAST(n_ab AS DOUBLE) / n_baskets, 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) / x.ni, 6) AS confidence,
        |  round(CAST(n_baskets AS DOUBLE) * n_ab
        |    / (CAST(x.ni AS DOUBLE) * y.ni), 6) AS lift
        |FROM pr JOIN ic x ON pr.a = x.i JOIN ic y ON pr.b = y.i
        |CROSS JOIN nb
        |WHERE CAST(n_ab AS DOUBLE) / x.ni >= 0.05
        |ORDER BY lift DESC, a, b LIMIT 50""".stripMargin,
    // per-customer last/count/cents -> exact quantile_cont cutpoints
    // (x28 bit-parity) -> narrow list_filter scoring -> segment CASE
    "x150_rfm_segments" ->
      """WITH pc AS (
        |  SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS monetary_cents
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |    AND o_totalprice IS NOT NULL
        |  GROUP BY 1),
        |rd AS (SELECT max(last_d) AS ref FROM pc),
        |base AS (SELECT pc.*,
        |    CAST(date_diff('day', last_d, ref) AS BIGINT) AS recency_days
        |  FROM pc CROSS JOIN rd),
        |cuts AS (SELECT
        |    quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
        |    quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fc,
        |    quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS mc
        |  FROM base),
        |sc AS (SELECT o_custkey, recency_days, frequency, monetary_cents,
        |    CAST(1 + len(list_filter(rc,
        |      q -> CAST(recency_days AS DOUBLE) < q)) AS BIGINT) AS r_score,
        |    CAST(1 + len(list_filter(fc,
        |      q -> CAST(frequency AS DOUBLE) > q)) AS BIGINT) AS f_score,
        |    CAST(1 + len(list_filter(mc,
        |      q -> CAST(monetary_cents AS DOUBLE) > q)) AS BIGINT) AS m_score
        |  FROM base CROSS JOIN cuts)
        |SELECT o_custkey, recency_days, frequency, monetary_cents,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
        |         THEN 'champion'
        |       WHEN f_score >= 4 THEN 'loyal'
        |       WHEN m_score >= 4 THEN 'big_spender'
        |       WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
        |       WHEN r_score <= 2 THEN 'hibernating'
        |       ELSE 'regular' END AS segment
        |FROM sc ORDER BY o_custkey""".stripMargin,
    // per-customer exact cents -> (cents DESC, key) rank + running and
    // grand sums -> exact-ratio shares and 70/90 class boundaries
    "x151_pareto_abc" ->
      """WITH pk AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS amount_cents
        |  FROM orders
        |  WHERE o_custkey IS NOT NULL AND o_totalprice IS NOT NULL
        |  GROUP BY 1),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY amount_cents DESC, o_custkey)
        |      AS BIGINT) AS rank,
        |    CAST(sum(amount_cents) OVER (ORDER BY amount_cents DESC,
        |      o_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    CAST(sum(amount_cents) OVER () AS BIGINT) AS tot
        |  FROM pk)
        |SELECT o_custkey, amount_cents, rank,
        |  round(CAST(amount_cents AS DOUBLE) / tot, 6) AS share,
        |  round(CAST(cum AS DOUBLE) / tot, 6) AS cum_share,
        |  CASE WHEN CAST(cum AS DOUBLE) / tot <= 0.7 THEN 'A'
        |       WHEN CAST(cum AS DOUBLE) / tot <= 0.9 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM r ORDER BY rank""".stripMargin,
    // exact cents category sums + global prior -> the same smoothed
    // and leave-one-out per-row chains (m·prior multiply first)
    "x152_target_encoding" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        |  FROM orders),
        |cs AS (SELECT o_orderpriority,
        |    CAST(sum(price_cents) AS BIGINT) AS csum,
        |    CAST(count(*) AS BIGINT) AS cn
        |  FROM o WHERE o_orderpriority IS NOT NULL
        |    AND price_cents IS NOT NULL GROUP BY 1),
        |pr AS (SELECT CAST(sum(price_cents) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM o WHERE o_orderpriority IS NOT NULL
        |    AND price_cents IS NOT NULL)
        |SELECT o_orderkey, o_orderpriority, price_cents,
        |  CASE WHEN o_orderpriority IS NULL OR price_cents IS NULL
        |    THEN NULL
        |    ELSE (CAST(csum AS DOUBLE)
        |      + CAST(10 AS DOUBLE) * (CAST(s AS DOUBLE) / n))
        |      / (cn + CAST(10 AS DOUBLE)) END AS te,
        |  CASE WHEN o_orderpriority IS NULL OR price_cents IS NULL
        |    THEN NULL
        |    WHEN cn = 1 THEN CAST(s AS DOUBLE) / n
        |    ELSE CAST(csum - price_cents AS DOUBLE) / (cn - 1)
        |    END AS te_loo
        |FROM o LEFT JOIN cs USING (o_orderpriority) CROSS JOIN pr
        |ORDER BY o_orderkey""".stripMargin,
    // (user, day) dedup -> per-window coverage expansion kept to the
    // observed day spine -> distinct counts -> zero-filled spine join
    "x153_active_users" -> duckActiveUsersSql,
    // the maintained distinct-set MV equals the batch recompute (set
    // union is idempotent), so the SAME growth-accounting replay
    // value-checks the full maintenance loop + serve
    "x169_growth_mv" -> duckActiveUsersSql,
    // the KMV-served variant: same report, but the au_* columns are
    // estimates (DOUBLE) — exact-regime k makes the VALUES identical
    "x171_growth_mv_kmv" ->
      ("SELECT day, CAST(au_1 AS DOUBLE) AS au_1, " +
        "CAST(au_7 AS DOUBLE) AS au_7, CAST(au_28 AS DOUBLE) AS au_28, " +
        "stickiness FROM (" + duckActiveUsersSql + ") ORDER BY day"),
    // (user, day) dedup -> per-user first day -> day rollup -> running
    // cumulative over the day spine
    "x154_new_vs_returning" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT u, min(day) AS fd FROM ud GROUP BY 1),
        |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS active,
        |    CAST(sum(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT)
        |      AS new_users
        |  FROM ud JOIN f USING (u) GROUP BY 1)
        |SELECT day, active, new_users, active - new_users AS returning,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumulative_users,
        |  round(CAST(new_users AS DOUBLE) / active, 6) AS new_share
        |FROM daily ORDER BY day""".stripMargin,
    // (ts, id)-totalized first-5 per user -> rank-ordered path string
    // -> (n_users DESC, path) top-20
    "x155_top_paths" ->
      """WITH e AS (
        |  SELECT user_id AS u, ts, event_id AS id, event_type AS t
        |  FROM events WHERE event_type IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (PARTITION BY u
        |    ORDER BY ts, id) AS rn FROM e),
        |p AS (SELECT u, array_to_string(list(t ORDER BY rn), '>') AS path
        |      FROM r WHERE rn <= 5 GROUP BY u)
        |SELECT path,
        |  CAST(len(string_split(path, '>')) AS BIGINT) AS n_steps,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY 1 ORDER BY n_users DESC, path LIMIT 20""".stripMargin,
    // two x128-spelling quantize->lattice-centroid chains (even half /
    // full), full join on label, the house cosine with a 0-denominator
    // null guard
    "x156_centroid_shift" ->
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL),
        |qo AS (
        |  SELECT vec_id, label, list_transform(e, x ->
        |      CAST(greatest(-127, least(127, floor(x / scale + 0.5)))
        |        AS INT)) AS qv
        |  FROM (SELECT vec_id, label, e,
        |          greatest(list_max(list_transform(e, x -> abs(x))), 1e-30)
        |            / 127.0 AS scale
        |        FROM v WHERE vec_id % 2 = 0)),
        |no_ AS (SELECT label, CAST(count(*) AS BIGINT) AS n_old
        |        FROM qo GROUP BY 1),
        |xo AS (SELECT label, unnest(qv) AS qe, unnest(range(len(qv))) AS dim
        |       FROM qo),
        |co AS (SELECT label, dim, CAST(sum(qe) AS DOUBLE) / count(*) AS m
        |       FROM xo GROUP BY 1, 2),
        |ao AS (SELECT label, list(m ORDER BY dim) AS c FROM co GROUP BY 1),
        |qn AS (
        |  SELECT vec_id, label, list_transform(e, x ->
        |      CAST(greatest(-127, least(127, floor(x / scale + 0.5)))
        |        AS INT)) AS qv
        |  FROM (SELECT vec_id, label, e,
        |          greatest(list_max(list_transform(e, x -> abs(x))), 1e-30)
        |            / 127.0 AS scale
        |        FROM v)),
        |nn AS (SELECT label, CAST(count(*) AS BIGINT) AS n_new
        |       FROM qn GROUP BY 1),
        |xn AS (SELECT label, unnest(qv) AS qe, unnest(range(len(qv))) AS dim
        |       FROM qn),
        |cn AS (SELECT label, dim, CAST(sum(qe) AS DOUBLE) / count(*) AS m
        |       FROM xn GROUP BY 1, 2),
        |an AS (SELECT label, list(m ORDER BY dim) AS c FROM cn GROUP BY 1),
        |j AS (
        |  SELECT label, COALESCE(n_old, 0) AS n_old,
        |    COALESCE(n_new, 0) AS n_new,
        |    list_sum(list_transform(list_zip(ao.c, an.c),
        |      p -> p[1] * p[2])) AS ab,
        |    list_sum(list_transform(ao.c, z -> z * z)) AS aa,
        |    list_sum(list_transform(an.c, z -> z * z)) AS bb
        |  FROM ao FULL JOIN an USING (label)
        |  LEFT JOIN no_ USING (label) LEFT JOIN nn USING (label)),
        |cs AS (SELECT label, n_old, n_new,
        |    round(CASE WHEN sqrt(aa * bb) = 0 THEN NULL
        |      ELSE ab / sqrt(aa * bb) END, 6) AS cos_sim
        |  FROM j)
        |SELECT label, n_old, n_new, cos_sim,
        |  round(CAST(1 AS DOUBLE) - cos_sim, 6) AS shift
        |FROM cs ORDER BY label""".stripMargin,
    // first digit from the BIGINT string -> zero-filled 1..9 grid ->
    // ln-ratio expected fracs -> digit-ordered chi2 / MAD folds
    "x157_benford_audit" ->
      """WITH v AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |dg AS (SELECT CAST(substr(CAST(abs(c) AS VARCHAR), 1, 1) AS INT)
        |    AS digit, CAST(count(*) AS BIGINT) AS n
        |  FROM v WHERE c <> 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM dg),
        |grid AS (SELECT d.digit, COALESCE(n, 0) AS n, total,
        |    CAST(COALESCE(n, 0) AS DOUBLE) / total AS obs_frac,
        |    ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE) / d.digit)
        |      / ln(CAST(10 AS DOUBLE)) AS exp_frac
        |  FROM (SELECT unnest(range(1, 10)) AS digit) d
        |  CROSS JOIN tot LEFT JOIN dg USING (digit)),
        |s AS (SELECT
        |    round(list_sum(list((n - exp_frac * total) * (n - exp_frac * total)
        |      / (exp_frac * total) ORDER BY digit)), 6) AS chi2,
        |    round(list_sum(list(abs(obs_frac - exp_frac) ORDER BY digit))
        |      / CAST(9 AS DOUBLE), 6) AS mad
        |  FROM grid)
        |SELECT CAST(digit AS BIGINT) AS digit, n, total,
        |  round(obs_frac, 6) AS obs_frac, round(exp_frac, 6) AS exp_frac,
        |  chi2, mad
        |FROM grid CROSS JOIN s ORDER BY digit""".stripMargin,
    // exact HUGEINT weight sums -> one fixed double chain per group
    "x158_weight_diagnostics" ->
      """WITH w AS (
        |  SELECT lang AS "group",
        |    CAST(floor(n_chars * 1 + 0.5) AS BIGINT) AS wv
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |a AS (SELECT "group", CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(wv AS HUGEINT)) AS DOUBLE) AS sw,
        |    CAST(sum(CAST(wv AS HUGEINT) * wv) AS DOUBLE) AS sw2,
        |    max(wv) AS mx
        |  FROM w WHERE wv > 0 GROUP BY 1)
        |SELECT "group", n,
        |  round(sw * sw / sw2, 6) AS ess,
        |  round(sw * sw / sw2 / n, 6) AS ess_ratio,
        |  round(CAST(mx AS DOUBLE) / sw, 6) AS max_share,
        |  round(sqrt(greatest(CAST(0 AS DOUBLE), n * sw2 - sw * sw))
        |    / sw, 6) AS cv
        |FROM a ORDER BY "group"""".stripMargin,
    // per-user conversion -> per-arm exact counts -> pooled z chain
    "x159_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(max(CASE WHEN event_type = 'purchase' AND value > 150
        |      THEN 1 ELSE 0 END) AS BIGINT) AS converted,
        |    CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END
        |      AS arm
        |  FROM events GROUP BY user_id),
        |per AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(converted) AS BIGINT) AS x
        |  FROM u WHERE arm IS NOT NULL AND converted IS NOT NULL
        |  GROUP BY 1),
        |c AS (SELECT n AS n_c, x AS x_c FROM per WHERE arm = 'control')
        |SELECT arm, n_c, x_c, n AS n_t, x AS x_t,
        |  round(CAST(x_c AS DOUBLE) / n_c, 6) AS rate_c,
        |  round(CAST(x AS DOUBLE) / n, 6) AS rate_t,
        |  round(CAST(x AS DOUBLE) / n - CAST(x_c AS DOUBLE) / n_c, 6)
        |    AS lift,
        |  round(CASE WHEN CAST(x_c + x AS DOUBLE) / (n_c + n) > 0
        |      AND CAST(x_c + x AS DOUBLE) / (n_c + n) < 1
        |    THEN (CAST(x AS DOUBLE) / n - CAST(x_c AS DOUBLE) / n_c)
        |    / sqrt((CAST(x_c + x AS DOUBLE) / (n_c + n))
        |      * (CAST(1 AS DOUBLE) - CAST(x_c + x AS DOUBLE) / (n_c + n))
        |      * (CAST(1 AS DOUBLE) / n_c + CAST(1 AS DOUBLE) / n))
        |    END, 6) AS z
        |FROM per CROSS JOIN c WHERE arm <> 'control' ORDER BY arm""".stripMargin,
    // exact HUGEINT sufficient statistics per arm + pooled -> the same
    // theta / mean / variance chains, variances unrounded
    "x160_cuped" ->
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END
        |      AS arm
        |  FROM events GROUP BY user_id),
        |pa AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
        |  FROM u GROUP BY 1),
        |po AS (SELECT CAST(count(*) AS BIGINT) AS pn,
        |    CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE) AS psx,
        |    CAST(sum(CAST(y AS HUGEINT)) AS DOUBLE) AS psy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS psxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS psxx
        |  FROM u),
        |t AS (SELECT pa.arm, pa.n, pa.sx, pa.sy, pa.sxy, pa.sxx, pa.syy,
        |    (pn * psxy - psx * psy) / (pn * psxx - psx * psx) AS theta,
        |    psx / pn AS xbar
        |  FROM pa CROSS JOIN po)
        |SELECT arm, n, theta,
        |  sy / n AS mean_y,
        |  sy / n - theta * (sx / n - xbar) AS mean_y_adj,
        |  (n * syy - sy * sy) / (n * n) AS var_y,
        |  (n * syy - sy * sy) / (n * n)
        |    - CAST(2 AS DOUBLE) * theta * ((n * sxy - sx * sy) / (n * n))
        |    + theta * theta * ((n * sxx - sx * sx) / (n * n)) AS var_y_adj,
        |  round(CAST(1 AS DOUBLE) - ((n * syy - sy * sy) / (n * n)
        |      - CAST(2 AS DOUBLE) * theta * ((n * sxy - sx * sy) / (n * n))
        |      + theta * theta * ((n * sxx - sx * sx) / (n * n)))
        |    / ((n * syy - sy * sy) / (n * n)), 6) AS var_reduction
        |FROM t ORDER BY arm""".stripMargin,
    // first click -> first subsequent purchase -> exact quantile_cont
    // profile over integer seconds + exact-ratio mean, unrounded
    "x161_conversion_latency" ->
      """WITH c AS (
        |  SELECT user_id,
        |    min(CAST(epoch(date_trunc('second', ts)) AS BIGINT)) AS fc
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |b AS (SELECT user_id,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS bt
        |  FROM events WHERE event_type = 'purchase'),
        |l AS (SELECT c.user_id, min(bt) - fc AS latency_s
        |      FROM c JOIN b USING (user_id) WHERE bt >= fc
        |      GROUP BY c.user_id, fc)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  quantile_cont(latency_s, 0.25) AS p25,
        |  quantile_cont(latency_s, 0.5) AS p50,
        |  quantile_cont(latency_s, 0.75) AS p75,
        |  quantile_cont(latency_s, 0.9) AS p90,
        |  CAST(sum(latency_s) AS DOUBLE) / count(*) AS avg_s
        |FROM l""".stripMargin,
    // x104's fixed binning on both frames -> integer-ratio fracs ->
    // x130's max-ratio normalization
    "x162_length_match_weights" ->
      """WITH ob AS (
        |  SELECT least(greatest(CAST(floor((CAST(n_chars AS DOUBLE) - 0)
        |      / ((600 - 0) / 20)) AS INT), 0), 19) AS bin,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |rb AS (
        |  SELECT least(greatest(CAST(floor((CAST(n_chars AS DOUBLE) - 0)
        |      / ((600 - 0) / 20)) AS INT), 0), 19) AS bin,
        |    CAST(count(*) AS BIGINT) AS rn
        |  FROM documents WHERE n_chars IS NOT NULL AND lang = 'en'
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM ob),
        |rtot AS (SELECT CAST(sum(rn) AS BIGINT) AS rt FROM rb),
        |r AS (SELECT CAST(ob.bin AS BIGINT) AS bin, n,
        |    CAST(n AS DOUBLE) / t AS obs_frac,
        |    CAST(COALESCE(rn, 0) AS DOUBLE) / rt AS ref_frac
        |  FROM ob LEFT JOIN rb USING (bin) CROSS JOIN tot CROSS JOIN rtot),
        |r2 AS (SELECT *, ref_frac / obs_frac AS ratio FROM r),
        |mx AS (SELECT max(ratio) AS m FROM r2)
        |SELECT bin, n, obs_frac, ref_frac, ratio,
        |  CASE WHEN m > 0 THEN ratio / m END AS keep_prob
        |FROM r2 CROSS JOIN mx ORDER BY bin""".stripMargin,
    // recompute both versions from the fixture slices (v1 = mod-3
    // partial, v2 = full table), then the x140 JSD chain on the tagged
    // union — manifest/time-travel semantics are value-checked by the
    // version row counts flowing through n
    "x163_version_mix_drift" ->
      """WITH tagged AS (
        |  SELECT 'v1' AS version, lang FROM documents WHERE doc_id % 3 <> 2
        |  UNION ALL
        |  SELECT 'v2' AS version, lang FROM documents),
        |cells AS (SELECT version, lang, CAST(count(*) AS BIGINT) AS o
        |          FROM tagged WHERE lang IS NOT NULL GROUP BY 1, 2),
        |pooled AS (SELECT lang, CAST(sum(o) AS BIGINT) AS pool
        |           FROM cells GROUP BY 1),
        |totals AS (SELECT version, CAST(sum(o) AS BIGINT) AS n
        |           FROM cells GROUP BY 1),
        |grand AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells),
        |grid AS (SELECT totals.version, totals.n, pooled.lang, pooled.pool,
        |                COALESCE(c.o, 0) AS o, grand.t
        |         FROM totals CROSS JOIN pooled
        |         LEFT JOIN cells c ON c.version = totals.version
        |           AND c.lang = pooled.lang
        |         CROSS JOIN grand),
        |terms AS (SELECT version, n, lang,
        |    CASE WHEN o > 0 THEN (CAST(o AS DOUBLE) / n)
        |      * ln((CAST(o AS DOUBLE) / n)
        |          / ((CAST(o AS DOUBLE) / n + CAST(pool AS DOUBLE) / t) / 2))
        |      ELSE 0 END / 2
        |    + (CAST(pool AS DOUBLE) / t)
        |      * ln((CAST(pool AS DOUBLE) / t)
        |          / ((CAST(o AS DOUBLE) / n + CAST(pool AS DOUBLE) / t) / 2)) / 2
        |      AS trm
        |  FROM grid)
        |SELECT version, n, round(list_sum(list(trm ORDER BY lang)), 6) AS jsd
        |FROM terms GROUP BY 1, 2 ORDER BY version""".stripMargin,
    // disjoint observation/outcome filters on one scan; exact counts +
    // one datediff; left-join label
    "x164_churn_training_frame" ->
      """WITH ev AS (
        |  SELECT user_id, ts, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |f AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_total,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_click,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_view,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchase,
        |    CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_error,
        |    CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_signup,
        |    CAST(date_diff('day', CAST(max(ts) AS DATE), DATE '2024-01-20')
        |      AS BIGINT) AS days_silent
        |  FROM ev WHERE ts < TIMESTAMP '2024-01-20 00:00:00' GROUP BY 1),
        |o AS (SELECT DISTINCT user_id, CAST(1 AS BIGINT) AS l FROM ev
        |      WHERE ts > TIMESTAMP '2024-01-20 00:00:00'
        |        AND ts <= TIMESTAMP '2024-01-27 00:00:00')
        |SELECT f.*, COALESCE(l, 0) AS label
        |FROM f LEFT JOIN o USING (user_id) ORDER BY user_id""".stripMargin,
    // x145's series -> Holt recurrence as a struct fold (init l=x1,
    // t=x2-x1); forecast reads the PREVIOUS fold state; residual
    // subtracts the unrounded forecast
    "x165_holt_forecast" ->
      """WITH r AS (
        |  SELECT event_type,
        |    CAST(floor(CAST(epoch(date_trunc('second', ts)) AS BIGINT)
        |      / 86400) AS BIGINT) AS bin,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |ser AS (SELECT event_type,
        |          list(struct_pack(bin := bin, n := n) ORDER BY bin) AS s
        |        FROM r GROUP BY 1),
        |folded AS (SELECT event_type, s,
        |    list_reduce(
        |      [[{'l': s[1].n,
        |         't': CASE WHEN len(s) >= 2 THEN s[2].n - s[1].n
        |              ELSE CAST(0 AS DOUBLE) END,
        |         'v': CAST(0 AS DOUBLE)}]]
        |      || list_transform(s[2:], e -> [{'l': CAST(0 AS DOUBLE),
        |           't': CAST(0 AS DOUBLE), 'v': e.n}]),
        |      (acc, e) -> acc || [{
        |        'l': CAST(0.5 AS DOUBLE) * e[1].v
        |          + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE))
        |            * (acc[len(acc)].l + acc[len(acc)].t),
        |        't': CAST(0.3 AS DOUBLE)
        |            * ((CAST(0.5 AS DOUBLE) * e[1].v
        |              + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE))
        |                * (acc[len(acc)].l + acc[len(acc)].t))
        |              - acc[len(acc)].l)
        |          + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE))
        |            * acc[len(acc)].t,
        |        'v': e[1].v}]) AS f
        |  FROM ser),
        |ex AS (SELECT event_type, unnest(list_transform(range(1, len(s) + 1),
        |    i -> {'bin': s[i].bin, 'n': s[i].n,
        |          'level': round(f[i].l, 6), 'trend': round(f[i].t, 6),
        |          'forecast': CASE WHEN i >= 2
        |            THEN round(f[i-1].l + f[i-1].t, 6) END,
        |          'residual': CASE WHEN i >= 2
        |            THEN round(s[i].n - (f[i-1].l + f[i-1].t), 6) END})) AS u
        |  FROM folded)
        |SELECT event_type, u.bin AS bin, u.n AS n, u.level AS level,
        |  u.trend AS trend, u.forecast AS forecast, u.residual AS residual
        |FROM ex ORDER BY event_type, bin""".stripMargin,
    // exact (type, day) counts -> weekday rollup (+1 shifts DuckDB's
    // 0-based Sunday onto Spark's 1-based) -> two divides per row
    "x166_dow_seasonality" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |bd AS (SELECT event_type,
        |    CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
        |    CAST(sum(n) AS BIGINT) AS events,
        |    CAST(count(*) AS BIGINT) AS days
        |  FROM daily GROUP BY 1, 2),
        |ov AS (SELECT event_type, CAST(sum(n) AS DOUBLE) / count(*)
        |    AS overall FROM daily GROUP BY 1)
        |SELECT event_type, dow, events, days,
        |  round(CAST(events AS DOUBLE) / days, 6) AS avg_daily,
        |  round(CAST(events AS DOUBLE) / days / overall, 6)
        |    AS seasonality_index
        |FROM bd JOIN ov USING (event_type)
        |ORDER BY event_type, dow""".stripMargin,
    // the shared NB replay to fs, then the 'en' log-posterior slice
    // quantized to the 1e-2 lattice (floor(x*100+0.5)/100 — the house
    // half-up on both engines) and the x117 cumulative-confusion tail
    "x167_nb_sweep_binned" -> duckNbSweepSql(""),
    // the injected-null variant: every 7th scored doc's label nulls
    // and must drop from the lattice and the confusion counts alike
    "x174_binned_sweep_null_labels" ->
      duckNbSweepSql(" AND doc_id % 7 <> 0"),
    // the ranged serve equals the full report's day slice: replay the
    // x153/x169 oracle and cut the range — coverage days before the
    // range start feed the in-range windows on BOTH sides
    "x175_growth_mv_ranged" ->
      ("SELECT * FROM (" + duckActiveUsersSql + ") WHERE day BETWEEN " +
        "DATE '2024-01-05' AND DATE '2024-01-20' ORDER BY day"),
    // the interpolating sketch read against quantile_cont itself — the
    // x28/x150 integer-input interpolation parity, served from the
    // per-commit sketch blobs instead of a table rescan
    "x176_snapshot_quantiles_cont" ->
      """WITH s AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |           WHERE n_chars IS NOT NULL),
        |qc AS (SELECT quantile_cont(v,
        |         [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS a FROM s)
        |SELECT CAST(t.i AS BIGINT) AS qi, qc.a[CAST(t.i AS INT) + 1] AS value
        |FROM qc, range(6) t(i) ORDER BY qi""".stripMargin,
    // one ordered cumsum + integer chunk arithmetic replays the
    // band-decomposed packing exactly (pure function of the
    // (id, tokens) set)
    "x180_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS tk FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |    AND n_chars > 0),
        |o AS (
        |  SELECT doc_id, tk,
        |    CAST(COALESCE(SUM(tk) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS st
        |  FROM d),
        |p AS (
        |  SELECT doc_id, tk, st,
        |    unnest(range(st // 2048, (st + tk - 1) // 2048 + 1)) AS seq_id
        |  FROM o)
        |SELECT doc_id, seq_id,
        |  GREATEST(seq_id * 2048 - st, 0) AS doc_offset,
        |  GREATEST(st - seq_id * 2048, 0) AS seq_offset,
        |  LEAST(st + tk, (seq_id + 1) * 2048)
        |    - GREATEST(st, seq_id * 2048) AS piece_len
        |FROM p ORDER BY seq_id, seq_offset""".stripMargin,
    // the per-source replay: PARTITION BY lang on the cumsum, chunk
    // arithmetic unchanged — sequence ids restart per stream
    "x181_pack_by_source" ->
      """WITH d AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS tk
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND lang IS NOT NULL
        |    AND n_chars IS NOT NULL AND n_chars > 0),
        |o AS (
        |  SELECT doc_id, lang, tk,
        |    CAST(COALESCE(SUM(tk) OVER (PARTITION BY lang
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS st
        |  FROM d),
        |p AS (
        |  SELECT doc_id, lang, tk, st,
        |    unnest(range(st // 2048, (st + tk - 1) // 2048 + 1)) AS seq_id
        |  FROM o)
        |SELECT lang, doc_id, seq_id,
        |  GREATEST(seq_id * 2048 - st, 0) AS doc_offset,
        |  GREATEST(st - seq_id * 2048, 0) AS seq_offset,
        |  LEAST(st + tk, (seq_id + 1) * 2048)
        |    - GREATEST(st, seq_id * 2048) AS piece_len
        |FROM p ORDER BY lang, seq_id, seq_offset""".stripMargin,
    // quantile_cont over the day slice directly — the MV serve's day
    // prune + sketch merge + interpolating read must land on the same
    // values in the exact regime (integer cents, x28/x176 parity)
    "x179_mv_kll_quantiles_ranged" ->
      """WITH s AS (
        |  SELECT CAST(floor(value * 100 + 0.5) AS DOUBLE) AS v
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |    AND event_id IS NOT NULL
        |    AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08'
        |                             AND DATE '2024-01-14'),
        |qc AS (SELECT quantile_cont(v,
        |         [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS a FROM s)
        |SELECT 'all' AS key, CAST(t.i AS BIGINT) AS qi,
        |  qc.a[CAST(t.i AS INT) + 1] AS value
        |FROM qc, range(6) t(i) ORDER BY qi""".stripMargin,
    // the x61 shingle spelling, distinct-DOC counts, gaps-and-islands
    // run merge per doc, span text via list slice
    "x168_crossdoc_spans" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tk AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 8),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(toks) <= 8 THEN [array_to_string(toks, ' ')]
        |             ELSE list_transform(range(0, len(toks) - 8 + 1),
        |                    i -> array_to_string(toks[i+1:i+8], ' ')) END AS shs
        |      FROM tk),
        |e AS (SELECT doc_id, unnest(range(0, len(shs))) AS pos, unnest(shs) AS sh
        |      FROM s),
        |r AS (SELECT sh FROM e GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
        |h AS (SELECT doc_id, pos FROM e WHERE sh IN (SELECT sh FROM r)),
        |i AS (SELECT doc_id, pos,
        |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM h),
        |sp AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |              CAST(count(*) + 8 - 1 AS BIGINT) AS span_len,
        |              CAST(count(*) AS BIGINT) AS n_shingles
        |       FROM i GROUP BY doc_id, grp)
        |SELECT sp.doc_id, span_start, span_len, n_shingles,
        |  array_to_string(tk.toks[span_start + 1 : span_start + span_len], ' ')
        |    AS span_text
        |FROM sp JOIN tk USING (doc_id)
        |ORDER BY doc_id, span_start""".stripMargin,
    // the x182 FLAGSHIP replay: the shared pipeline chain (below) +
    // the x180 cumsum-and-chunk packing tail
    "x182_corpus_pipeline" -> (duckCorpusPipelineCtes + ",\n" +
      """pd AS (SELECT c3.id, CAST(len(string_split(c3.t, ' ')) AS BIGINT) AS tk
        |       FROM corpus c3 JOIN smp USING (id)),
        |po AS (SELECT id, tk,
        |         CAST(COALESCE(SUM(tk) OVER (ORDER BY id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS st
        |       FROM pd),
        |pp AS (SELECT id, tk, st,
        |         unnest(range(st // 2048, (st + tk - 1) // 2048 + 1)) AS seq_id
        |       FROM po)
        |SELECT id AS doc_id, seq_id,
        |  GREATEST(seq_id * 2048 - st, 0) AS doc_offset,
        |  GREATEST(st - seq_id * 2048, 0) AS seq_offset,
        |  LEAST(st + tk, (seq_id + 1) * 2048)
        |    - GREATEST(st, seq_id * 2048) AS piece_len
        |FROM pp ORDER BY seq_id, seq_offset""".stripMargin),
    // the x183 funnel replay: the SAME shared chain, read at each
    // stage boundary — doc count + token mass after curate / dedup /
    // decontaminate / mix
    "x183_corpus_funnel" -> (duckCorpusPipelineCtes + "\n" +
      """SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_idx, 'curated' AS stage,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(COALESCE(sum(len(string_split(c.t, ' '))), 0) AS BIGINT)
        |      AS n_tokens
        |  FROM keep JOIN corpus c USING (id)
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'deduped',
        |    CAST(count(*) AS BIGINT),
        |    CAST(COALESCE(sum(len(string_split(c.t, ' '))), 0) AS BIGINT)
        |  FROM dd JOIN corpus c USING (id)
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), 'clean',
        |    CAST(count(*) AS BIGINT),
        |    CAST(COALESCE(sum(len(string_split(c.t, ' '))), 0) AS BIGINT)
        |  FROM cln JOIN corpus c USING (id)
        |  UNION ALL
        |  SELECT CAST(4 AS BIGINT), 'sampled',
        |    CAST(count(*) AS BIGINT),
        |    CAST(COALESCE(sum(len(string_split(c.t, ' '))), 0) AS BIGINT)
        |  FROM smp JOIN corpus c USING (id))
        |ORDER BY stage_idx""".stripMargin),
    // the x184 incremental-ingest replay: shared frozen-vocab curate +
    // decon + greedy two-batch online-dedup chain → accepted corpus
    "x184_incremental_corpus" -> (duckIncrementalCorpusCtes + "\n" +
      "SELECT id, ingest_batch FROM acc ORDER BY id"),
    // x185: the SAME chain read as the per-batch acceptance funnel
    "x185_incremental_funnel" -> (duckIncrementalCorpusCtes + "\n" +
      """SELECT ingest_batch,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(c.t, ' '))) AS BIGINT) AS n_tokens
        |FROM acc JOIN corpus c USING (id)
        |GROUP BY ingest_batch ORDER BY ingest_batch""".stripMargin),
    // x186: the retroactive sweep — the SAME chain's accepted set,
    // 8-gram overlap vs the NEW (doc_id % 7) benchmark, evictees only
    "x186_retro_decontam" -> (duckIncrementalCorpusCtes + ",\n" +
      """nb AS (
        |  SELECT DISTINCT unnest(ss8) AS nbsh FROM s8
        |  WHERE id < 1000000 AND id % 7 = 0),
        |ads AS (SELECT s2.id, unnest(s2.ss8) AS sh
        |        FROM s8 s2 JOIN acc USING (id)),
        |acont AS (
        |  SELECT ads.id,
        |    CAST(count(n.nbsh) AS DOUBLE) / count(*) AS contamination
        |  FROM ads LEFT JOIN nb n ON ads.sh = n.nbsh GROUP BY ads.id)
        |SELECT a.id, acc.ingest_batch, a.contamination
        |FROM acont a JOIN acc USING (id)
        |WHERE a.contamination > 0.2
        |ORDER BY a.id""".stripMargin),
    // x187: the post-eviction, post-batch-2, post-compaction accepted
    // corpus — the greedy chain re-derived over the three-arm corpus
    // with the %7 sweep applied as an eviction between rounds
    "x187_evicted_corpus" -> (duckEvictedCorpusCtes + "\n" +
      "SELECT id, ingest_batch FROM accf ORDER BY id"),
    // x188: the same lifecycle read as the per-batch funnel, served
    // from the compacted generation on the Spark side
    "x188_compacted_funnel" -> (duckEvictedCorpusCtes + "\n" +
      """SELECT ingest_batch,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(c.t, ' '))) AS BIGINT) AS n_tokens
        |FROM accf JOIN corpus c USING (id)
        |GROUP BY ingest_batch ORDER BY ingest_batch""".stripMargin),
  )

  /** The shared x182/x183 replay chain: the portable pair CTEs
    * (corpus + pairs), then curate (x40's metric/verdict spelling
    * over the normalized corpus text — toks == ltoks there) →
    * survivor-restricted pair components + keep-best (x57) →
    * shingle-overlap decontamination (x20, benchmark = original docs
    * with doc_id % 10 = 0, shingle sets reused from the pair chain) →
    * mixture weights on the detected language + the 48-bit sha256
    * threshold apply. Ends at `smp(id)` — the post-mix survivor set —
    * with every stage boundary (`keep`, `dd`, `cln`, `smp`) readable
    * by consumers. Built by concatenation (an outer stripMargin would
    * re-strip the chain's `||` lane-concat lines). */
  /** Curate CTE fragment — x40's metric/verdict spelling over the
    * normalized `corpus` relation, ending at `keep(id)` (the curation
    * survivors). `vocabWhere` restricts the token rows feeding the
    * top-30 vocabulary: empty = whole-corpus vocabulary (the batch
    * pipeline, x182); `"WHERE id < 1000000"` = vocabulary frozen on
    * the original docs (the incremental pipeline's frozen-vocab
    * contract, x184). ONE spelling for both chains — in-lockstep
    * copies desynchronize silently. */
  private def duckCurateCtes(vocabWhere: String): String =
    s"""cm0 AS (
       |  SELECT id, t, LENGTH(t) AS n_chars,
       |    string_split(t, ' ') AS ltoks,
       |    len(regexp_extract_all(t, '[^A-Za-z0-9\\s]')) AS n_punct
       |  FROM corpus),
       |cm AS (
       |  SELECT id, n_chars, len(ltoks) AS n_tokens,
       |    CAST(list_sum(list_transform(ltoks, tk -> length(tk))) AS DOUBLE)
       |      / greatest(len(ltoks), 1) AS avg_tok,
       |    CAST(len(list_filter(ltoks, tk -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as'], tk))) AS DOUBLE)
       |      / greatest(len(ltoks), 1) AS stop_r,
       |    CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_r,
       |    CAST(len(list_filter(ltoks, tk -> list_contains(['the','and','of','is','with'], tk))) AS BIGINT) AS s_en,
       |    CAST(len(list_filter(ltoks, tk -> list_contains(['el','la','de','que','y'], tk))) AS BIGINT) AS s_es,
       |    CAST(len(list_filter(ltoks, tk -> list_contains(['le','la','et','les','des'], tk))) AS BIGINT) AS s_fr,
       |    CAST(len(list_filter(ltoks, tk -> list_contains(['der','die','das','und','ist'], tk))) AS BIGINT) AS s_de
       |  FROM cm0),
       |lq AS (
       |  SELECT id, $duckQualityExpr AS quality,
       |    $duckLangExpr AS lang_guess
       |  FROM cm),
       |grams AS (
       |  SELECT id,
       |    CASE WHEN len(ltoks) <= 3 THEN [array_to_string(ltoks, ' ')]
       |         ELSE list_transform(range(0, len(ltoks) - 3 + 1),
       |                i -> array_to_string(ltoks[i+1:i+3], ' '))
       |    END AS g
       |  FROM cm0),
       |rep AS (
       |  SELECT id,
       |    CAST(1 AS DOUBLE) - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
       |      AS dup_ngram_frac
       |  FROM grams),
       |tok AS (SELECT id, unnest(ltoks) AS tok FROM cm0),
       |vocab AS (
       |  SELECT token FROM (
       |    SELECT tok AS token, count(*) AS cnt FROM tok $vocabWhere
       |    GROUP BY 1 ORDER BY cnt DESC, token LIMIT 30)),
       |oov AS (
       |  SELECT id,
       |    CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |      / count(*) AS oov_rate
       |  FROM tok tt LEFT JOIN vocab v ON tt.tok = v.token
       |  GROUP BY id),
       |keep AS (
       |  SELECT lq.id FROM lq JOIN rep USING (id) JOIN oov USING (id)
       |  WHERE quality >= 0.5 AND dup_ngram_frac <= 0.3
       |    AND lang_guess <> 'und' AND oov_rate <= 0.6)""".stripMargin

  /** Decontamination CTE fragment — the 8-gram shingle-overlap gate
    * (benchmark = original docs with doc_id % 10 = 0, shingles built
    * from the pair chain's `toks`), run over `inputRel`'s ids and
    * ending at `cln(id)`. `inputRel` = `"dd"` (post-dedup — the batch
    * pipeline's stage order) or `"keep"` (post-curate — the
    * incremental pipeline's, where dedup runs LAST against the
    * accepted index). */
  private def duckDeconCtes(inputRel: String): String =
    s"""s8 AS (
       |  SELECT id, list_distinct(
       |    CASE WHEN len(w) <= 8 THEN [array_to_string(w, ' ')]
       |         ELSE list_transform(range(0, len(w) - 8 + 1),
       |                i -> array_to_string(w[i+1:i+8], ' '))
       |    END) AS ss8
       |  FROM toks),
       |bench AS (
       |  SELECT DISTINCT unnest(ss8) AS bsh FROM s8
       |  WHERE id < 1000000 AND id % 10 = 0),
       |ds AS (SELECT s2.id, unnest(s2.ss8) AS sh FROM s8 s2 JOIN $inputRel USING (id)),
       |cont AS (
       |  SELECT ds.id, CAST(count(b.bsh) AS DOUBLE) / count(*) AS contamination
       |  FROM ds LEFT JOIN bench b ON ds.sh = b.bsh GROUP BY ds.id),
       |cln AS (SELECT id FROM cont WHERE contamination <= 0.2)""".stripMargin

  /** The shared x184/x185 replay chain: the portable pair CTEs, then
    * curate with the vocabulary FROZEN on batch 0 (the originals),
    * 8-gram decontamination over the curation survivors, then the
    * greedy two-batch online dedup — batch 0 = originals
    * (id < 1000000), batch 1 = perturbed copies, replaying
    * [[graft.ext.IncrementalCorpus]]'s direct-edge drop rule exactly:
    * within a batch the higher id of a verified pair drops; a batch
    * doc paired with an ACCEPTED doc drops; pairs to DROPPED docs
    * decide nothing (the index holds accepted docs only). Ends at
    * `acc(id, ingest_batch)`. */
  private def duckIncrementalChain(pairPrefix: String): String = (pairPrefix + ",\n" +
      duckCurateCtes(vocabWhere = "WHERE id < 1000000") + ",\n" +
      duckDeconCtes("keep") + ",\n" +
      """b0 AS (SELECT id FROM cln WHERE id < 1000000),
        |b1 AS (SELECT id FROM cln WHERE id >= 1000000 AND id < 2000000),
        |drop0 AS (
        |  SELECT DISTINCT p.id_b AS id FROM pairs p
        |  JOIN b0 a ON a.id = p.id_a JOIN b0 b ON b.id = p.id_b),
        |acc0 AS (SELECT id FROM b0 ANTI JOIN drop0 USING (id)),
        |drop1 AS (
        |  SELECT p.id_b AS id FROM pairs p
        |    JOIN b1 a ON a.id = p.id_a JOIN b1 b ON b.id = p.id_b
        |  UNION
        |  SELECT p.id_b FROM pairs p
        |    JOIN acc0 a ON a.id = p.id_a JOIN b1 b ON b.id = p.id_b
        |  UNION
        |  SELECT p.id_a FROM pairs p
        |    JOIN b1 a ON a.id = p.id_a JOIN acc0 b ON b.id = p.id_b),
        |acc1 AS (SELECT id FROM b1 ANTI JOIN drop1 USING (id)),
        |acc AS (
        |  SELECT id, CAST(0 AS BIGINT) AS ingest_batch FROM acc0
        |  UNION ALL
        |  SELECT id, CAST(1 AS BIGINT) AS ingest_batch FROM acc1)""".stripMargin)

  private lazy val duckIncrementalCorpusCtes: String =
    duckIncrementalChain(duckPortablePairCtes)

  /** The x187/x188 replay: the SAME two-batch chain over a THREE-arm
    * corpus (originals; first-token-dropped copies at +1e6; first-TWO-
    * tokens-dropped copies at +2e6 — batch 2's delta), extended by the
    * retroactive %7-benchmark sweep committed as an EVICTION (`ev` —
    * exactly the x186 filter), then one more greedy online round for
    * batch 2 against the post-eviction accepted set: an evictee's
    * near-dup no longer faces the evictee's index rows (it re-faces
    * the %10 ingest bench and the SURVIVING accepted docs only), while
    * a still-accepted doc's near-dup drops — the evict-visibility rule
    * under a full cross-engine replay. Compaction is read-preserving
    * by contract, so the same SQL also oracles the compacted layout
    * the Spark side serves from. Ends at `accf(id, ingest_batch)`. */
  private lazy val duckEvictedCorpusCtes: String =
    duckIncrementalChain(duckPortablePairCtesAt(16, 4, 0.7,
      extraCorpusArm = """
        |  UNION ALL
        |  SELECT id + 2000000 AS id,
        |         CASE WHEN strpos(t1, ' ') > 0 THEN substr(t1, strpos(t1, ' ') + 1)
        |              ELSE t1 END AS t
        |  FROM (SELECT id,
        |          CASE WHEN strpos(t, ' ') > 0 THEN substr(t, strpos(t, ' ') + 1)
        |               ELSE t END AS t1
        |        FROM base)""".stripMargin)) + ",\n" +
      """nb2 AS (
        |  SELECT DISTINCT unnest(ss8) AS nbsh FROM s8
        |  WHERE id < 1000000 AND id % 7 = 0),
        |ads2 AS (SELECT s2.id, unnest(s2.ss8) AS sh
        |         FROM s8 s2 JOIN acc USING (id)),
        |ev AS (
        |  SELECT ads2.id,
        |    CAST(count(n.nbsh) AS DOUBLE) / count(*) AS contamination
        |  FROM ads2 LEFT JOIN nb2 n ON ads2.sh = n.nbsh GROUP BY ads2.id
        |  HAVING CAST(count(n.nbsh) AS DOUBLE) / count(*) > 0.2),
        |acck AS (SELECT id, ingest_batch FROM acc ANTI JOIN ev USING (id)),
        |b2 AS (SELECT id FROM cln WHERE id >= 2000000),
        |drop2 AS (
        |  SELECT p.id_b AS id FROM pairs p
        |    JOIN b2 a ON a.id = p.id_a JOIN b2 b ON b.id = p.id_b
        |  UNION
        |  SELECT p.id_b FROM pairs p
        |    JOIN acck a ON a.id = p.id_a JOIN b2 b ON b.id = p.id_b
        |  UNION
        |  SELECT p.id_a FROM pairs p
        |    JOIN b2 a ON a.id = p.id_a JOIN acck b ON b.id = p.id_b),
        |acc2 AS (SELECT id FROM b2 ANTI JOIN drop2 USING (id)),
        |accf AS (
        |  SELECT id, ingest_batch FROM acck
        |  UNION ALL
        |  SELECT id, CAST(2 AS BIGINT) AS ingest_batch FROM acc2)""".stripMargin

  private lazy val duckCorpusPipelineCtes: String = (duckRecursivePairCtes + ",\n" +
      duckCurateCtes(vocabWhere = "") + ",\n" +
      """spairs AS (
         |  SELECT id_a, id_b FROM pairs
         |  WHERE id_a IN (SELECT id FROM keep)
         |    AND id_b IN (SELECT id FROM keep)),
         |""".stripMargin +
      duckComponentCtesOver("spairs") + ",\n" +
      """scored AS (
        |  SELECT g.id, g.group_id, len(c.t) AS score
        |  FROM comp g JOIN corpus c ON c.id = g.id),
        |best AS (
        |  SELECT id FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY group_id
        |                             ORDER BY score DESC, id ASC) = 1),
        |dd AS (
        |  SELECT k.id FROM keep k LEFT JOIN comp g ON g.id = k.id
        |  WHERE g.id IS NULL OR k.id IN (SELECT id FROM best)),
        |""".stripMargin +
      duckDeconCtes("dd") + ",\n" +
      """bsrc AS (SELECT doc_id AS bid, source FROM documents),
        |mixg AS (SELECT c2.id, s.source AS grp FROM cln c2
        |         JOIN bsrc s ON s.bid = c2.id % 1000000),
        |-- null mix keys are excluded from the frac denominator, the
        |-- mixtureWeights contract (x130's WHERE lang IS NOT NULL)
        |cnt AS (SELECT grp, CAST(count(*) AS BIGINT) AS n
        |        FROM mixg WHERE grp IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM cnt),
        |tgt(grp, target_frac) AS (VALUES
        |  """.stripMargin + duckX182TargetValues + """),
        |r AS (SELECT c.grp, CAST(c.n AS DOUBLE) / t2.tt AS frac,
        |        COALESCE(g.target_frac, CAST(0 AS DOUBLE)) AS target_frac
        |      FROM cnt c LEFT JOIN tgt g USING (grp) CROSS JOIN tot t2),
        |r2 AS (SELECT grp, target_frac / frac AS ratio FROM r),
        |mx AS (SELECT max(ratio) AS m FROM r2),
        |w AS (SELECT grp, CASE WHEN m > 0 THEN ratio / m END AS keep_prob
        |      FROM r2 CROSS JOIN mx),
        |smp AS (
        |  SELECT l.id FROM mixg l JOIN w ON w.grp = l.grp
        |  WHERE w.keep_prob IS NOT NULL
        |    AND substr(sha256('x182:' || l.id), 1, 12) <
        |      CASE WHEN w.keep_prob >= 1.0 THEN 'g'
        |           ELSE printf('%012x',
        |                  CAST(greatest(0, floor(w.keep_prob * 281474976710656.0)) AS BIGINT))
        |      END)""".stripMargin)

  /** The x182 target map rendered as DuckDB VALUES rows — generated
    * from [[x182Targets]] so the two sides can never desynchronize
    * (Double.toString round-trips, and DuckDB's decimal→double parse
    * is correctly rounded to the same IEEE value). */
  private lazy val duckX182TargetValues: String =
    x182Targets.toSeq.sortBy(_._1)
      .map { case (g, f) => s"('$g', CAST($f AS DOUBLE))" }
      .mkString(", ")
}
