package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Portable KMV (k-minimum-values / bottom-k) distinct-count sketch —
  * the cross-engine-DETERMINISTIC counterpart of
  * `approx_count_distinct`: where HLL++'s register layout is
  * Spark-internal (spec-bounded but not value-checkable outside the
  * JVM), a KMV sketch is just the k smallest 60-bit sha256-derived
  * hashes of the distinct values, so any SQL engine reproduces the
  * sketch — and therefore the estimate — bit-for-bit. The estimator is
  * the classic (k−1)/h_k rule [Bar-Yossef et al. 2002; Beyer et al.
  * SIGMOD'07 unbiased KMV]: with h_k the kth smallest hash mapped into
  * [0,1), E[h_k] ≈ k/(n+1), rsd ≈ 1/√(k−2).
  *
  * Why this exists next to [[org.apache.spark.sql.functions.approx_count_distinct]]:
  * profile queries that feed DOWNSTREAM decisions (dedup rates, split
  * sizing, per-source caps) want estimates that are reproducible across
  * engines and re-runs, auditable by the same DuckDB oracle as every
  * other operator, and mergeable across shards/days by a pure SQL
  * bottom-k — e.g. a daily sketch table folded into a 90-day
  * cardinality without rescanning the corpus. Spark's HLL gives the
  * first two only within one engine; KMV gives all three anywhere.
  *
  * Scale shape: the hash projection is narrow; `distinct` on
  * (group, h) is one exchange that map-side combines; the bottom-k per
  * group is written as the `row_number ≤ k` idiom, which Spark plans
  * with a partial `WindowGroupLimit` — at most k longs per group leave
  * each map task, never the distinct-value stream. Global (ungrouped) sketches go through
  * [[kmvSketchSharded]]: bottom-k within 256 deterministic hash shards,
  * then one tiny merge — identical result (bottom-k of a union IS
  * bottom-k of per-shard bottom-k's), no single-reducer sort.
  */
object Sketches {

  /** 2^60 = 16^15, the hash-space size as an exactly-representable
    * double (both factors of every estimate stay exact). */
  val HashSpace: Double = 1152921504606846976.0

  /** 60-bit uniform hash: first 15 hex chars of sha256("salt:value").
    * 15 chars keep the value inside a signed 64-bit integer in EVERY
    * engine (16 would need unsigned); collisions at 2^60 are negligible
    * for any practical k. */
  def kmvHash(v: Column, salt: String = "kmv"): Column =
    conv(substring(sha2(concat_ws(":", lit(salt), v.cast("string")), 256), 1, 15),
      16, 10).cast("long")

  /** Per-group KMV sketch: `(groupCols..., kmv: array<long>)` with the
    * ≤ k smallest distinct hashes ascending. NULL values are excluded
    * (COUNT DISTINCT semantics). */
  def kmvSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
                k: Int, salt: String = "kmv"): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val hashed = df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ kmvHash(col(valueCol), salt).as("h"): _*)
      .distinct()
    bottomK(hashed, groupCols, k)
  }

  /** Global (ungrouped) sketch via 256 deterministic hash shards —
    * the beyond-memory shape: per-shard bottom-k (each shard's distinct
    * set is 1/256 of the stream), then bottom-k of the ≤ 256·k
    * survivors. Result is IDENTICAL to a direct global bottom-k. */
  def kmvSketchSharded(df: DataFrame, valueCol: String, k: Int,
                       salt: String = "kmv"): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val hashed = df.filter(col(valueCol).isNotNull)
      .select(kmvHash(col(valueCol), salt).as("h"))
      .distinct()
      .withColumn("_shard", pmod(col("h"), lit(256)))
    val perShard = bottomK(hashed, Seq("_shard"), k)
    bottomK(perShard.select(explode(col("kmv")).as("h")), Seq.empty, k)
  }

  /** Merge sketches group-wise: bottom-k of the union — the fold that
    * turns per-day/per-shard sketch tables into a period cardinality
    * without rescanning sources. Exact law (spec-pinned):
    * merge(sketch(A), sketch(B)) == sketch(A ∪ B). */
  def kmvMerge(sketches: Seq[DataFrame], groupCols: Seq[String],
               k: Int): DataFrame = {
    val exploded = sketches
      .map(_.select(groupCols.map(col) :+ explode(col("kmv")).as("h"): _*))
      .reduce(_ unionByName _)
      .distinct()
    bottomK(exploded, groupCols, k)
  }

  /** The estimate EXPRESSION — exact size when the sketch is
    * unsaturated (< k distinct hashes seen — the sketch IS the distinct
    * set), else (k−1)·2^60 / h_k. All factors are exactly-representable
    * doubles and the one division is IEEE, so the estimate is
    * bit-identical across engines. The one copy of this formula:
    * [[kmvEstimate]] and the incremental-MV KMV state
    * (`MvAgg.kmvDistinct`) both resolve through it. */
  def kmvEstimateCol(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble * HashSpace) /
        element_at(sketch, k).cast("double"))

  /** Append `distinct_est` (see [[kmvEstimateCol]]). */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame =
    sketch.withColumn("distinct_est", kmvEstimateCol(col("kmv"), k))

  /** rn ≤ k over (group ORDER BY h) → collect ascending. Spark plans
    * the grouped window with a partial `WindowGroupLimit`: at most k
    * longs per group leave each map task. An empty `groupCols` degenerates to
    * one global partition (callers with large distinct sets use
    * [[kmvSketchSharded]] instead). */
  private def bottomK(hashed: DataFrame, groupCols: Seq[String],
                      k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("h"))
    hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(col("h"))).as("kmv"))
  }

  /** Set-algebra estimates from two per-group KMV sketches — the
    * theta-sketch trick [Dasgupta et al., "Theta sketches"; Beyer et
    * al. SIGMOD'07 §4]: the merged sketch M = bottom-k(A ∪ B) is a
    * uniform sample of the union's hash space, so the fraction of M's
    * members present in BOTH input sketches estimates the Jaccard
    * similarity, and |A∩B| ≈ ρ · |A∪B|̂. Lets a pipeline answer
    * "how many users does source A share with source B" from two
    * KB-sized sketch tables instead of re-scanning either source.
    *
    * Output per group: `union_est`, `inter_est`, `jaccard_est`
    * (= matches/|M|, exact integer ratio). Every ingredient — member
    * hashes, the intersection count, the union estimate — is
    * engine-portable arithmetic, so the estimates are value-checkable
    * cross-engine like the base sketch. */
  def kmvSetEstimate(a: DataFrame, b: DataFrame, groupCols: Seq[String],
                     k: Int): DataFrame = {
    val merged = kmvMerge(Seq(a, b), groupCols, k)
    val aSet = a.select(groupCols.map(col) :+ explode(col("kmv")).as("h"): _*)
    val bSet = b.select(groupCols.map(col) :+ explode(col("kmv")).as("h"): _*)
    val inBoth = aSet.join(bSet, groupCols :+ "h")
    val est = kmvEstimate(merged, k)
      .select(groupCols.map(col) :+ size(col("kmv")).as("m_size") :+
        col("distinct_est").as("union_est") :+ col("kmv"): _*)
    val matches = merged
      .select(groupCols.map(col) :+ explode(col("kmv")).as("h"): _*)
      .join(inBoth, groupCols :+ "h", "left_semi")
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_match"))
    est.join(matches, groupCols, "left")
      .withColumn("n_match", coalesce(col("n_match"), lit(0L)))
      .select(groupCols.map(col) :+
        col("union_est") :+
        (col("n_match").cast("double") / col("m_size") * col("union_est"))
          .as("inter_est") :+
        (col("n_match").cast("double") / col("m_size")).as("jaccard_est"): _*)
  }

  // ------------------------------------------------------------------
  // Count-Min sketch (portable)
  // ------------------------------------------------------------------

  /** Row-`r` Count-Min hash: the same 60-bit sha256 derivation as
    * [[kmvHash]] with the row index folded into the salt, so the d hash
    * functions are independent AND every engine reproduces them. */
  def cmsHash(v: Column, row: Int, salt: String = "cms"): Column =
    kmvHash(v, s"$salt:$row")

  /** Portable Count-Min sketch [Cormode & Muthukrishnan '05] of the
    * multiset `valueCol`: a `(r, bucket, cnt)` table — depth rows ×
    * width buckets, `cnt` = how many input rows hashed into that cell.
    * The flat table IS the d×w counter matrix, stored sparse (absent
    * cell = 0), which is the right physical shape on a cluster: one
    * `posexplode` projection (narrow, d rows per input) and one
    * map-side-combining aggregate; sketch size ≤ d·w rows regardless of
    * input size. NULLs are excluded.
    *
    * Guarantees (spec-pinned in SketchSpec): estimates never
    * undercount; overcount ≤ εN with probability 1−δ for w = ⌈e/ε⌉,
    * d = ⌈ln 1/δ⌉; and the merge law `cms(A ⊎ B) = merge(cms(A),
    * cms(B))` holds EXACTLY (cell-wise sum), which is what lets per-day
    * sketch tables fold into a period sketch without rescanning. */
  def cmsSketch(df: DataFrame, valueCol: String, depth: Int, width: Int,
                salt: String = "cms"): DataFrame = {
    require(depth >= 1 && width >= 2, s"CMS needs depth>=1 width>=2, got ($depth, $width)")
    val buckets = (0 until depth).map(r => pmod(cmsHash(col(valueCol), r, salt), lit(width)))
    df.filter(col(valueCol).isNotNull)
      .select(posexplode(array(buckets: _*)).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Cell-wise sum of sketches built with the same (depth, width,
    * salt) — the exact merge law above. */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point-query the sketch for every distinct value of
    * `keys(keyCol)`: appends `est_cnt` = min over the d cells the key
    * hashes into (absent cell = 0). The probe is d rows per key joined
    * against the ≤ d·w-row sketch — broadcast-sized at any corpus
    * scale. */
  def cmsLookup(sketch: DataFrame, keys: DataFrame, keyCol: String,
                depth: Int, width: Int, salt: String = "cms"): DataFrame = {
    val buckets = (0 until depth).map(r => pmod(cmsHash(col(keyCol), r, salt), lit(width)))
    keys.filter(col(keyCol).isNotNull).distinct()
      .select(col(keyCol), posexplode(array(buckets: _*)).as(Seq("r", "bucket")))
      .join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  // ------------------------------------------------------------------
  // HyperLogLog (portable)
  // ------------------------------------------------------------------

  /** Portable HyperLogLog [Flajolet et al. '07] register table: for
    * each group, `(reg, maxrho)` over the ≤ 2^b registers that saw at
    * least one value. Unlike `approx_count_distinct` (HLL++ with a
    * Spark-internal register blob), every ingredient here is plain
    * SQL — 60-bit sha256 hash, register = h mod m, rho = rank of the
    * first 1-bit of w = h div m via `length(bin(w))` (integer string
    * ops, no floating log) — so any engine reproduces the registers
    * bit-for-bit and sketch tables are portable across the stack.
    *
    * Scale shape: one narrow projection + one (group, reg) max
    * aggregate that combines map-side; at most m rows per group ever
    * cross the wire. Merge across shards/days = the same max — pinned
    * as a law in SketchSpec. */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: String,
                   b: Int, salt: String = "hll"): DataFrame = {
    require(b >= 4 && b <= 16, s"HLL needs 4 <= b <= 16, got $b")
    val m = 1 << b
    val h = kmvHash(col(valueCol), salt)
    // h div m via bit shift: the Column `/` is DOUBLE division, which
    // silently rounds 60-bit longs (> 2^53); m is a power of two so a
    // shift is the exact integer division
    val w = shiftright(h, b) // top 60-b bits
    // rho = leading zeros of w in 60-b bits, + 1. length(bin(w)) =
    // floor(log2 w)+1 exactly; w = 0 means all 60-b bits are zero.
    val rho = when(w === 0, lit(61 - b))
      .otherwise(lit(61 - b) - length(bin(w)))
    df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ pmod(h, lit(m)).cast("int").as("reg") :+ rho.cast("int").as("rho"): _*)
      .groupBy(groupCols.map(col) :+ col("reg"): _*)
      .agg(max(col("rho")).as("maxrho"))
  }

  /** Register-wise max of register tables built with the same (b,
    * salt): `hll(A ∪ B) = merge(hll(A), hll(B))` exactly. */
  def hllMerge(sketches: Seq[DataFrame], groupCols: Seq[String]): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy(groupCols.map(col) :+ col("reg"): _*)
      .agg(max(col("maxrho")).as("maxrho"))

  /** Collapse a register table to one row per group:
    * `v_filled` (registers with data), `sum_scaled` = Σ 2^(61−M_j)
    * over ALL m registers (empty ⇒ M_j = 0 ⇒ 2^61) as DECIMAL(38,0) —
    * exact integer arithmetic, so the sum is order-independent and
    * engine-independent where a double Σ2^−M_j would round
    * order-dependently — and `distinct_est`, the HLL estimator
    * α_m·m²·2^61 / sum with the standard small-range linear-counting
    * correction, rounded to 4 dp (the one place a libm `ln` enters;
    * 4 dp absorbs any last-ulp divergence). */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String], b: Int): DataFrame = {
    val m = 1 << b
    val alpha = b match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val grouped = registers
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).cast("long").as("v_filled"),
        // shiftleft in the bigint domain (the DataFrame helper only
        // takes a literal shift); 61 - maxrho <= 61 stays in range
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 61 - maxrho) AS DECIMAL(38,0))"))
          .cast("decimal(38,0)").as("sum_filled"))
    val sumScaled = (col("sum_filled") +
      (lit(m).cast("decimal(38,0)") - col("v_filled")) * lit(2305843009213693952L).cast("decimal(38,0)"))
      .cast("decimal(38,0)")
    val raw = lit(alpha * m.toDouble * m.toDouble) * lit(HashSpace * 2.0) /
      sumScaled.cast("double")
    val est = when(raw <= lit(2.5 * m) && col("v_filled") < m,
      lit(m.toDouble) * log(lit(m.toDouble) / (lit(m) - col("v_filled")).cast("double")))
      .otherwise(raw)
    grouped.select(groupCols.map(col) :+ col("v_filled") :+
      sumScaled.as("sum_scaled") :+ round(est, 4).as("distinct_est"): _*)
  }
}
