package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** IVF (inverted-file) approximate nearest neighbor index — the
  * learned-quantizer scale path, complementing the data-independent
  * sign-LSH in [[Similarity]].
  *
  * Build: fit k-means coarse centroids (MLlib, public Spark API), assign
  * every vector to its nearest centroid, and persist/partition the
  * assignment table by `cluster` — at 100 TB the assignment write is one
  * narrow pass and the partitioned layout makes each probe a partition
  * prune, not a scan.
  *
  * Query: rank centroids against the query ON THE DRIVER (k × dim floats —
  * trivially small), probe the nearest `nProbes` clusters, exact-rank
  * inside with the native cosine kernel. Recall/latency trades via
  * `nProbes` exactly as in classical IVF-Flat.
  */
object IvfIndex {

  final case class Model(centroids: Array[Array[Double]], assigned: DataFrame,
                         fitRows: Long)

  /** Fit the coarse quantizer and assign every row to a cluster.
    *
    * The quantizer is fit on a bounded-in-expectation deterministic
    * sample (≈`maxFitRows` rows, via [[Sampling.preciseBernoulliSample]]
    * keyed by `seed` — the 48-bit variant, because the 16-bit sampler's
    * threshold quantizes cluster-scale fractions like 10⁶/10¹² to an
    * empty sample): MLlib k-means makes `maxIter` full passes over its
    * input, which at 100 TB would dominate the build for no recall
    * benefit — coarse centroids converge on ~10⁶ points regardless of
    * corpus size (classical IVF practice). Assignment then touches every
    * row exactly ONCE (a narrow transform), so the full build is one
    * bounded fit + one full pass. Inputs at or under the bound fit on
    * every row. Fits of at most `localFitRows` rows take the driver-side
    * Lloyd path below, whose centroids differ from an MLlib fit of the
    * same rows (both valid); `localFitRows = 0` keeps the MLlib fit.
    * `fitRows` records how many rows the quantizer saw. */
  def fit(df: DataFrame, embCol: String, idCol: String, k: Int,
          seed: Long = 42L, maxFitRows: Long = 1000000L,
          localFitRows: Long = 262144L): Model = {
    require(maxFitRows > 0, s"maxFitRows must be positive, got $maxFitRows")
    val n = df.count()
    val sampled =
      if (n <= maxFitRows) df
      else Sampling.preciseBernoulliSample(df, idCol, s"ivf-fit:$seed",
        maxFitRows.toDouble / n)
    val fitRows = if (n <= maxFitRows) n else sampled.count()
    // Coarse quantizer, not a final model: random init + few iterations is
    // the standard IVF trade — assignment quality converges fast and the
    // probe stage re-ranks exactly anyway.
    //
    // Below `localFitRows` the Lloyd iterations run ON THE DRIVER over
    // the collected sample — the duplicateGroups small-graph instinct
    // (runtime-size-based re-planning) applied to k-means: the MLlib fit
    // costs init + maxIter scheduler round-trips over a frame that is
    // driver-sized by construction here, pure job-latency for a coarse
    // quantizer. Deterministic: rows sort by id before init, the seeded
    // shuffle picks the k starting points, means accumulate in sorted
    // row order. The two paths yield DIFFERENT (both valid) centroids —
    // every oracled consumer probes all clusters (centroid-independent
    // results) and the nProbes<k recall gates are property-pinned in
    // ExtSpec; assignment on the local path is [[assign]]'s contract
    // (argmin squared distance, first-minimum tie-break).
    if (fitRows <= localFitRows) {
      val centroids = localLloyd(
        sampled.filter(col(embCol).isNotNull)
          .select(col(idCol), col(embCol).cast("array<double>"))
          .orderBy(col(idCol))
          .collect()
          .map(_.getSeq[Double](1).toArray),
        k, seed, maxIter = 8)
      Model(centroids, assign(centroids, df, embCol, idCol), fitRows)
    } else {
      val km = new KMeans().setK(k).setSeed(seed)
        .setInitMode("random").setMaxIter(8)
        .setFeaturesCol("_vec").setPredictionCol("cluster")
      val model = km.fit(sampled.select(array_to_vector(col(embCol)).as("_vec")))
      val assigned = model.transform(df.withColumn("_vec", array_to_vector(col(embCol))))
        .select(col(idCol), col(embCol), col("cluster"))
      Model(model.clusterCenters.map(_.toArray), assigned, fitRows)
    }
  }

  /** Driver-side Lloyd's algorithm over a collected sample: seeded
    * random init (k distinct rows via a seeded shuffle), `maxIter`
    * assign-update rounds — squared-Euclidean argmin with
    * first-minimum tie-break (the [[assign]] rule), cluster mean
    * update, empty clusters keep their previous center. Pure function
    * of (data order, k, seed). */
  private[ext] def localLloyd(data: Array[Array[Double]], k: Int,
                              seed: Long, maxIter: Int): Array[Array[Double]] = {
    require(data.nonEmpty, "cannot fit a quantizer on an empty sample")
    val dim = data(0).length
    require(data.forall(_.length == dim),
      "fit sample has inconsistent embedding dimensions")
    val rnd = new scala.util.Random(seed)
    val init = rnd.shuffle(data.indices.toVector).take(math.min(k, data.length))
    val centers = init.map(i => data(i).clone()).toArray
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(centers.length, dim)(0.0)
      val counts = new Array[Long](centers.length)
      var r = 0
      while (r < data.length) {
        val v = data(r)
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < centers.length) {
          var dSq = 0.0; var j = 0
          val ct = centers(c)
          while (j < dim) { val t = v(j) - ct(j); dSq += t * t; j += 1 }
          if (dSq < bestD) { bestD = dSq; best = c }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(best) += 1
        r += 1
      }
      var c = 0
      while (c < centers.length) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centers(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      iter += 1
    }
    centers
  }

  /** Assignment against FIXED centroids as one narrow expression — the
    * incremental-index path ([[graft.warehouse.Snapshots.annIndex]]):
    * newly-arrived rows are assigned without re-fitting the quantizer
    * and without touching already-indexed data. cluster = argmin of
    * squared Euclidean distance (the k-means criterion); the fold keeps
    * the FIRST minimum, so ties break to the lowest cluster index —
    * deterministic under any partitioning and engine. Rows whose vector
    * is null or yields a null distance (e.g. dimension mismatch against
    * the centroids) are dropped — they could never be probed anyway.
    * Output schema matches [[fit]]'s `assigned`: (id, emb, cluster). */
  def assign(centroids: Array[Array[Double]], df: DataFrame, embCol: String,
             idCol: String): DataFrame = {
    require(centroids.nonEmpty, "assign needs at least one centroid")
    val centLit = array(centroids.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("i"), array(c.map(lit(_)): _*).as("c"))
    }: _*)
    val best = aggregate(centLit,
      struct(lit(-1).as("i"), lit(Double.PositiveInfinity).as("d")),
      (st, e) => {
        val dist = aggregate(
          zip_with(col(embCol), e.getField("c"),
            (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, v) => acc + v)
        when(dist < st.getField("d"),
          struct(e.getField("i").as("i"), dist.as("d"))).otherwise(st)
      },
      st => st.getField("i"))
    df.select(col(idCol), col(embCol), best.as("cluster"))
      .filter(col("cluster") >= 0)
  }

  /** Probe the `nProbes` centroids nearest to the query (cosine), then
    * exact-rank within those clusters only. */
  def topK(model: Model, embCol: String, idCol: String, query: Seq[Double],
           k: Int, nProbes: Int = 3, roundTo: Int = 6): DataFrame = {
    model.centroids.headOption.foreach { c =>
      require(c.length == query.length,
        s"query dimension ${query.length} != index dimension ${c.length}")
    }
    // degenerate (zero-norm) centroid or query ranks last, never NaN-first
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) Double.NegativeInfinity
      else dot / math.sqrt(na * nb)
    }
    val probes = model.centroids.zipWithIndex
      .sortBy { case (c, _) => -cos(c.toSeq, query) }
      .take(nProbes).map(_._2)
    val spark = model.assigned.sparkSession
    model.assigned
      .filter(col("cluster").isin(probes.toSeq: _*))
      .select(col(idCol),
        round(GraftFunctions.cosineSim(spark, col(embCol), Similarity.vecLit(query)),
          roundTo).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Batch probe: top-k neighbors for EVERY row of `queries` in one
    * distributed pass — the query-batch shape ([[Similarity.batchTopK]]
    * is the LSH-bucketed sibling; [[topK]] ranks centroids on the
    * driver, which a million-query batch cannot).
    *
    * Shape: the k×dim centroid table broadcasts against the query set
    * (BroadcastNestedLoopJoin over k rows — NOT a shuffle), each query
    * keeps its `nProbes` best centroids via the `row_number() <= n`
    * idiom (planned with Spark's partial `WindowGroupLimit`), the
    * probe pairs join the assignment table ON THE CLUSTER KEY — so
    * each query's candidate set is its probed lists only, never the
    * corpus — and the final per-query top-k is the
    * reducing heap aggregate (k rows per query per map task cross the
    * wire). Zero-norm sims are null → excluded on both engines (x19
    * convention). A query id equal to a corpus id is NOT excluded:
    * query and corpus ids are separate namespaces in the batch
    * contract (a corpus-sourced query surfaces itself at sim 1.0).
    *
    * Returns `(query_id, rank, neighbor_id, sim)`, ranks 1..k. */
  def batchTopK(model: Model, queries: DataFrame, embCol: String,
                idCol: String, k: Int, nProbes: Int = 3,
                roundTo: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbes > 0, s"nProbes must be positive, got $nProbes")
    val spark = model.assigned.sparkSession
    import spark.implicits._
    val cents = model.centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cluster", "_cvec")
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("_qv"))
    val ranked = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("_qv"), col("cluster"),
        GraftFunctions.cosineSim(spark, col("_qv"), col("_cvec")).as("_csim"))
      .filter(col("_csim").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_csim").desc, col("cluster"))
    val probes = ranked.withColumn("_pr", row_number().over(w))
      .filter(col("_pr") <= nProbes)
      .select(col("query_id"), col("_qv"), col("cluster"))
    val cand = probes.join(
      model.assigned.select(col(idCol).as("neighbor_id"),
        col(embCol).as("_nv"), col("cluster")), "cluster")
    cand
      .select(col("query_id"), col("neighbor_id"),
        round(GraftFunctions.cosineSim(spark, col("_qv"), col("_nv")),
          roundTo).as("sim"))
      .filter(col("sim").isNotNull)
      .groupBy(col("query_id"))
      .agg(GraftFunctions.topKBy(spark, col("sim"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("query_id"), (col("rank0") + 1).cast("bigint").as("rank"),
        col("t.value").as("neighbor_id"), col("t.key").as("sim"))
  }

  /** The compressed code table for [[batchTopKQuantized]]:
    * `(cluster, id, code)` with `code` the PACKED int8 quantization of
    * the embedding (BinaryType, one byte per dimension — 4-8x smaller
    * than the float rows). At 100 TB this is built ONCE next to the
    * assignment table and staged to parquet partitioned by `cluster`;
    * deriving it per query batch would re-read the wide float table the
    * codes exist to avoid. */
  def codes(model: Model, embCol: String, idCol: String): DataFrame = {
    val spark = model.assigned.sparkSession
    model.assigned.select(col("cluster"), col(idCol),
      GraftFunctions.int8Pack(spark, col(embCol)).as("code"))
  }

  /** [[batchTopK]] with a QUANTIZED first pass — the IVF+PQ-style
    * memory/IO shape for 100 TB ANN:
    *
    *  1. probe selection as in [[batchTopK]] (broadcast float
    *     centroids, `nProbes` best per query);
    *  2. APPROXIMATE rank inside the probed clusters on the packed
    *     int8 `codes` table — the scan touches `dim` bytes per
    *     candidate instead of the float row, and the distance is one
    *     integer byte-lane loop ([[graft.functions.Int8CosineSim]];
    *     symmetric-quantization scales cancel under cosine);
    *  3. keep `rerank` approximate-best candidates per query (the
    *     bounded `topKBy` heap — `rerank` rows per query cross the
    *     wire, never the candidate lists);
    *  4. EXACT float re-rank of the survivors only: one id-equi-join
    *     back to the float assignment — at scale the only touch of the
    *     wide vectors — then the final per-query top-k heap.
    *
    * `rerank` trades recall for float IO (classical PQ re-rank; 4k is
    * the conventional default). With `rerank` at or above the probed
    * candidate count nothing is cut and the result equals [[batchTopK]]
    * exactly — the oracle bridge (x112 pins the probe-all exact regime
    * against x99's brute-force SQL).
    *
    * Returns `(query_id, rank, neighbor_id, sim)` — exact float sims,
    * ranks 1..k. */
  def batchTopKQuantized(model: Model, codesDf: DataFrame, queries: DataFrame,
                         embCol: String, idCol: String, k: Int,
                         nProbes: Int = 3, rerank: Int = 0,
                         roundTo: Int = 6): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nProbes > 0, s"nProbes must be positive, got $nProbes")
    val effRerank = if (rerank > 0) rerank else 4 * k
    require(effRerank >= k, s"rerank ($effRerank) must be at least k ($k)")
    val spark = model.assigned.sparkSession
    import spark.implicits._
    val cents = model.centroids.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cluster", "_cvec")
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("_qv"),
      GraftFunctions.int8Pack(spark, col(embCol)).as("_qcode"))
    val ranked = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("_qv"), col("_qcode"), col("cluster"),
        GraftFunctions.cosineSim(spark, col("_qv"), col("_cvec")).as("_csim"))
      .filter(col("_csim").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("_csim").desc, col("cluster"))
    // the float query vector does NOT ride the candidate pipeline: a
    // 64-dim float _qv on every candidate row would be 4x wider than
    // the int8 code the narrow table exists for. Stages 2-3 carry only
    // (query_id, code sim); the survivors re-join the small query frame
    // for their exact re-rank — one extra scan of the QUERY side buys
    // candidate-volume x 256B off the big exchange.
    val probes = ranked.withColumn("_pr", row_number().over(w))
      .filter(col("_pr") <= nProbes)
      .select(col("query_id"), col("_qcode"), col("cluster"))
    // stage 2: approximate rank on the NARROW code table
    val approx = probes
      .join(codesDf.select(col("cluster"), col(idCol).as("neighbor_id"),
        col("code")), "cluster")
      .select(col("query_id"), col("neighbor_id"),
        GraftFunctions.int8Cosine(spark, col("_qcode"), col("code")).as("_asim"))
      .filter(col("_asim").isNotNull)
    // stage 3: per-query rerank cut as the REDUCING topKBy heap
    // (map-side partial, ≤ rerank rows per query per task cross the
    // wire) — NOT a row_number window: that plans as a Sort of every
    // candidate, measured 3×
    // slower than the flat path at 100× on the staged layout. Tie rule
    // (asim DESC, neighbor_id ASC) matches the window formulation.
    val survivors = approx
      .groupBy(col("query_id"))
      .agg(GraftFunctions.topKBy(spark, col("_asim"), col("neighbor_id"),
        effRerank).as("_cand"))
      .select(col("query_id"), explode(col("_cand")).as("t"))
      .select(col("query_id"), col("t.value").as("neighbor_id"))
    // stage 4: exact float re-rank of the survivors only
    survivors
      .join(q.select(col("query_id"), col("_qv")), "query_id")
      .join(model.assigned.select(col(idCol).as("neighbor_id"),
        col(embCol).as("_nv")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        round(GraftFunctions.cosineSim(spark, col("_qv"), col("_nv")),
          roundTo).as("sim"))
      .filter(col("sim").isNotNull)
      .groupBy(col("query_id"))
      .agg(GraftFunctions.topKBy(spark, col("sim"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rank0", "t")))
      .select(col("query_id"), (col("rank0") + 1).cast("bigint").as("rank"),
        col("t.value").as("neighbor_id"), col("t.key").as("sim"))
  }
}
