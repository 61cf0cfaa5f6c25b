package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication — exact, MinHash+LSH, SimHash, n-gram Jaccard —
  * north-star extension for LLM-training-data pipelines.
  *
  * Everything is expression-level (codegen'd higher-order functions over
  * token/shingle arrays); the only shuffles are the groupBy/join on the
  * dedup key, which is the information-theoretic minimum.
  *
  * Scale design:
  *  - Exact dedup: shuffle on a 128-bit content hash, not the document
  *    text — map-side the row shrinks to (hash, id).
  *  - MinHash LSH: signature is computed in a narrow pass; candidate
  *    generation shuffles on (band, band_hash). Bands with pathological
  *    collision counts (boilerplate) are EXCLUDED from pairing via
  *    `maxBucket` to stop a quadratic bucket from dominating a 100 TB run
  *    — recall inside those buckets is deliberately sacrificed; audit the
  *    trade with a `groupBy(band, bh).count()` over the band table if the
  *    drop rate matters for a corpus.
  *  - Verification (exact Jaccard / Hamming) runs only on candidate pairs.
  */
object TextDedup {

  /** Default df ceiling for [[crossDocRepeatedSpans]]: a verbatim
    * k-token window shared by more than this many documents is
    * template boilerplate, not a duplication family — natural sharing
    * is family-sized (the sf0.1 fixture peaks at df 4 over 5 000
    * docs), so 64 sits two orders of magnitude above benign density
    * while still cutting degenerate mass long before the hit frame
    * reaches corpus × tokens. An ABSOLUTE ceiling on purpose: df
    * quantiles scale with uniform duplication and would keep exactly
    * the mass this drops. */
  val DefaultBoilerplateDf = 64L

  /** Canonical text form: lower, trim, collapse whitespace. */
  def normalize(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** Spread a compute-bound narrow stage across the cluster. Parquet
    * splits scans by BYTES (`files.maxPartitionBytes`), which is the
    * wrong granularity for CPU-heavy per-row work: a few MB of compressed
    * text — minutes of shingling/hashing — lands in one partition and
    * serializes on one core. The shuffle this inserts moves only the raw
    * rows (cheap) and buys full-width execution for the expensive
    * signature computation that follows. No-op cost at cluster scale
    * where inputs already have ≥ parallelism splits. */
  private[ext] def spreadCompute(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // If the input plan already contains a shuffle-producing operator its
    // output partitioning follows spark.sql.shuffle.partitions — leave it
    // alone. Only narrow scan-shaped plans are probed via .rdd (safe: no
    // stages to materialize); probing an AQE plan WITH shuffles would
    // eagerly execute them just to read a partition count.
    val hasShuffleOp = df.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Distinct => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Deduplicate => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Window => true
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.global
      case _ => false
    }
    if (hasShuffleOp) df
    else if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p)
  }

  def tokens(c: Column): Column = split(normalize(c), " ")

  // ---- exact ----

  /** Exact-duplicate groups by content hash: (hash, n_copies, keeper=min id). */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(normalize(col(textCol))).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keeper"))

  /** Exact dedup: keep the min-id row per normalized text. Deterministic
    * (min_by over the id), single hash aggregate. */
  def dedupExact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val payload = df.columns.toSeq
    df.groupBy(md5(normalize(col(textCol))).as("_h"))
      .agg(min_by(struct(payload.map(col): _*), col(idCol)).as("_r"))
      .select(payload.map(c => col(s"_r.$c").as(c)): _*)
  }

  // ---- shingling / MinHash ----

  /** k-token shingles; documents shorter than k tokens yield one shingle
    * (the whole normalized text).
    *
    * PERF: this splices the tokenize tree (regex normalize + split) into
    * a higher-order `transform` lambda, and HOF lambdas are evaluated
    * INTERPRETED, per element — so used directly, tokenization re-runs
    * once per shingle index: O(tokens × regex) per document. Hot paths
    * must project the token array into its own column first and call
    * [[shinglesOfTokens]] (CollapseProject will not inline a non-cheap
    * alias referenced more than once, so the projection sticks). */
  def shingles(textCol: Column, k: Int): Column =
    shinglesOfTokens(tokens(textCol), k)

  /** k-token shingles from an already-materialized token-array column —
    * tokenization cost is paid once per ROW, not once per shingle. */
  def shinglesOfTokens(toks: Column, k: Int): Column =
    when(size(toks) <= k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), size(toks) - k),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** Per-document boilerplate fraction: the share of a document's
    * DISTINCT `shingleK`-shingles that occur in at least `minDf`
    * documents corpus-wide — the cross-document duplication-mass
    * profile (header/footer/template text) that per-pair dedup tiers
    * never surface as a score and per-doc repetition gates (intra-doc
    * only) cannot see. High-fraction docs are assembly-of-boilerplate
    * even when no single pair crosses a near-dup threshold.
    *
    * Scale shape: the inverted index (doc × distinct shingles) is the
    * one corpus-sized surface, built full-width via [[spreadCompute]]
    * (CPU-bound shingling must not follow byte-granular parquet
    * splits); document frequencies reduce map-side to vocabulary size
    * and are FILTERED to df ≥ minDf before the join back, so only
    * boilerplate occurrences — not the whole index — cross the join;
    * per-doc denominators come narrowly from the distinct-shingle
    * array size (no second corpus-wide rollup). Integer counts + one
    * ratio — deterministic, no fold-order caveat. Output
    * `(id, n_shingles, shared, boilerplate_frac)`. */
  def boilerplateFraction(df: DataFrame, textCol: String, idCol: String,
                          shingleK: Int = 3, minDf: Int = 2): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val sh = spreadCompute(df.select(col(idCol).as("id"),
        col(textCol).as("_text")))
      .select(col("id"), tokens(col("_text")).as("_toks"))
      .select(col("id"), array_distinct(graft.functions.GraftFunctions
        .shingles(df.sparkSession, col("_toks"), shingleK)).as("_sh"))
    val perDoc = sh.select(col("id"),
      size(col("_sh")).cast("long").as("n_shingles"))
    val inv = sh.select(col("id"), explode(col("_sh")).as("_g"))
    val shared = inv.groupBy(col("_g")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDf)
      .join(inv, "_g")
      .groupBy(col("id")).agg(count(lit(1)).as("shared"))
    perDoc.join(shared, Seq("id"), "left")
      .withColumn("shared", coalesce(col("shared"), lit(0L)))
      .select(col("id"), col("n_shingles"), col("shared"),
        round(col("shared").cast("double") / col("n_shingles"), 6)
          .as("boilerplate_frac"))
  }

  /** Corpus-frequency span excision — the distributed approximation of
    * exact-substring training-data dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": substrings repeated
    * across a corpus are memorization fuel; remove EVERY occurrence).
    * Token-level formulation: any `n`-token sliding window whose exact
    * text occurs >= `minCount` times corpus-wide (within- and cross-
    * document occurrences both count) is excised from every document;
    * overlapping repeated windows merge into one removed span. Documents
    * with <= n tokens are their own single window (the [[shinglesOfTokens]]
    * contract), so a short doc repeated verbatim empties rather than
    * slipping under the window size.
    *
    * Scale shape: one posexplode of sliding windows, ONE count aggregate
    * on the window text (map-side partials), a semi-join of the window
    * stream against the (small — only >= minCount survivors) repeated
    * set, and a per-doc covered-INTERVAL aggregate joined back onto the
    * token projection. The corpus is never pairwise-compared; everything
    * keys on window text or doc id. Coverage is carried as MERGED
    * [lo,hi] intervals, not per-position ints: the agg buffer holds one
    * struct per covered window (not n ints per window) and the merged
    * result is O(#spans) — in the worst all-boilerplate case (the whole
    * doc one repeated region) a single interval, where the position-set
    * form held the entire doc length. The rebuild slices the inter-span
    * gaps out of the token array — a narrow per-row HOF; no token ever
    * shuffles for reassembly. */
  def removeRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
                          n: Int = 8, minCount: Long = 2): DataFrame = {
    require(n >= 1 && minCount >= 2, "need n >= 1 and minCount >= 2")
    val toks = spreadCompute(df)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
    val windows = toks.select(col("id"),
      posexplode(graft.functions.GraftFunctions.shingles(
        df.sparkSession, col("toks"), n)).as(Seq("s", "sh")))
    val repeated = windows.groupBy(col("sh"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("sh"))
    val covered = windows.join(repeated, Seq("sh"), "left_semi")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(
        col("s").as("lo"), (col("s") + (n - 1)).as("hi")))).as("ivs"))
      .select(col("id"), mergeIntervals(col("ivs")).as("ivs"))
    toks.join(covered, Seq("id"), "left")
      .select(col("id"),
        when(col("ivs").isNull, concat_ws(" ", col("toks")))
          .otherwise(concat_ws(" ",
            flatten(gapSlices(col("toks"), col("ivs"))))).as("clean"))
  }

  /** Maximal cross-document repeated token spans — the exact-substring
    * training-corpus dedup report (the Lee-et-al "deduplicating
    * training data" step, shingle-anchored for a distributed engine
    * instead of a suffix array): every maximal run of ≥ `k`-token
    * windows that each appear in at least `minDocs` DISTINCT documents.
    * Distinct from [[removeRepeatedSpans]] (x61), which counts ALL
    * occurrences (a doc repeating its own phrase qualifies) and
    * REMOVES coverage; this reports the spans, and a shingle repeated
    * only within one document does NOT qualify — the cross-document
    * contract.
    *
    * A span is a maximal run of CONSECUTIVE shared window starts, so
    * every k-window inside it is cross-document-shared (the
    * every-window-shared definition, not x61's coverage union); two
    * such spans may overlap by up to k−1 tokens across a non-shared
    * middle window.
    *
    * Scale shape: the shingle table (corpus × tokens rows — the only
    * corpus-sized frame) aggregates to per-shingle distinct-doc counts
    * and semi-joins back; NO pair table ever materializes (a shingle
    * shared by 10⁶ docs costs one count row, not 10¹² pairs), so no
    * `maxBucket` cap is needed — the exactness is free. The run-merge
    * window partitions by document (each sort holds one doc's hits);
    * the span-text rebuild is one doc-keyed join + a narrow slice.
    * The token frame is consumed by both the shingle pass and the
    * rebuild join: pass `stagingPath` at scale to spill it to parquet
    * once instead of re-tokenizing (the x116 staging discipline; no
    * session persist either way, so nothing outlives the query).
    *
    * Docs with fewer than `k` tokens are excluded (a ≥k-token span
    * cannot exist in them; whole-short-doc duplication is
    * [[exactDupGroups]]' job). Output: `(doc_id, span_start, span_len,
    * n_shingles, span_text)` — token-indexed, 0-based start.
    *
    * `maxDocs` is the degenerate-corpus ceiling (the dual of
    * [[boilerplateSpans]]' `minDf` floor): a shingle shared by MORE
    * than `maxDocs` documents is boilerplate, not plagiarism, and on a
    * pathological near-100%-duplicate corpus keeping such shingles
    * inflates the hit frame toward corpus × tokens (the 100×-stress
    * worst case). With a ceiling the operator degrades to "spans
    * shared by 2..maxDocs docs" — the boilerplate report covers the
    * rest. The DEFAULT is [[DefaultBoilerplateDf]] (the capped posture
    * is the scale default); pass `None` to opt IN to the uncapped
    * exact every-shared-window contract. On benign corpora the two are
    * equal (spec'd) — natural verbatim 8-token sharing is near-dup-
    * family-sized (the sf0.1 fixture's max df is 4 across 5 000 docs),
    * two orders of magnitude under the ceiling. NOTE a corpus-relative
    * ceiling (a df quantile) cannot replace the absolute one: uniform
    * duplication shifts every quantile with it, so a scale-free rule
    * keeps exactly the degenerate mass the ceiling exists to drop.
    *
    * MIGRATION (r15, see CHANGELOG.md): the default changed from
    * `None` to `Some(DefaultBoilerplateDf)` — callers on dense corpora
    * that relied on the uncapped exact contract must now pass
    * `maxDocs = None`; spans anchored only on >64-doc shingles vanish
    * under the default with no runtime signal. */
  def crossDocRepeatedSpans(df: DataFrame, textCol: String, idCol: String,
                            k: Int = 8, minDocs: Int = 2,
                            stagingPath: Option[String] = None,
                            maxDocs: Option[Long] = Some(DefaultBoilerplateDf)
                           ): DataFrame = {
    require(k >= 1 && minDocs >= 2, "need k >= 1 and minDocs >= 2")
    require(maxDocs.forall(_ >= minDocs),
      s"maxDocs ${maxDocs.get} must be >= minDocs $minDocs")
    import org.apache.spark.sql.expressions.Window
    val toksPlain = spreadCompute(df.filter(col(textCol).isNotNull))
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= k)
    val toks = stagingPath match {
      case Some(p) =>
        toksPlain.write.mode("overwrite").parquet(p)
        df.sparkSession.read.parquet(p)
      case None => toksPlain
    }
    val windows = toks.select(col("doc_id"),
      posexplode(graft.functions.GraftFunctions.shingles(
        df.sparkSession, col("_toks"), k)).as(Seq("pos", "_sh")))
    val shared = windows.groupBy(col("_sh"))
      .agg(count_distinct(col("doc_id")).as("_nd"))
      .filter(col("_nd") >= minDocs &&
        maxDocs.map(col("_nd") <= _).getOrElse(lit(true)))
      .select(col("_sh"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = windows.join(shared, Seq("_sh"), "left_semi")
      .withColumn("_grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("_grp"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (count(lit(1)) + (k - 1)).as("span_len"),
        count(lit(1)).as("n_shingles"))
    spans.join(toks, "doc_id")
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_shingles"),
        concat_ws(" ", slice(col("_toks"),
          (col("span_start") + 1).cast("int"), col("span_len").cast("int")))
          .as("span_text"))
  }

  /** Fold sorted [lo,hi] intervals into their merged union (touching
    * intervals coalesce: lo <= prev.hi + 1). Input must be sorted by
    * lo — `sort_array` on the struct gives exactly that order. */
  private def mergeIntervals(ivs: Column): Column =
    aggregate(ivs,
      array().cast("array<struct<lo:int,hi:int>>"),
      (acc, iv) => when(size(acc) === 0, array(iv)).otherwise(
        when(iv.getField("lo") <= element_at(acc, -1).getField("hi") + 1,
          concat(slice(acc, lit(1), size(acc) - 1), array(struct(
            element_at(acc, -1).getField("lo").as("lo"),
            greatest(element_at(acc, -1).getField("hi"),
              iv.getField("hi")).as("hi")))))
          .otherwise(concat(acc, array(iv)))))

  /** The kept token runs BETWEEN merged covered intervals: gap i spans
    * (prev interval's hi)+1 .. (next interval's lo)-1, with the doc
    * edges as sentinels. Empty gaps slice to empty arrays. */
  private def gapSlices(toks: Column, ivs: Column): Column =
    transform(sequence(lit(0), size(ivs)), i => {
      val gapStart = when(i === 0, lit(0))
        .otherwise(element_at(ivs, i).getField("hi") + 1)
      val gapEnd = when(i === size(ivs), size(toks) - 1)
        .otherwise(element_at(ivs, i + 1).getField("lo") - 1)
      slice(toks, gapStart + 1, greatest(gapEnd - gapStart + 1, lit(0)))
    })

  /** MinHash signature: lane i = min over shingles of xxhash64(i, h(shingle)).
    * Each shingle STRING is hashed exactly once; the H lanes re-hash the
    * resulting 8-byte value (seeded), which is ~an order of magnitude less
    * byte-crunching than hashing the string per lane. Single aggregate
    * pass — one traversal of the shingle array, no shuffle. */
  def minhashSignature(shinglesCol: Column, numHashes: Int): Column =
    minhashSignatureFromHashes(transform(shinglesCol, s => xxhash64(s)), numHashes)

  /** Signature from pre-hashed shingles (array<long>) — the form the LSH
    * pipeline uses so shingle strings are hashed exactly once overall. */
  def minhashSignatureFromHashes(shingleHashes: Column, numHashes: Int): Column =
    aggregate(
      shingleHashes,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc,
        array((0 until numHashes).map(i => xxhash64(lit(i), h)): _*),
        least(_, _)))

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * components. */
  def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    size(filter(zip_with(sigA, sigB, _ === _), x => x)).cast("double") / numHashes

  /** Exact n-gram Jaccard (the verify stage for candidate pairs). Works on
    * any element type; pair verification uses HASHED shingles (long
    * arrays) — set ops over 8-byte values instead of full shingle strings,
    * with Jaccard unchanged up to negligible 64-bit collisions. */
  def ngramJaccard(shA: Column, shB: Column): Column =
    size(array_intersect(shA, shB)).cast("double") /
      size(array_union(shA, shB))

  /** [[ngramJaccard]] for inputs ALREADY duplicate-free (per-doc
    * distinct shingle/hash arrays — the dedup pipelines' staged form):
    * |A∩B| / (|A| + |B| − |A∩B|) by inclusion–exclusion, value-identical
    * to the set Jaccard but with `array_union`'s allocate-and-dedup walk
    * replaced by integer arithmetic on the already-known sizes. The
    * repeated intersect subtree evaluates once under whole-stage
    * codegen's subexpression elimination. Only correct on distinct
    * arrays — a duplicate element would count twice in the sizes. */
  def distinctJaccard(shA: Column, shB: Column): Column = {
    val i = size(array_intersect(shA, shB))
    i.cast("double") / (size(shA) + size(shB) - i)
  }

  /** Containment-scored near-dup pairs — the ASYMMETRIC complement of
    * the Jaccard pipelines: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| over
    * distinct k-token shingles (Broder's containment). A short excerpt
    * quoted inside a long document scores C ≈ 1 in the excerpt→document
    * direction while its Jaccard is ≈ |A|/|B| — so a MinHash-LSH pass
    * tuned for Jaccard ≥ 0.7 structurally MISSES quote/subset
    * duplicates (the LSH Ensemble motivation, Zhu et al. VLDB'16); this
    * operator is the dedup tier that catches them.
    *
    * Candidate generation inverts the corpus on the shingle itself: a
    * pair is a candidate iff the two docs share at least one shingle
    * whose corpus document frequency lies in [2, maxDf] —
    * rare-shingle blocking. The df cap is the scale control (the
    * [[bucketCandidates]] bucket-size discipline applied to postings):
    * boilerplate shingles shared by everything never generate pairs, so
    * pair volume is bounded by Σ_rare-shingles df² ≤ maxDf · postings,
    * never corpus². Verification computes exact containment on the
    * candidate pairs only, via one join per side back to the (distinct-
    * shingle-array) table. Like every blocking scheme this trades
    * recall at the cap: a pair sharing ONLY ubiquitous shingles is
    * unseen — tune maxDf against corpus redundancy.
    *
    * Returns `(id_a, id_b, c_ab, c_ba, jaccard)` with id_a < id_b and
    * max(c_ab, c_ba) >= minContainment; all three scores are
    * integer-ratio doubles (bit-stable cross-engine). `stagingPath`
    * spills the shingle table to parquet for beyond-memory corpora
    * (the [[minhashDupPairs]] discipline); default is a
    * MEMORY_AND_DISK persist whose lifecycle the caller owns. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleK: Int = 3, maxDf: Int = 4,
                       minContainment: Double = 0.8,
                       stagingPath: Option[String] = None,
                       preNormalized: Boolean = false): DataFrame = {
    require(maxDf >= 2, s"maxDf must be >= 2 (df-1 docs pair per shingle), got $maxDf")
    // `preNormalized` skips the [[normalize]] regex when the caller's
    // text column is ALREADY in canonical form (lower, trimmed,
    // single-space — e.g. a corpus built by normalizing upstream):
    // normalize is idempotent, so `split(t, " ")` on such input equals
    // `tokens(t)` exactly and the per-row regex pass is pure overhead.
    val toks =
      if (preNormalized) split(col(textCol), " ") else tokens(col(textCol))
    // distinct shingle ARRAY per doc, computed once and consumed by three
    // branches (the inverted index + both verify sides); shingling runs
    // in the native kernel (bit-parity with the HOF spelling —
    // FunctionsSpec) so no interpreted per-shingle lambda sits on the
    // corpus-sized pass.
    val sh = materialize(
      spreadCompute(df)
        .select(col(idCol).as("id"), toks.as("_toks"))
        .select(col("id"),
          array_distinct(graft.functions.GraftFunctions.shingles(
            df.sparkSession, col("_toks"), shingleK)).as("sh")),
      stagingPath)
    // postings: (shingle, id); shingles are distinct per doc, so bucket
    // size == document frequency, and bucketCandidates' [2, maxBucket]
    // filter IS the df band
    val inv = sh.select(lit(0).as("band"), explode(col("sh")).as("bh"),
      col("id"))
    val candidates = bucketCandidates(inv, maxBucket = maxDf)
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    candidates.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("_i"),
        size(col("sh_a")).as("_na"), size(col("sh_b")).as("_nb"))
      .select(col("id_a"), col("id_b"),
        (col("_i").cast("double") / col("_na")).as("c_ab"),
        (col("_i").cast("double") / col("_nb")).as("c_ba"),
        (col("_i").cast("double") / (col("_na") + col("_nb") - col("_i")))
          .as("jaccard"))
      .filter(greatest(col("c_ab"), col("c_ba")) >= minContainment)
  }

  /** Candidate pairs from a (band, bh, id) bucket table — the quadratic
    * step of every LSH pipeline, shaped for minimum shuffle count: ONE
    * exchange (the groupBy on the bucket key; map-side partial
    * collect_list) and then pairs are generated NARROWLY inside each
    * bucket with codegen'd array HOFs, plus one tiny exchange for the
    * cross-band pair `distinct`. The earlier formulation (window count +
    * bucket self-join + distinct) paid three materialized exchanges over
    * the full band table for the same answer.
    *
    * Buckets larger than `maxBucket` are dropped BEFORE pair generation
    * (boilerplate-text protection — they would contribute O(n²)
    * low-value pairs); singleton buckets pair nothing and are dropped by
    * the same filter. `array_sort` on the collected ids makes the output
    * orientation deterministic (id_a < id_b) regardless of shuffle
    * arrival order. */
  private def bucketCandidates(bandTable: DataFrame, maxBucket: Int): DataFrame =
    bucketCandidates(bandTable, maxBucket, payload = None)

  /** Materialize a multi-consumer intermediate once. With a staging path,
    * the table is written to parquet and re-read — the beyond-memory
    * shape: each consumer branch re-scans columnar storage with pruning,
    * there is no cache to size against executor memory, and a failed
    * downstream stage restarts from durable storage instead of
    * recomputing the shingle/signature pass. Without one, a
    * MEMORY_AND_DISK persist whose lifecycle the caller owns. */
  private def materialize(t: DataFrame, stagingPath: Option[String]): DataFrame =
    stagingPath match {
      case Some(p) =>
        t.write.mode("overwrite").parquet(p)
        t.sparkSession.read.parquet(p)
      case None => t.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** As the id-only overload, but optionally carrying one small
    * fixed-width `payload` column through the bucket shuffle so the
    * verify stage can run narrowly on the emitted pairs (`v_a`/`v_b`)
    * without joining back to the source table. Worth it only when the
    * payload is a few bytes — e.g. a 64-bit SimHash fingerprint; MinHash
    * signatures are 64 longs and join back instead. */
  private def bucketCandidates(bandTable: DataFrame, maxBucket: Int,
                               payload: Option[String],
                               dedupPairs: Boolean = true): DataFrame = {
    val entry = payload match {
      case Some(p) => struct(col("id"), col(p).as("v"))
      case None    => struct(col("id"))
    }
    // The sort happens ONCE in its own projection: HOF lambdas are
    // interpreted with no common-subexpression elimination, so an
    // array_sort spliced into the pair lambdas would re-sort the bucket
    // per element access — O(n³ log n) per bucket at the cap. Struct sort
    // orders by `id` first, keeping pair orientation deterministic.
    val n = size(col("es"))
    def fields(e: Column, side: String) =
      e.getField("id").as(s"id_$side") +:
        payload.toSeq.map(_ => e.getField("v").as(s"v_$side"))
    val pairs = flatten(transform(sequence(lit(0), n - 2), i =>
      transform(sequence(i + 1, n - 1), j =>
        struct(fields(element_at(col("es"), i + 1), "a") ++
          fields(element_at(col("es"), j + 1), "b"): _*))))
    val outCols = (Seq("id_a", "id_b") ++
      payload.toSeq.flatMap(_ => Seq("v_a", "v_b"))).map(c => col(s"p.$c").as(c))
    bandTable.groupBy(col("band"), col("bh"))
      .agg(collect_list(entry).as("es"))
      .filter(size(col("es")).between(2, maxBucket))
      .select(array_sort(col("es")).as("es"))
      .select(explode(pairs).as("p"))
      .select(outCols: _*)
      // sorted ids make orientation deterministic; strict < also drops
      // self-pairs when the same id appears twice in a bucket (duplicate
      // ids in the input) — matching the oracle's a.id < b.id join
      .filter(col("id_a") < col("id_b"))
      // multi-band tables emit the same pair once per shared band — the
      // distinct is required. A single-band caller with unique ids emits
      // each pair at most once, and skipping the distinct removes a full
      // exchange+aggregate over the candidate-pair stream.
      .transform(d => if (dedupPairs) d.distinct() else d)
  }

  /** LSH band hashes: band b = xxhash64 over rows b*r..b*r+r-1 of the
    * signature. Two docs sharing ANY band hash become a candidate pair. */
  def lshBandHashes(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), slice(sigCol, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** MinHash-LSH near-duplicate pipeline: shingle → sign → band → bucket
    * self-join → estimate → exact-verify. Returns pairs (id_a < id_b) with
    * `est_jaccard` and exact `jaccard`, filtered at `threshold` on the
    * exact value.
    *
    * `maxBucket` caps pathological buckets (boilerplate text): buckets
    * larger than the cap are excluded from pairing (standard practice —
    * they would contribute O(n²) low-value pairs).
    */
  def minhashDupPairs(df: DataFrame, textCol: String, idCol: String,
                      shingleK: Int = 3, numHashes: Int = 64,
                      bands: Int = 16, threshold: Double = 0.7,
                      maxBucket: Int = 1000,
                      stagingPath: Option[String] = None,
                      maxPairsPerDoc: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // The signature table feeds THREE plan branches (band explosion + both
    // verify sides); materialize it so shingling/minhashing runs once, not
    // 3x. Only HASHED shingles (distinct, 8 bytes each) are kept — the
    // verify stage never touches shingle strings. Default is a
    // MEMORY_AND_DISK persist; LIFECYCLE: the cache outlives this call
    // (the result is lazy), the caller owns release via
    // spark.catalog.clearCache() or by persisting the result and
    // unpersisting upstream. At corpus scales beyond executor storage —
    // the 100 TB shape — pass `stagingPath`: the table spills to parquet
    // once and every branch re-scans columnar storage (no cache to size,
    // no recompute-on-eviction cliff, restartable from the staging dir).
    val sigTable = materialize(
      minhashIndex(df, textCol, idCol, shingleK, numHashes), stagingPath)
    // Candidate generation carries ONLY (band, band_hash, id): the heavy
    // shingle/signature arrays never enter the band shuffle or the pair
    // distinct — they are joined back per side once the (id_a, id_b)
    // candidate set (tiny) is known.
    val exploded = sigTable.select(col("id"),
      posexplode(lshBandHashes(col("sig"), bands, r)).as(Seq("band", "bh")))
    val candidates = bucketCandidates(exploded, maxBucket)
    capPairs(verifyCandidates(candidates, sigTable, numHashes, threshold),
      maxPairsPerDoc, col("jaccard").desc)
  }

  /** Optional per-anchor pair cap: keep the `max` BEST pairs per `id_a`
    * (by `order`, id_b tiebreak), 0 = unlimited. This bounds the raw
    * pair list itself — it is quadratic in per-document duplicate
    * multiplicity by contract (ten copies of a page → 45 pairs each),
    * and while the grouped consumers (dup groups / keep-best) are the
    * recommended scale path, a pipeline that materializes raw pairs
    * needs its own ceiling. Expressed as the `row_number() <= k` idiom,
    * which Spark plans with a partial `WindowGroupLimit` (at most k
    * rows per anchor leave each map task). */
  private def capPairs(pairs: DataFrame, max: Int, order: Column): DataFrame =
    if (max <= 0) pairs
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id_a")).orderBy(order, col("id_b"))
      pairs.withColumn("_graft_pair_rank", row_number().over(w))
        .filter(col("_graft_pair_rank") <= max)
        .drop("_graft_pair_rank")
    }

  /** The estimate-prefilter + exact-verify tail shared by the batch and
    * incremental pipelines: join `lookup` (`id`, `shh`, `sig`) to both
    * candidate sides, keep pairs whose signature estimate clears
    * `threshold - 0.2` (band collisions with clearly-low estimates never
    * pay for the exact set ops) and whose exact hashed-shingle Jaccard
    * clears `threshold`. `passthrough` candidate columns (e.g. side
    * tags) ride along. ONE definition — the prefilter margin and the
    * join shape must not diverge between the two callers. */
  private def verifyCandidates(cand: DataFrame, lookup: DataFrame,
                               numHashes: Int, threshold: Double,
                               passthrough: Seq[String] = Nil): DataFrame = {
    val keep = (Seq("id_a", "id_b") ++ passthrough).map(col)
    cand
      .join(lookup.select(col("id").as("id_a"), col("shh").as("shh_a"),
        col("sig").as("sig_a")), "id_a")
      .join(lookup.select(col("id").as("id_b"), col("shh").as("shh_b"),
        col("sig").as("sig_b")), "id_b")
      .select(keep ++ Seq(
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"),
        col("shh_a"), col("shh_b")): _*)
      .filter(col("est_jaccard") >= threshold - 0.2)
      .select(keep ++ Seq(col("est_jaccard"),
        // NOT distinctJaccard here: the >= threshold filter below gets
        // the alias INLINED into its predicate (PushDownPredicate),
        // and FilterExec has no subexpression elimination — the
        // repeated intersect subtree would evaluate twice per
        // candidate pair (measured +0.3-0.5 s on x57/x59 in r18).
        // distinctJaccard pays off only where the score feeds a
        // projection/heap (x121), not a pushable predicate.
        ngramJaccard(col("shh_a"), col("shh_b")).as("jaccard")): _*)
      .filter(col("jaccard") >= threshold)
  }

  // ---- incremental (index-based) dedup ----

  /** MinHash signature index rows: `(id, shh, sig)` — the distinct
    * hashed shingles (the verify payload) and the `numHashes`-lane
    * xxhash64 MinHash signature. This is the table a
    * continuous-ingestion pipeline PERSISTS: a document's signatures
    * are computed ONCE ever, and every later batch dedups against the
    * index ([[dedupAgainstIndex]]) without re-reading corpus text.
    * The shingle kernel keeps tokenization a once-per-row child
    * expression; build parameters must match between index and batch. */
  def minhashIndex(df: DataFrame, textCol: String, idCol: String,
                   shingleK: Int = 3, numHashes: Int = 64): DataFrame =
    spreadCompute(df)
      .select(col(idCol).as("id"), graft.functions.GraftFunctions
        .shingles(df.sparkSession, tokens(col(textCol)), shingleK).as("sh"))
      .select(col("id"), array_distinct(transform(col("sh"), s => xxhash64(s))).as("shh"))
      .withColumn("sig", graft.functions.GraftFunctions.minHash64(
        df.sparkSession, col("shh"), numHashes))

  /** Online near-dup dedup of a NEW batch against an existing corpus
    * index ([[minhashIndex]] rows). The decision is per-document and
    * DIRECT-EDGE (no transitive closure — an online verdict must not
    * depend on other in-flight verdicts): a batch doc is dropped iff
    *  - its id already exists in the index (idempotent re-ingestion);
    *  - it near-dups (exact hashed-shingle Jaccard ≥ `threshold`) ANY
    *    indexed doc; or
    *  - it near-dups a LOWER-id doc of its own batch.
    * Returns the kept batch rows. Append `minhashIndex(kept…)` to the
    * index afterwards — the index only ever holds KEPT docs, so later
    * near-dups are judged against the kept representative.
    *
    * Scale: ONE band-key exchange over index∪batch band hashes (the
    * index side reads (id, sig) from its persisted parquet; corpus
    * TEXT is never touched), capped buckets, signature-estimate
    * prefilter, hashed-shingle verify — [[minhashDupPairs]]'s shuffle
    * shape, with |batch| driving the new work. Index-index collisions
    * are discarded before the verify join.
    *
    * CACHE LIFECYCLE: without `stagingPath` the batch signature table
    * persists MEMORY_AND_DISK and — because the result is lazy — the
    * CALLER owns release (`spark.catalog.clearCache()` after consuming
    * the kept rows), exactly as in [[minhashDupPairs]]. A production
    * ingestion LOOP should pass a per-batch `stagingPath` instead:
    * staged parquet leaves nothing cached to leak across batches.
    *
    * `numHashes` is validated against the index's stored signatures;
    * `shingleK` CANNOT be (hashes are opaque) — it must match the
    * index build or near-dups are silently missed. */
  def dedupAgainstIndex(batch: DataFrame, textCol: String, idCol: String,
                        index: DataFrame, shingleK: Int = 3,
                        numHashes: Int = 64, bands: Int = 16,
                        threshold: Double = 0.7, maxBucket: Int = 1000,
                        stagingPath: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(Seq("id", "shh", "sig").forall(index.columns.contains),
      s"index must be minhashIndex output (id, shh, sig); got ${index.columns.mkString(",")}")
    require(!batch.columns.contains("_graft_dup_id"),
      "dedupAgainstIndex reserves the column name _graft_dup_id")
    // a numHashes mismatch would silently truncate every estimate below
    // the prefilter (near-dups ADMITTED, no error) — check the index's
    // actual signature width up front; one-row read, tiny vs the join
    index.select(size(col("sig")).as("n")).limit(1).collect()
      .headOption.foreach { row =>
        require(row.getInt(0) == numHashes,
          s"index signatures have ${row.getInt(0)} lanes; call uses numHashes=$numHashes")
      }
    val r = numHashes / bands
    // idempotent re-ingestion: already-indexed ids leave the batch first
    // (also guarantees the id spaces are disjoint below)
    val fresh = batch.join(index.select(col("id").as("_graft_dup_id")),
      batch(idCol) === col("_graft_dup_id"), "left_anti")
    val batchSig = materialize(
      minhashIndex(fresh, textCol, idCol, shingleK, numHashes), stagingPath)
    def bandsOf(sig: DataFrame, side: Int) =
      sig.select(col("id"), lit(side).as("side"),
        posexplode(lshBandHashes(col("sig"), bands, r)).as(Seq("band", "bh")))
    val bandTable = bandsOf(index, 0).unionByName(bandsOf(batchSig, 1))
    val cand = bucketCandidates(bandTable, maxBucket, payload = Some("side"))
      // only pairs touching the batch can decide anything; index-index
      // collisions (rare — the index is already deduped) die here
      .filter(col("v_a") === 1 || col("v_b") === 1)
    val lookup = index.select(col("id"), col("shh"), col("sig"))
      .unionByName(batchSig.select(col("id"), col("shh"), col("sig")))
    val edges = verifyCandidates(cand, lookup, numHashes, threshold,
      passthrough = Seq("v_a", "v_b"))
    // the batch member of an index edge loses; the HIGHER id of a
    // batch-batch edge loses (id_a < id_b by construction)
    val dropped = edges.select(
      when(col("v_a") === 1 && col("v_b") === 1, col("id_b"))
        .when(col("v_a") === 1, col("id_a"))
        .otherwise(col("id_b")).as("_graft_dup_id")).distinct()
    fresh.join(dropped, fresh(idCol) === col("_graft_dup_id"), "left_anti")
  }

  /** Pre-exploded LSH band rows `(band, bh, id)` of a [[minhashIndex]]
    * table — the thin side table a continuous-ingestion pipeline
    * persists NEXT TO the index so [[dedupAgainstBandIndex]] can probe
    * it with broadcast joins instead of shuffling the index per batch.
    * `bands` must divide the index's `numHashes` (same build-parameter
    * contract as the index itself). */
  def bandRows(index: DataFrame, numHashes: Int = 64,
               bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    index.select(col("id"),
      posexplode(lshBandHashes(col("sig"), bands, numHashes / bands))
        .as(Seq("band", "bh")))
      .select(col("band"), col("bh"), col("id"))
  }

  /** [[dedupAgainstIndex]] re-planned so the INDEX SIDE IS NEVER
    * SHUFFLED — the fix for the one super-linear term in the ingest
    * loop (the plain variant's band exchange carries index∪batch band
    * hashes, O(index + delta) shuffle per batch even though the new
    * work is O(delta)). Verdicts are IDENTICAL to [[dedupAgainstIndex]]
    * given the same inputs and parameters (spec-pinned, including the
    * `maxBucket` cap, whose bucket sizes count index AND batch members
    * exactly as the union-table spelling does).
    *
    * Requires the pre-exploded `indexBands` table ([[bandRows]] rows,
    * persisted append-only alongside the index). Per batch, the plan is
    * three MAP-SIDE passes over persisted index data — each a scan
    * probed by a broadcast of delta-derived keys, no index-side
    * exchange:
    *  1. the id-skip: index ids ⋈ broadcast(batch ids);
    *  2. candidate generation: `indexBands` (two thin columns + id)
    *     ⋈ broadcast(the delta's ≤ |delta|·bands distinct band keys);
    *     only matching rows reach the (tiny) bucket-size aggregate and
    *     the pair join;
    *  3. the verify lookup: index `(id, shh, sig)` ⋈ broadcast(the
    *     candidate index ids — bounded by the capped candidate volume).
    * Every shuffle that remains is delta- or candidate-sized. The scan
    * term (reading the index's columns once per batch) is the price of
    * a plain-parquet layout; the EXCHANGE term — the part that grows
    * into a cluster-wide all-to-all at 100 TB — is gone.
    *
    * Designed for |delta| ≪ |index| (the ingest-loop shape): the
    * broadcasts are delta-sized. For a batch comparable to the corpus,
    * use [[dedupAgainstIndex]] — a broadcast that size belongs in a
    * shuffle. */
  def dedupAgainstBandIndex(batch: DataFrame, textCol: String, idCol: String,
                            index: DataFrame, indexBands: DataFrame,
                            shingleK: Int = 3, numHashes: Int = 64,
                            bands: Int = 16, threshold: Double = 0.7,
                            maxBucket: Int = 1000,
                            stagingPath: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(Seq("id", "shh", "sig").forall(index.columns.contains),
      s"index must be minhashIndex output (id, shh, sig); got ${index.columns.mkString(",")}")
    require(Seq("band", "bh", "id").forall(indexBands.columns.contains),
      s"indexBands must be bandRows output (band, bh, id); got ${indexBands.columns.mkString(",")}")
    require(!batch.columns.contains("_graft_dup_id"),
      "dedupAgainstBandIndex reserves the column name _graft_dup_id")
    index.select(size(col("sig")).as("n")).limit(1).collect()
      .headOption.foreach { row =>
        require(row.getInt(0) == numHashes,
          s"index signatures have ${row.getInt(0)} lanes; call uses numHashes=$numHashes")
      }
    // a BANDS mismatch vs the persisted band table would make the
    // (band, bh) join match nothing — every index near-dup silently
    // ADMITTED (the same failure mode the lanes check guards). Probes:
    // an empty band table next to a NON-empty index IS that failure
    // state (wrong path, or a write that landed zero rows); otherwise
    // the top band must exist (limit-1, stops at the first hit) and no
    // band may exceed it (parquet row-group min/max stats skip the
    // scan when valid).
    val bandsEmpty = indexBands.select(col("band")).limit(1).isEmpty
    if (bandsEmpty)
      require(index.select(col("id")).limit(1).isEmpty,
        "indexBands is empty but the index is not — the band table " +
          "path is wrong or its write landed no rows; every index " +
          "near-dup would be silently admitted")
    else {
      require(!indexBands.filter(col("band") === bands - 1)
          .limit(1).isEmpty,
        s"indexBands has no band ${bands - 1} rows; the stored table " +
          s"was built with fewer bands than the call's $bands")
      require(indexBands.filter(col("band") >= bands).limit(1).isEmpty,
        s"indexBands holds bands >= $bands; the stored table was " +
          s"built with more bands than the call's $bands")
    }
    // id-skip without an index exchange: ids in BOTH sides surface via a
    // broadcast of the (small) batch id set against the index scan, then
    // leave the batch through a second broadcast anti-join
    val batchIds = batch.select(col(idCol).as("_graft_batch_id")).distinct()
    val alreadyIndexed = index
      .join(broadcast(batchIds), col("id") === col("_graft_batch_id"))
      .select(col("id").as("_graft_dup_id")).distinct()
    val fresh = batch.join(broadcast(alreadyIndexed),
      batch(idCol) === col("_graft_dup_id"), "left_anti")
    val batchSig = materialize(
      minhashIndex(fresh, textCol, idCol, shingleK, numHashes), stagingPath)
    val batchBands = bandRows(batchSig, numHashes, bands)
    // index rows in the delta's buckets — the only index band rows that
    // can decide anything (an untouched bucket pairs no batch member)
    val touched = batchBands.select(col("band"), col("bh")).distinct()
    val idxTouched = indexBands.join(broadcast(touched), Seq("band", "bh"))
      .select(col("band"), col("bh"), col("id"))
    // the cap counts index∪batch members per bucket, exactly like the
    // union-table bucketCandidates; both aggregates are bounded by the
    // delta's bucket count (index side: only touched rows survive)
    val bSz = batchBands.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("_nb"))
    val iSz = idxTouched.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("_ni"))
    val ok = bSz.join(iSz, Seq("band", "bh"), "left")
      .filter((col("_nb") + coalesce(col("_ni"), lit(0L)))
        .between(2, maxBucket))
      .select(col("band"), col("bh"))
    // index-batch candidates: sides are fixed by construction
    val ib = idxTouched.join(broadcast(ok), Seq("band", "bh"))
      .join(broadcast(batchBands
          .select(col("band"), col("bh"), col("id").as("_graft_b_id"))),
        Seq("band", "bh"))
      .select(col("id").as("id_a"), col("_graft_b_id").as("id_b"))
      .distinct()
    // batch-batch candidates: the same in-bucket pair machinery, over
    // the delta's band rows restricted to cap-passing buckets (a
    // bucket's batch-side subcount can never exceed its ok'd total)
    val bb = bucketCandidates(
      batchBands.join(broadcast(ok), Seq("band", "bh")), maxBucket)
    // orientation is FIXED by construction (unlike the union-table
    // spelling's id-sort): id_a = the index doc on ib edges, the lower
    // batch id on bb edges — so the loser of EVERY verified edge is
    // id_b (the batch member of an index edge; the higher id of a
    // batch-batch edge), and no side flags are needed
    val cand = ib.unionByName(bb.select(col("id_a"), col("id_b")))
    // verify lookup: only CANDIDATE index rows pay the (heavy) shh read
    val candIdx = ib.select(col("id_a").as("_graft_cand_id")).distinct()
    val idxLookup = index
      .join(broadcast(candIdx), col("id") === col("_graft_cand_id"))
      .select(col("id"), col("shh"), col("sig"))
    val lookup = idxLookup
      .unionByName(batchSig.select(col("id"), col("shh"), col("sig")))
    val edges = verifyCandidates(cand, lookup, numHashes, threshold)
    val dropped = edges.select(col("id_b").as("_graft_dup_id")).distinct()
    fresh.join(broadcast(dropped),
      fresh(idCol) === col("_graft_dup_id"), "left_anti")
  }

  // ---- portable (cross-engine oracle-able) MinHash ----

  /** Cross-engine-portable MinHash-LSH near-duplicate pipeline.
    *
    * [[minhashDupPairs]] uses the xxhash64 native kernels — the fast
    * production path, but nothing outside Spark can reproduce its
    * signatures, so the driver can only row-count it. This variant makes
    * every hash reproducible by ANY engine with sha256: permutation p of
    * shingle s is the first 16 hex chars of sha256("p:s"), and a MinHash
    * lane is the MIN over those fixed-length lowercase-hex STRINGS —
    * lexicographic order on fixed-length hex equals numeric order on the
    * underlying 64-bit value, so string-min IS min-hash. Bands are
    * string concatenation of `numPerms/bands` lanes; candidates share a
    * band; the verify stage is exact set Jaccard over distinct shingle
    * strings (integer-ratio double — bit-identical cross-engine).
    *
    * ~`numPerms`× the hashing cost of the kernel path per shingle; use
    * it for audits/oracles, [[minhashDupPairs]] for production scale.
    * Same shuffle shape as the production path: band-key join on
    * (band, bh), verify join on the candidate ids only.
    */
  def portableMinhashDupPairs(df: DataFrame, textCol: String, idCol: String,
                              shingleK: Int = 3, numPerms: Int = 16,
                              bands: Int = 4, threshold: Double = 0.7,
                              stagingPath: Option[String] = None): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    val r = numPerms / bands
    // Distinct shingle-string sets feed three branches (signature + both
    // verify sides) — materialized; same persist-vs-staging trade-off as
    // minhashDupPairs.
    val sets = materialize(spreadCompute(df)
      // tokenize once per ROW in its own projection (see shingles() PERF note)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .select(col("id"), array_distinct(graft.functions.GraftFunctions
        .shingles(df.sparkSession, col("toks"), shingleK)).as("ss")),
      stagingPath)
    val sig = sets.select(col("id"), array((0 until numPerms).map { p =>
      array_min(transform(col("ss"),
        s => substring(sha2(concat_ws(":", lit(p.toString), s), 256), 1, 16)))
    }: _*).as("sig"))
    val bandt = sig.select(col("id"), posexplode(array((0 until bands).map { b =>
      concat((0 until r).map(j => element_at(col("sig"), b * r + j + 1)): _*)
    }: _*)).as(Seq("band", "bh")))
    val cand = bucketCandidates(bandt, maxBucket = 1000)
    val sa = sets.select(col("id").as("id_a"), col("ss").as("ss_a"))
    val sb = sets.select(col("id").as("id_b"), col("ss").as("ss_b"))
    cand.join(sa, "id_a").join(sb, "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("ss_a"), col("ss_b"))).cast("double") /
          size(array_union(col("ss_a"), col("ss_b")))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-engine-portable 16-bit SimHash fingerprint per document.
    *
    * Same portability idea as [[portableMinhashDupPairs]], applied to
    * SimHash (the production 64-bit path is [[withSimhash]]'s native
    * kernel — fast, Spark-only): each token hashes to 4 hex chars of
    * sha256(token) = 16 bits; bit b of the fingerprint is set when the
    * (+1/−1) vote sum over the token MULTISET is positive. All integer
    * arithmetic over hex-digit positions (`instr` on the hex alphabet,
    * shift, mask) — every step reproducible in ANY SQL engine, so the
    * DuckDB oracle checks fingerprints bit-for-bit.
    *
    * Shape at scale: explode → 16-column conditional sum = ONE hash
    * aggregation on the doc id with map-side partial sums; the
    * fingerprint projection is narrow. 16 bits is deliberately small for
    * an oracle surface; the kernel path carries the full 64 bits.
    */
  def portableSimhash16(df: DataFrame, textCol: String, idCol: String): DataFrame =
    portableSimhash(df, textCol, idCol, bits = 16)

  /** Width-parameterized portable SimHash ([[portableSimhash16]]'s
    * generalization): `bits` of the fingerprint come from the first
    * `bits/4` hex chars of sha256(token) — up to the full 64 the
    * production kernel carries. Packing uses bitwise OR, not `+`: at
    * bit 63 the term is `Long.MinValue` and an additive pack would
    * overflow under ANSI arithmetic; OR of disjoint one-bit terms is
    * overflow-free and identical. */
  def portableSimhash(df: DataFrame, textCol: String, idCol: String,
                      bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 64 && bits % 4 == 0,
      s"portableSimhash bits must be a multiple of 4 in [4,64], got $bits")
    val tokensExploded = spreadCompute(df)
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("tok"))
      .select(col("id"), substring(sha2(col("tok"), 256), 1, bits / 4).as("h"))
    val votes = (0 until bits).map { b =>
      val hexPos = b / 4 + 1
      val bitPos = b % 4
      sum(expr(s"CASE WHEN (((instr('0123456789abcdef', substr(h, $hexPos, 1)) - 1) " +
        s">> $bitPos) & 1) = 1 THEN 1 ELSE -1 END")).as(s"v$b")
    }
    tokensExploded.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until bits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("fp"))
  }

  // ---- SimHash ----

  /** Per-bit SimHash votes: element b is Σ_tokens (±1 depending on bit b
    * of xxhash64(token)). Bit positions are unrolled statically (the
    * Column API has no dynamic shift), which also keeps every shift
    * codegen-able. */
  def simhashVotes(textCol: Column): Column = {
    // Hash tokens FIRST: the lambda variable h below is referenced by all
    // 64 bit tests — hashing inside them would recompute xxhash64 64x per
    // token (no common-subexpression elimination inside HOF lambdas).
    val tokenHashes = transform(tokens(textCol), t => xxhash64(t))
    aggregate(
      tokenHashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map { b =>
          when(shiftright(h, b).bitwiseAND(1) === 1, lit(1L)).otherwise(lit(-1L))
        }: _*),
        _ + _))
  }

  /** Pack the 64 vote signs into one 64-bit fingerprint. Must be applied
    * to a MATERIALIZED votes column (see [[withSimhash]]) — inlining the
    * votes expression here would duplicate it 64×. */
  def packVotes(votes: Column): Column =
    (0 until 64).map { b =>
      when(element_at(votes, b + 1) > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** 64-bit SimHash fingerprint column via the native fused kernel
    * ([[graft.functions.SimHash64]] — one on-stack vote array per row
    * instead of a 64-element allocation per token). Bit-identical to the
    * HOF formulation `packVotes(simhashVotes(_))` (FunctionsSpec). */
  def withSimhash(df: DataFrame, textCol: String, out: String): DataFrame =
    df.withColumn(out,
      graft.functions.GraftFunctions.simHash64(df.sparkSession, tokens(col(textCol))))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: bucket on the top `prefixBits` of the
    * fingerprint (cheap blocking), verify with full Hamming distance.
    *
    * Blocks flow through the same capped candidate generator as the
    * MinHash path ([[bucketCandidates]], block = band 0): a
    * boilerplate-heavy corpus that collapses into one block would
    * otherwise become an O(n²) self-join inside a single reducer at
    * 100 TB. Blocks larger than `maxBucket` are excluded from pairing
    * (recall inside them is deliberately sacrificed — audit with a
    * `groupBy(block).count()` if the drop rate matters). The 8-byte
    * fingerprint rides through the bucket shuffle as the pair payload,
    * so Hamming verification is narrow — no join back to the corpus and
    * no recomputation of the signature. With ONE block table (band = 0)
    * and unique doc ids each pair arises at most once, so the cross-band
    * pair distinct is skipped — one less exchange (ids must be unique,
    * the standing precondition of the dedup family). */
  // ---- duplicate groups (connected components) ----

  /** Connected components over a near-duplicate pair set — the step that
    * turns pairwise dedup output into dedup DECISIONS: transitive
    * closure groups (doc A ~ B, B ~ C ⇒ {A,B,C} is one group) with the
    * group id = the MIN member id. Output: `(id, comp)`, one row per
    * node that appears in `pairs`.
    *
    * Algorithm: min-label propagation with path halving (pointer
    * jumping) — each iteration every node takes the min of its own and
    * its neighbors' labels, then labels shortcut one level
    * (`comp := comp(comp)`), so convergence is O(log diameter)
    * iterations rather than O(diameter); a 200-link chain converges in
    * ~8 rounds (spec-pinned). Each iteration is one join + one
    * aggregate on the node id — all shuffle-partitioned by id, no
    * driver-side data, the standard Spark shape for iterative graph
    * connectivity (the same alternating-contraction idea as
    * small-star/large-star). The driver sees one scalar per round — the
    * label sum, whose monotone decrease detects the fixpoint without a
    * per-round comparison join.
    *
    * Scale notes: `pairs` is dedup output — orders of magnitude smaller
    * than the corpus; labels persist MEMORY_AND_DISK per round and the
    * previous round unpersists eagerly. Near-dup graphs have tiny
    * components (boilerplate mega-components are pre-capped by
    * `maxBucket` upstream), so the label table stays |nodes| rows.
    * Each round CUTS PLAN LINEAGE before the convergence count —
    * without it the analyzed plan references the previous round's tree
    * ~4× and grows exponentially (OOMs the driver around iteration 8).
    * With `spark.sparkContext.setCheckpointDir` set the cut is a
    * reliable `checkpoint()` (what a 1000-executor run should use —
    * survives executor loss); otherwise an RDD round-trip resets the
    * plan to a single `LogicalRDD` node, with the round's result pinned
    * in the block manager by the convergence count.
    *
    * Adaptive small-graph path: when the (already-computed, persisted)
    * edge list is at most `localEdgeThreshold` pairs AND the id type is
    * integral, the components are solved by driver-side union-find with
    * path compression instead of the iterative loop — the same
    * runtime-size-based re-planning instinct as AQE. Near-dup pair sets
    * are usually minuscule next to the corpus (pairs are the EXCEPTION
    * in a deduped crawl), so even 100 TB corpora often produce
    * driver-sized pair graphs; the distributed loop remains the path
    * for the ones that don't. Both paths produce the identical
    * (id, comp=min member) labeling (spec-pinned equivalence). */
  def duplicateGroups(pairs: DataFrame, idA: String = "id_a",
                      idB: String = "id_b", maxIter: Int = 30,
                      localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    def cutLineage(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else spark.createDataFrame(df.rdd, df.schema).persist(lvl)
    }
    // symmetrize in ONE scan of `pairs` (explode, not self-union — a
    // union would splice the whole upstream pair-generation subtree in
    // twice and execute it twice before the persist materializes)
    // null ids cannot join/label correctly on either path — a pair with
    // a null member is meaningless dedup output; drop it outright so
    // both paths agree (pair generators in this library never emit them)
    val edges = pairs
      .filter(col(idA).isNotNull && col(idB).isNotNull)
      .select(explode(array(
        struct(col(idA).as("a"), col(idB).as("b")),
        struct(col(idB).as("a"), col(idA).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .persist(lvl)

    // BOTH id columns must be the same integral type for the shortcut:
    // the local path round-trips through long and casts back, which
    // would silently wrap a wide idB under a narrower idA type
    val idType = pairs.schema(idA).dataType
    val integral = (idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType) &&
      pairs.schema(idB).dataType == idType
    // materializes the persisted edge list either way; the count is the
    // runtime statistic that picks the plan
    val nEdges = edges.count() / 2
    if (integral && nEdges <= localEdgeThreshold) {
      // driver-side union-find (path compression + min-root union so the
      // root IS the component min). One collect of the pair list — at
      // the threshold, ~16 MB of longs. `a <= b` keeps self-pairs so a
      // node appearing only as (x, x) still gets its singleton label,
      // matching the distributed seed.
      val es = edges.filter(col("a") <= col("b"))
        .select(col("a").cast("long"), col("b").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a)
        val rb = find(b)
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      val labels = parent.keys.toSeq.map(id => (id, find(id)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return labels.toDF("id", "comp")
        .select(col("id").cast(idType).as("id"),
          col("comp").cast(idType).as("comp"))
    }
    // Fixpoint detection without a join: labels are monotone
    // non-increasing per node (min-propagation, and halving maps
    // through comp(x) <= x), so sum(comp) strictly decreases while
    // anything changes — an unchanged sum IS convergence. decimal(38)
    // so the sum can't overflow at any node count × id range.
    def compSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0))
    // seed = one prop round from the identity labeling, fused into a
    // single aggregation over the edge list: comp0 = min(id, neighbors)
    var labels = cutLineage(edges.groupBy(col("a"))
      .agg(min(col("b")).as("_mb"))
      .select(col("a").as("id"), least(col("_mb"), col("a")).as("comp")))
    var prevSum = compSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // min over self + neighbors' labels
      val prop = edges.join(labels, edges("a") === labels("id"))
        .select(edges("b").as("id"), labels("comp"))
        .union(labels.select(col("id"), col("comp")))
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
      // path halving: comp := comp(comp) — label chains shortcut a level
      val next = cutLineage(prop.as("x")
        .join(prop.select(col("id").as("cid"), col("comp").as("ccomp")).as("y"),
          col("x.comp") === col("y.cid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("y.ccomp"), col("x.comp")).as("comp")))
      val curSum = compSum(next) // also materializes next's persist
      labels.unpersist()
      labels = next
      converged = curSum == prevSum
      prevSum = curSum
      iter += 1
    }
    edges.unpersist()
    require(converged, s"duplicateGroups did not converge in $maxIter iterations")
    labels
  }

  /** Dedup by transitive near-duplicate groups: every group keeps its
    * MIN-id member; docs not in any pair pass through. The final step of
    * the MinHash/SimHash dedup pipelines. */
  def dedupByPairs(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    require(!docs.columns.contains("_graft_dup_id"),
      "dedupByPairs reserves the column name _graft_dup_id")
    val losers = duplicateGroups(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("_graft_dup_id"))
    docs.join(losers, docs(idCol) === col("_graft_dup_id"), "left_anti")
  }

  /** Dedup by near-duplicate groups keeping the BEST member of each
    * group — `score` decides (higher wins, ties break to the min id),
    * instead of [[dedupByPairs]]'s blind min-id rule. This is the
    * curation-grade keeper: inside a near-dup cluster you keep the
    * longest / highest-quality variant, not whichever crawled first.
    *
    * `score` must be a deterministic expression over `docs`' columns
    * (length, quality score, …) — a non-deterministic score would pick
    * different winners on retry. Plan shape: components as in
    * [[duplicateGroups]], one max_by per group (partial-aggregated, so
    * the exchange carries one candidate per map task per group), one
    * anti join back. Docs in no pair pass through untouched. */
  def dedupByPairsKeepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
                           score: Column): DataFrame = {
    require(!docs.columns.contains("_graft_dup_id"),
      "dedupByPairsKeepBest reserves the column name _graft_dup_id")
    val scores = docs.select(col(idCol).as("_graft_sid"), score.as("_graft_score"))
    val members = duplicateGroups(pairs)
      .join(scores, col("id") === col("_graft_sid"))
    // winner = max (score, -id): highest score, then lowest id — the
    // negation keeps the tie-break inside ONE max_by struct key
    val winners = members.groupBy(col("comp"))
      .agg(max_by(col("id"),
        struct(col("_graft_score"), (-col("id")).as("_nid"))).as("_keep"))
    val losers = members.join(winners, Seq("comp"))
      .filter(col("id") =!= col("_keep"))
      .select(col("id").as("_graft_dup_id"))
    docs.join(losers, docs(idCol) === col("_graft_dup_id"), "left_anti")
  }

  def simhashDupPairs(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3, prefixBits: Int = 16,
                      maxBucket: Int = 1000,
                      maxPairsPerDoc: Int = 0): DataFrame =
    simhashDupPairsFromSig(
      withSimhash(
        spreadCompute(df.select(col(idCol).as("id"), col(textCol))), textCol, "sig")
        .select(col("id"), col("sig")),
      maxHamming, prefixBits, maxBucket, maxPairsPerDoc)

  /** The signature-independent core of [[simhashDupPairs]]: prefix-bit
    * blocking + capped bucket pairing + Hamming verify over a
    * precomputed `(id, sig)` table. Factored out so the SAME operator
    * machinery runs under the DuckDB oracle with a portable sha256-vote
    * signature ([[portableSimhash]] at 64 bits) — everything downstream
    * of the token hash (blocking, `maxBucket` cap, pair orientation,
    * Hamming threshold) is then value-checked cross-engine; the only
    * unoracled ingredient left in the production path is xxhash64
    * itself, whose fused kernel is bit-parity-pinned against Spark's
    * builtin in FunctionsSpec. */
  def simhashDupPairsFromSig(sigs: DataFrame, maxHamming: Int = 3,
                             prefixBits: Int = 16,
                             maxBucket: Int = 1000,
                             maxPairsPerDoc: Int = 0): DataFrame = {
    val withSig = sigs
      .select(lit(0).as("band"),
        shiftrightunsigned(col("sig"), 64 - prefixBits).as("bh"),
        col("id"), col("sig"))
    val pairs = bucketCandidates(withSig, maxBucket, payload = Some("sig"),
        dedupPairs = false)
      .select(col("id_a"), col("id_b"),
        hamming(col("v_a"), col("v_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
    capPairs(pairs, maxPairsPerDoc, col("hamming").asc)
  }
}
