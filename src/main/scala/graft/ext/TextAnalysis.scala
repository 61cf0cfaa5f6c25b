package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data curation: token counting, quality
  * scoring, language identification, document fingerprinting — north-star
  * extension. All pure column expressions (codegen'd, no UDFs); each
  * operator is a narrow projection, so at 100 TB these run at scan speed
  * with column pruning down to the text column.
  */
object TextAnalysis {

  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: letter runs, digit runs, and single
    * punctuation marks each count as one token (regex tokenizer — the
    * usual pre-BPE segmentation shape). */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Ratio of punctuation characters to all characters. */
  def punctRatio(c: Column): Column =
    size(regexp_extract_all(c, lit("[^A-Za-z0-9\\s]"), lit(0))).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  /** English-ish stopword ratio over whitespace tokens. */
  val stopwords: Seq[String] = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "this", "for", "on", "with", "as")

  def stopwordRatio(c: Column): Column = {
    val toks = tokens(lower(c))
    size(filter(toks, t => t.isInCollection(stopwords))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Mean token length (chars per token). */
  def avgTokenLength(c: Column): Column = {
    val toks = tokens(c)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: length sweet-spot, stopword
    * presence, moderate punctuation — the standard heuristic-filter shape
    * (C4/Gopher-style rules re-expressed as one scalar). */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val lenScore = when(nTok >= 50 && nTok <= 10000, 1.0)
      .when(nTok >= 10, 0.5).otherwise(0.0)
    val stopScore = when(stopwordRatio(c) >= 0.05, 1.0).otherwise(0.3)
    val punctScore = when(punctRatio(c) <= 0.2, 1.0).otherwise(0.4)
    round((lenScore + stopScore + punctScore) / 3.0, 4)
  }

  /** Per-document token-distribution Shannon entropy (nats) — the
    * quality axis COMPLEMENTARY to [[repetitionProfile]]: template/spam
    * text concentrates probability mass on few tokens (low entropy)
    * even when no single token or n-gram repeats often enough to trip
    * the duplicate-fraction gates. Narrow per-row HOFs over the
    * [[graft.ext.TextDedup.tokens]] normalized tokenizer (the
    * cross-engine parity spelling); the entropy fold runs over the
    * LEXICOGRAPHICALLY SORTED distinct tokens, so the double
    * accumulation order is a pure function of the row — x62's
    * determinism discipline, bit-reproducible across partitionings and
    * engines. Cost is O(tokens × distinct) per row, bounded by document
    * length; corpus-wide it runs at scan speed with no shuffle.
    *
    * Returns (id, n_tokens, n_distinct, entropy, norm_entropy) with
    * `norm_entropy` = entropy / ln(n_distinct) ∈ [0,1] and null when
    * n_distinct <= 1 (a constant document has no measurable spread). */
  def tokenEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val p = (t: Column) =>
      size(filter(col("_toks"), x => x === t)).cast("double") /
        size(col("_toks"))
    df.select(col(idCol).as("id"),
        graft.ext.TextDedup.tokens(col(textCol)).as("_toks"))
      .select(col("id"), col("_toks"),
        array_sort(array_distinct(col("_toks"))).as("_d"))
      .select(col("id"),
        size(col("_toks")).cast("bigint").as("n_tokens"),
        size(col("_d")).cast("bigint").as("n_distinct"),
        round(aggregate(col("_d"), lit(0.0),
          (acc, t) => acc - p(t) * log(p(t))), 6).as("entropy"))
      .withColumn("norm_entropy",
        when(col("n_distinct") > 1,
          round(col("entropy") / log(col("n_distinct").cast("double")), 6)))
  }

  /** ROUGE-N style clipped n-gram overlap between a candidate and a
    * reference text column — the eval-side scorer for summarization /
    * generation datasets (and a diagnostic for near-dup borderline
    * pairs): `clipped = Σ_{g ∈ distinct(cand)} min(count_cand(g),
    * count_ref(g))`, precision = clipped/|cand|, recall = clipped/|ref|,
    * F1 = 2·clipped/(|cand|+|ref|). All three are INTEGER ratios, so
    * values are bit-identical cross-engine with no fold-order caveat.
    *
    * Entirely narrow (no shuffle, no join): the per-row cost is
    * O(distinct(cand)·(|cand|+|ref|)) like [[tokenEntropy]]'s fold —
    * quadratic in DOCUMENT length only, bounded upstream by chunking /
    * truncation, never by corpus size. N-grams come from the native
    * shingle kernel, so short texts (< n tokens) degrade to one
    * whole-text shingle, same as the dedup family.
    *
    * Appends `n_cand, n_ref, clipped, precision, recall, f1` to the
    * input row.
    */
  def rougeN(pairs: DataFrame, candCol: String, refCol: String,
             n: Int): DataFrame = {
    graft.Guards.reserved(pairs, "rougeN",
      Seq("_cg", "_rg", "n_cand", "n_ref", "clipped", "precision",
        "recall", "f1"))
    val spark = pairs.sparkSession
    def grams(c: Column): Column = graft.functions.GraftFunctions
      .shingles(spark, graft.ext.TextDedup.tokens(c), n)
    val clip = (g: Column) =>
      least(size(filter(col("_cg"), x => x === g)),
        size(filter(col("_rg"), x => x === g))).cast("long")
    pairs
      .withColumn("_cg", grams(col(candCol)))
      .withColumn("_rg", grams(col(refCol)))
      .withColumn("n_cand", size(col("_cg")).cast("long"))
      .withColumn("n_ref", size(col("_rg")).cast("long"))
      .withColumn("clipped", aggregate(array_distinct(col("_cg")),
        lit(0L), (acc, g) => acc + clip(g)))
      .withColumn("precision",
        col("clipped").cast("double") / col("n_cand"))
      .withColumn("recall", col("clipped").cast("double") / col("n_ref"))
      .withColumn("f1", lit(2.0) * col("clipped").cast("double") /
        (col("n_cand") + col("n_ref")))
      .drop("_cg", "_rg")
  }

  /** Marker-token language scores. The marker lists are tiny and the scan
    * is one pass over the token array per language. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  /** Language-ID heuristic: argmax over marker-hit counts. Zero-hit rows
    * resolve to "und"; positive-score TIES resolve to the lexicographically
    * greatest language code (array_max over (score, lang) structs — e.g. a
    * text containing only "la" scores es=fr=1 and returns "fr").
    * Deterministic either way. */
  def langId(c: Column): Column = {
    val toks = tokens(lower(c))
    val scored = langMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(size(filter(toks, t => t.isInCollection(markers))).as("score"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Rolling fingerprint over the token stream (order-aware, unlike a
    * bag-of-words hash): acc = xxhash64(acc, token) chained left-to-right.
    * Chained hashing instead of polynomial accumulation — ANSI mode
    * (Spark 4 default) raises on the wraparound multiply a polynomial
    * hash relies on. */
  def rollingFingerprint(c: Column): Column =
    aggregate(TextDedup.tokens(c), lit(0L), (acc, t) => xxhash64(acc, t))

  // ---- PII / boilerplate scrubbing ----

  /** Patterns chosen inside the Java-regex ∩ RE2 common dialect so the
    * DuckDB oracle evaluates them identically. */
  val emailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlRe: String = "https?://\\S+"

  def emailCount(c: Column): Column =
    size(regexp_extract_all(c, lit(emailRe), lit(0)))

  def urlCount(c: Column): Column =
    size(regexp_extract_all(c, lit(urlRe), lit(0)))

  /** PII/link scrub: URLs first (so an email inside a URL's query string
    * is swallowed by `<URL>`), then bare emails. Pure regexp_replace —
    * narrow, codegen'd, scan-speed at 100 TB. */
  def scrub(c: Column): Column =
    regexp_replace(regexp_replace(c, urlRe, "<URL>"), emailRe, "<EMAIL>")

  /** Corpus token-frequency top-k (vocabulary head): one shuffle on the
    * token (with map-side partial counts), then TakeOrderedAndProject —
    * only k rows cross the final exchange. Ties broken by token text for
    * a deterministic cut. The standard first step of vocab/BPE training
    * over a corpus; at 100 TB the partial aggregation means the shuffle
    * carries one row per (partition, distinct token), not per token
    * occurrence. */
  def tokenTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(TextDedup.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Per-document out-of-vocabulary profile against a vocabulary table
    * (one `token` column — e.g. the [[tokenTopK]] head, or a real
    * tokenizer's vocab loaded from parquet): token count, OOV count, OOV
    * rate. The training-data gate for "will this document explode into
    * UNK/byte-fallback tokens".
    *
    * Scale shape: tokens explode narrowly, the vocabulary broadcast-joins
    * (a vocab is ≤ a few million rows by construction), and the per-doc
    * rollup is one partial-aggregated shuffle on the doc id. The rate is
    * a ratio of integer counts — bit-identical cross-engine. */
  def oovProfile(df: DataFrame, textCol: String, idCol: String,
                 vocab: DataFrame): DataFrame = {
    require(vocab.columns.contains("token"),
      "vocab must have a 'token' column")
    val toks = df.select(col(idCol), explode(TextDedup.tokens(col(textCol))).as("tok"))
    toks.join(broadcast(vocab.select(col("token")).distinct()),
        col("tok") === col("token"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("token").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens"))
  }

  /** PMI collocation mining: word pairs that co-occur as bigrams far
    * more often than their unigram frequencies predict ("new york",
    * "machine learning") — the standard phrase-discovery pass over a
    * corpus. Scored by PMI's RATIO form (no log: log is monotone, so
    * the ranking is unchanged, and the score stays a chain of exact
    * integer counts plus correctly-rounded IEEE ops — hash-verifiable
    * cross-engine):
    *   lift = c_ab / M · N / c_a · N / c_b   (left-to-right)
    * with c_ab the bigram count over M total bigrams, c_a/c_b unigram
    * counts over N total tokens.
    *
    * Scale shape: tokenization runs ONCE (staged to parquet via
    * `stagingPath`, else persisted — release with
    * `spark.catalog.clearCache()`); both exploding scans collapse to
    * count tables before any join (map-side partials); `minPairCount`
    * cuts the long tail BEFORE the joins; the unigram table is
    * vocabulary-sized and persisted for its three consumers (AQE
    * broadcasts the join sides when they fit); totals ride one
    * broadcast 1-row cross join; the final top-k is
    * TakeOrderedAndProject — k rows per partition to the driver, never
    * the full pair table. */
  def collocations(df: DataFrame, textCol: String, minPairCount: Long = 5,
                   k: Int = 50,
                   stagingPath: Option[String] = None): DataFrame = {
    val spark = df.sparkSession
    // ONE tokenization pass: the token arrays feed three consumers
    // (unigram counts, totals, bigram counts), so materialize them —
    // to parquet when a staging dir is given (the 100 TB shape: each
    // branch re-scans columnar storage), else a MEMORY_AND_DISK
    // persist scoped to the session (release via catalog.clearCache).
    val toksPlain = df.select(TextDedup.tokens(col(textCol)).as("_toks"))
    val toks = stagingPath match {
      case Some(p) =>
        toksPlain.write.mode("overwrite").parquet(p)
        spark.read.parquet(p)
      case None =>
        toksPlain.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    // the unigram table is also multiply consumed (two join sides +
    // the N total) and is only vocabulary-sized: persist it too
    val uni = toks.select(explode(col("_toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // totals: N from the collapsed unigram table; M from one narrow
    // aggregate over the cached token arrays (no exploded pass). M
    // counts every bigram (pre-threshold), or the probabilities would
    // be conditioned on the filter.
    val totals = broadcast(
      uni.agg(sum(col("c_w")).cast("double").as("n_tok")).crossJoin(
        toks.agg(sum(greatest(size(col("_toks")) - 1, lit(0)))
          .cast("double").as("n_big"))))
    val big = toks.filter(size(col("_toks")) >= 2)
      .select(explode(graft.functions.GraftFunctions
        .shingles(spark, col("_toks"), 2)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
    val lift = col("c_ab") / col("n_big") * col("n_tok") / col("c_a") *
      col("n_tok") / col("c_b")
    big
      .withColumn("w1", split(col("pair"), " ").getItem(0))
      .withColumn("w2", split(col("pair"), " ").getItem(1))
      .join(uni.select(col("w").as("w1"), col("c_w").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_b")), Seq("w2"))
      .crossJoin(totals)
      .select(col("pair"), col("w1"), col("w2"), col("c_ab"), col("c_a"),
        col("c_b"), lift.as("lift"))
      .orderBy(col("lift").desc, col("pair").asc)
      .limit(k)
  }

  /** Domain/source-level curation gate: per-source volume, quality
    * incidence and exact-duplicate incidence decide whether the WHOLE
    * source is admitted to the corpus — the RefinedWeb-style coarse
    * filter applied before any per-document work (cutting a bad domain
    * here saves every downstream scan of its documents).
    *
    * A "good" document scores [[qualityScore]] ≥ `goodQuality`; a
    * source is admitted when it has ≥ `minDocs` documents, a good
    * fraction ≥ `minGoodFrac`, and an exact-duplicate fraction
    * (1 − distinct content hashes / docs) ≤ `maxDupFrac`.
    *
    * One text scan computes the quality score and the content hash in
    * the same projection; one per-source aggregate follows. Every
    * reported fraction is a ratio of integer counts — bit-identical
    * cross-engine. At 100 TB the aggregate ships one partial row per
    * (source) per map task (the distinct-hash term shuffles the
    * already-collapsed (source, hash) pairs), and the verdict table is
    * sources-sized — tiny. */
  def sourceGate(df: DataFrame, textCol: String,
                 sourceCol: String, minDocs: Long = 3,
                 goodQuality: Double = 0.5, minGoodFrac: Double = 0.5,
                 maxDupFrac: Double = 0.2): DataFrame = {
    val rows = df.select(col(sourceCol),
      qualityScore(col(textCol)).as("_q"),
      md5(TextDedup.normalize(col(textCol))).as("_h"))
    val goodFrac = col("n_good") / col("n_docs")
    val dupFrac = col("n_dup") / col("n_docs")
    rows.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("_q") >= goodQuality, 1L).otherwise(0L)).as("n_good"),
        (count(lit(1)) - countDistinct(col("_h"))).as("n_dup"))
      .select(col(sourceCol), col("n_docs"), col("n_good"),
        goodFrac.as("good_frac"), col("n_dup"), dupFrac.as("dup_frac"),
        (col("n_docs") >= minDocs && goodFrac >= minGoodFrac &&
          dupFrac <= maxDupFrac).as("admit"))
  }

  /** BM25-flavored salient terms: the k most distinctive terms per
    * document, scored tf × (N − df + 0.5)/(df + 0.5) — the BM25 idf
    * ratio WITHOUT the log, so the score is a chain of exact integer
    * arithmetic plus two correctly-rounded IEEE ops (one divide, one
    * multiply) and hash-verifies cross-engine; ranking is unchanged
    * because log is monotone.
    *
    * Scale shape: tf = one (doc, term) aggregation; df = one term
    * aggregation over the (already collapsed) tf rows; the tf⋈df join
    * shuffles on the term — at corpus scale the df side is vocabulary-
    * sized and AQE broadcast-joins it. The per-doc top-k is the
    * row_number idiom: one window over the (doc, term) rows, which
    * Spark plans with a partial `WindowGroupLimit` (at most k rows per
    * doc leave each map task). */
  def salientTerms(df: DataFrame, textCol: String, idCol: String,
                   k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(idCol), explode(TextDedup.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") *
          ((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col(idCol), col("term_rank").cast("bigint").as("term_rank"),
        col("term"), col("tf"), col("df"), col("score"))
  }

  /** BPE merge learning [Sennrich et al. '16] — the tokenizer-training
    * step itself, distributed: `nMerges` rounds of "count adjacent
    * symbol pairs across the corpus, merge the most frequent". The
    * corpus collapses to (distinct word, frequency) first — the
    * standard trick that makes each round's pair count a
    * vocabulary-sized aggregate instead of a corpus scan — and the
    * merge applies as a left-to-right non-overlapping `aggregate` fold
    * over each word's symbol array (greedy BPE application order; a
    * freshly merged symbol never re-merges with the element it just
    * consumed, which is exactly what the fold gives for free).
    *
    * Determinism: tie-breaks order by (count DESC, left ASC,
    * right ASC), so the learned merge table is a pure function of the
    * corpus — the DuckDB oracle replays every round with a
    * `list_reduce` fold carrying the identical left-to-right greedy
    * merge semantics (a plain string replace is NOT equivalent on
    * adjacent repeats like 'papa') and must reproduce it exactly.
    *
    * Scale shape: per round, one explode + sum aggregate over the
    * VOCABULARY (not the corpus) and a 1-row argmax collect (the
    * driver holds only the merge table, ≤ nMerges rows); the merge
    * apply is a narrow projection. Symbol arrays are persisted each
    * round so the unrolled lineage never recomputes round k−1's fold
    * (at cluster scale: checkpoint every ~10 rounds instead).
    *
    * Returns `(round, left, right, pair_count)`, rounds 1..n (stops
    * early if no pair repeats). */
  def learnBpeMerges(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, "need at least one merge round")
    val spark = df.sparkSession
    import spark.implicits._
    val words = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var seqs = words.select(col("freq"), split(col("w"), "").as("syms")).persist()
    // the previous round's cached frame: its child was materialized by
    // THIS round's pair-count collect, so it can drop one round late —
    // no extra count() job just to force materialization
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    for (r <- 1 to nMerges if !done) {
      // Adjacent pairs via the native shingling kernel (k=2): symbols
      // never contain spaces (words come from a whitespace split), so
      // the "l r" 2-shingle splits back unambiguously and the
      // (left, right) grouping is value-identical to the former
      // interpreted zip_with(slice, slice, struct) lambda. Words of one
      // symbol contribute no pair on both spellings (the kernel's
      // short-array whole-join contract is excluded by the size filter).
      val top = seqs
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(graft.functions.GraftFunctions
          .shingles(spark, col("syms"), 2)).as("p2"))
        .groupBy(substring_index(col("p2"), " ", 1).as("left"),
          substring_index(col("p2"), " ", -1).as("right"))
        .agg(sum(col("freq")).as("cnt"))
        .filter(col("cnt") >= 2)
        .orderBy(col("cnt").desc, col("left"), col("right"))
        .limit(1).collect()
      // the collect above materialized `seqs`; the round-(r-1) cache
      // has no remaining consumers
      prev.foreach(_.unpersist(false))
      if (top.isEmpty) done = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, c))
        prev = Some(seqs)
        // one greedy left-to-right pass in the native kernel —
        // bit-parity with the former interpreted aggregate(...CASE) fold
        seqs = seqs.withColumn("syms", graft.functions.GraftFunctions
          .bpeApply(spark, col("syms"), Seq((a, b)))).persist()
      }
    }
    seqs.unpersist(false)
    prev.foreach(_.unpersist(false))
    merges.toSeq.toDF("round", "left", "right", "pair_count")
  }

  /** Tokenizer ENCODE: apply a learned merge table ([[learnBpeMerges]]'
    * output order) to every document — the missing half of BPE (learn
    * produces the vocabulary; this is what a data pipeline runs over
    * the other 100 TB). Each word splits to characters, then each
    * merge rule applies IN TABLE ORDER with the same left-to-right
    * greedy fold as training (rule k must see the symbols rule k−1
    * produced — applying rules out of order or simultaneously yields a
    * different, wrong tokenization).
    *
    * Scale shape: the folds run over the DISTINCT word vocabulary
    * (each unique word tokenizes exactly once — BPE tokenization is a
    * pure function of the word), and per-document stats come from one
    * word-keyed join + rollup. At 100 TB the vocabulary is orders of
    * magnitude smaller than the token stream, so the |merges| nested
    * folds — each O(symbols) with array rebuilds — never touch corpus-
    * sized data (the naive per-token formulation measured 23 s at
    * sf0.1 against ~2 s for this shape; ScaleStress carries it).
    *
    * Returns `(id, n_words, n_chars_tokenized, n_tokens)` — the
    * compression diagnostics every tokenizer report needs; join the
    * internal vocabulary tokenization (`tokenizeVocab`) for token
    * identity. */
  def applyBpeMerges(df: DataFrame, textCol: String, idCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "need at least one merge rule")
    val wordsPerDoc = df.select(col(idCol).as("id"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = tokenizeVocab(wordsPerDoc.select(col("w")).distinct(), merges)
    wordsPerDoc.join(vocab, "w")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars_tokenized"),
        sum(col("_wtok")).as("n_tokens"))
  }

  /** Tokenize a distinct-word frame `(w)` with the ordered merge
    * rules: adds `_syms` (the token array) and `_wtok` (its size).
    * Each rule applies as the training fold, in table order. */
  private def tokenizeVocab(vocab: DataFrame,
                            merges: Seq[(String, String)]): DataFrame =
    // all |merges| greedy passes fused into ONE kernel call per word —
    // the former spelling nested |merges| interpreted aggregate(...CASE)
    // folds, each rebuilding its accumulator array per element
    vocab.withColumn("_syms", graft.functions.GraftFunctions
        .bpeApply(vocab.sparkSession, split(col("w"), ""), merges))
      .withColumn("_wtok", size(col("_syms")).cast("long"))

  /** Okapi BM25 retrieval scoring [Robertson & Walker '94; the Lucene
    * `(1 + (N−df+0.5)/(df+0.5))` idf variant, which keeps idf positive
    * for terms in over half the corpus]: score every document against a
    * literal bag of query terms and keep the global top k. This is the
    * relevance-ranking counterpart of [[salientTerms]] (which ranks
    * terms per doc; this ranks docs per query) — the curation use is
    * "pull the strongest matches for a probe query out of a 100 TB
    * corpus" (targeted decontamination, topic mining, eval-set
    * retrieval).
    *
    * Scale shape: tf is restricted to the query terms BEFORE the
    * (doc, term) aggregate — the IN-list filter sits on the exploded
    * token stream, so the agg input is |queryTerms|-bounded per doc
    * after the map-side partial; df and the
    * (n_docs, avgdl) stats are vocabulary- and scalar-sized broadcasts;
    * the final top-k is ORDER BY rounded score + id LIMIT k, planned as
    * TakeOrderedAndProject (bounded heap, plan-gated). Nothing but the
    * per-doc term counts ever shuffles, and those are ≤ |queryTerms|
    * rows per doc.
    *
    * Cross-engine determinism: dl/df/tf are exact integers, avgdl is
    * one division of exact sums, idf is the one libm `ln` — the final
    * score is rounded to 6 dp (house convention for log-bearing
    * scores), and the top-k boundary orders by the ROUNDED score with
    * an id tiebreak, so both engines cut the same set. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "BM25 needs at least one query term")
    val toks = df.select(col(idCol),
      split(trim(lower(col(textCol))), "\\s+").as("toks"))
    val dl = toks.select(col(idCol), size(col("toks")).cast("long").as("dl"))
    val tf = toks
      .select(col(idCol), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms.distinct: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib",
        col("idf") * (col("tf") * (lit(k1) + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
    scored.groupBy(col(idCol))
      // round-of-raw-sum is safe HERE by magnitude: per-doc BM25 scores
      // sum a handful of O(10) idf·tf terms (ulp ~1e-15 vs the 5e-7
      // rounding step), unlike the money sums the latticeSum discipline
      // converts — flip probability is negligible at any corpus scale
      // because the SCORE magnitude is corpus-size-independent
      .agg(round(sum(col("contrib")), 6).as("score"),
        count(lit(1)).cast("bigint").as("n_terms_hit"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Gopher-style repetition profile: the fraction of duplicate tokens
    * and duplicate word n-grams per document — the standard quality
    * signal for cutting boilerplate/spam from training corpora (Gopher's
    * "repetition" filters). Pure array expressions over the normalized
    * token stream ([[graft.ext.TextDedup.tokens]] — same normalization
    * as the dedup family), so this is a narrow projection running at
    * scan speed; the fractions are ratios of exact integer counts,
    * bit-identical across engines.
    *
    * Output: `(doc_id, n_tokens, dup_token_frac, dup_ngram_frac)`. A doc
    * with ≤ n tokens forms one n-gram (the whole text), so its
    * dup_ngram_frac is 0 — same convention as [[TextDedup.shingles]]. */
  def repetitionProfile(df: DataFrame, textCol: String, idCol: String,
                        n: Int = 3): DataFrame =
    // native shingle kernel: tokenization is the expression's child,
    // evaluated once per row even if the optimizer splices the tree into
    // a filter (TextDedup.shingles PERF note); the toks/grams projections
    // additionally build each array once for its two consumers
    df.select(col(idCol).as("doc_id"), TextDedup.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("toks"),
        graft.functions.GraftFunctions
          .shingles(df.sparkSession, col("toks"), n).as("grams"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        (lit(1.0) - size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          .as("dup_token_frac"),
        (lit(1.0) - size(array_distinct(col("grams"))).cast("double") / size(col("grams")))
          .as("dup_ngram_frac"))

  /** Documents below both repetition thresholds — the kept (non-spam)
    * set, original columns intact. */
  def repetitionFilter(df: DataFrame, textCol: String, idCol: String,
                       n: Int = 3, maxDupTokenFrac: Double = 0.7,
                       maxDupNgramFrac: Double = 0.3): DataFrame =
    // ONE fused boolean kernel: the composable condition needs the token
    // array 4x and the gram array 2x, FilterExec does no common-subexpr
    // elimination, and predicate pushdown defeats scratch-column sharing
    // (its alias substitution inlines the trees into the condition) — the
    // kernel tokenizes and shingles exactly once per row wherever the
    // condition lands. Verdict parity with repetitionProfile's fractions
    // is pinned in FunctionsSpec.
    df.filter(graft.functions.GraftFunctions.repetitionOk(
      df.sparkSession, TextDedup.tokens(col(textCol)), n,
      maxDupTokenFrac, maxDupNgramFrac))

  /** Token-window document chunking: split each document into
    * `chunkTokens`-token windows advancing by `chunkTokens - overlap`
    * (consecutive chunks share `overlap` tokens) — the preprocessing
    * shape of embedding/retrieval corpora, where documents exceed the
    * encoder's context and chunk boundaries need overlap so no span
    * falls between two chunks. Output: one row per chunk with
    * (idCol, chunk_idx, start_tok, n_chunk_tokens, chunk_text); the
    * final chunk may be short; an empty document yields one chunk of
    * its single empty token (the library's token convention counts
    * split("") as [""] — x03 parity), so no document silently
    * disappears.
    *
    * Narrow projection + posexplode — no shuffle; a 100 TB corpus
    * chunks at scan speed. The token array is projected ONCE and
    * referenced twice (window starts + slices), which keeps
    * CollapseProject from inlining the tokenization into the
    * per-chunk lambda (NOTES lesson 15: single-use non-cheap aliases
    * get inlined; >1 use is kept).
    */
  def chunk(df: DataFrame, textCol: String, idCol: String,
            chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    val step = chunkTokens - overlap
    val toked = df.select(col(idCol), TextDedup.tokens(col(textCol)).as("_toks"))
    val starts = sequence(lit(0), greatest(size(col("_toks")) - 1, lit(0)), lit(step))
    val chunks = transform(starts, st => struct(
      st.cast("long").as("start_tok"),
      concat_ws(" ", slice(col("_toks"), st + 1, lit(chunkTokens))).as("chunk_text")))
    toked
      .select(col(idCol), col("_toks"), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("c.start_tok").as("start_tok"),
        least(lit(chunkTokens.toLong),
          greatest(size(col("_toks")).cast("long") - col("c.start_tok"), lit(0L)))
          .as("n_chunk_tokens"),
        col("c.chunk_text").as("chunk_text"))
  }

  /** Inverted index over the corpus: for each token, its document
    * frequency and the sorted posting list of documents containing it
    * (serialized `id,id,...` — engine-portable, and the natural delta
    * format for shipping postings to a search backend).
    *
    * `minDf` drops hapax noise; `maxDf` drops stop words — BOTH are
    * scale controls, not just quality ones: an uncapped stop-word
    * posting list at 100 TB is a single group holding a large fraction
    * of all doc ids (a classic reducer hot spot). With the cap, every
    * surviving group is ≤ maxDf ids. The df counts are computed in the
    * SAME aggregate as the list (one shuffle on the token, partial
    * counts map-side); at index-build scale you'd additionally shard
    * wide terms, but with a df cap the group bound makes that
    * unnecessary. */
  def invertedIndex(df: DataFrame, textCol: String, idCol: String,
                    minDf: Long = 2, maxDf: Long = 1000): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf,
      s"need 1 <= minDf <= maxDf, got ($minDf, $maxDf)")
    df.select(col(idCol).as("doc_id"),
        explode(TextDedup.tokens(col(textCol))).as("token"))
      .distinct() // document frequency, not term frequency
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"),
        concat_ws(",", sort_array(collect_list(col("doc_id")))).as("postings"))
      .filter(col("df").between(minDf, maxDf))
      .orderBy(col("token"))
  }

  /** Corpus-unigram log-probability score per document — the classic
    * cheap "perplexity" quality signal (CCNet-style): a document whose
    * tokens are corpus-typical scores high (near 0), one dominated by
    * rare tokens scores very negative. Emits per doc: `n_tokens`,
    * `sum_tok_freq` (Σ corpus count of each token occurrence — exact
    * BIGINT, carries most of the verification weight), and `score` =
    * mean over token positions of ln(count(tok)/total).
    *
    * Determinism: a plain `avg` over grouped doubles sums in partition
    * order — nondeterministic at the ulp. Instead each doc's token
    * log-probs are collected with their POSITION, sorted, and folded
    * left-to-right, so the double is bit-reproducible on any cluster
    * (and any engine — DuckDB's ordered `list_sum` matches; the final
    * round(6) absorbs the ≤1-ulp `ln` libm divergence, same contract
    * as the cosine oracles).
    *
    * Scale shape: one token-frequency aggregate with map-side partials
    * (vocab-sized result → broadcast-joined back onto the token
    * stream), one per-doc aggregate. The per-doc collect is bounded by
    * doc length — the same bound the corpus's own rows carry. */
  def unigramScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val tok = TextDedup.spreadCompute(df)
      .select(col(idCol).as("doc_id"),
        posexplode(TextDedup.tokens(col(textCol))).as(Seq("pos", "tok")))
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    tok.join(broadcast(freq), "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("pos"), col("cnt"),
        log(col("cnt") / col("total").cast("double")).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_tok_freq"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("lp")))),
          lit(0.0), (acc, x) => acc + x.getField("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_tokens"), col("sum_tok_freq"),
        round(col("sum_lp") / col("n_tokens"), 6).as("score"))
  }

  /** Interpolated bigram LM score per document — the next rung of the
    * CCNet-style LM-quality ladder above [[unigramScore]]:
    * mean over positions i ≥ 1 of
    * ln( λ·c(w_{i−1},w_i)/c(w_{i−1}) + (1−λ)·c(w_i)/N ),
    * i.e. a bigram model with unigram interpolation (never −∞ on an
    * unseen bigram as long as the unigram exists — and corpus-scored
    * docs always contribute their own unigrams).
    *
    * Determinism (x62's discipline): counts are exact integers, the
    * per-position log-probs fold in POSITION order via an ordered
    * `aggregate`, and the mean rounds to 6 dp — so the score is
    * bit-reproducible across partitionings and engines, which a bare
    * `sum(lp)` would not be.
    *
    * Scale shape: one (prev, cur) bigram count aggregate + one unigram
    * count aggregate (both vocabulary-sized, broadcast back onto the
    * position stream), one per-doc fold. Docs with < 2 tokens have no
    * bigrams and are absent from the output (documented contract). */
  def bigramScore(df: DataFrame, textCol: String, idCol: String,
                  lambda: Double = 0.8): DataFrame = {
    val pairs = df
      .select(col(idCol).as("doc_id"),
        split(trim(lower(col(textCol))), "\\s+").as("toks"))
      .select(col("doc_id"), posexplode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), " +
          "slice(toks, 2, size(toks) - 1), (a, b) -> struct(a AS prev, b AS cur))"))
        .as(Seq("pos", "p")))
      .select(col("doc_id"), col("pos"), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val toks = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("ucnt"))
    val total = freq.agg(sum(col("ucnt")).as("total"))
    val big = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("bcnt"))
    pairs
      .join(broadcast(big), Seq("prev", "cur"))
      .join(broadcast(freq.withColumnRenamed("tok", "prev")
        .withColumnRenamed("ucnt", "prev_cnt")), Seq("prev"))
      .join(broadcast(freq.withColumnRenamed("tok", "cur")
        .withColumnRenamed("ucnt", "cur_cnt")), Seq("cur"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("pos"),
        log(lit(lambda) * (col("bcnt") / col("prev_cnt").cast("double")) +
          lit(1.0 - lambda) * (col("cur_cnt") / col("total").cast("double"))).as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(array_sort(collect_list(struct(col("pos"), col("lp")))),
          lit(0.0), (acc, x) => acc + x.getField("lp")).as("sum_lp"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sum_lp") / col("n_bigrams"), 6).as("score"))
  }

  /** Instruction-data (chat-transcript) validation — the QA gate a
    * fine-tuning pipeline runs over conversation datasets before
    * training. `jsonCol` holds a JSON array of `{role, content}`
    * turns; each transcript is checked against the standard contract:
    *
    *  - parses as a non-empty array of role/content objects;
    *  - opens with `system` or `user` (a system turn, if any, only at
    *    position 0);
    *  - user/assistant strictly ALTERNATE after the opening;
    *  - closes on an `assistant` turn (the training target);
    *  - no empty/blank content anywhere; no unknown roles.
    *
    * All checks are codegen'd array HOFs over the one parsed array —
    * a narrow projection, no shuffle, linear in turns; every verdict
    * column is boolean/integer so the whole gate is oracle-exact.
    *
    * Returns `(id, n_turns, n_assistant, parse_ok, starts_ok,
    * alternates_ok, ends_ok, content_ok, roles_ok, is_valid)`. */
  def validateChat(df: DataFrame, jsonCol: String, idCol: String): DataFrame = {
    df.select(col(idCol).as("id"), parseTurns(jsonCol).as("_t"))
      .transform(withChatVerdicts("_t", ""))
      .withColumn("n_turns",
        when(col("parse_ok"), size(col("_t"))).otherwise(lit(0)).cast("bigint"))
      .withColumn("n_assistant", coalesce(
        expr("size(filter(_t, x -> x.role = 'assistant'))"), lit(0))
        .cast("bigint"))
      .select(col("id"), col("n_turns"), col("n_assistant"),
        col("parse_ok"), col("starts_ok"), col("alternates_ok"),
        col("ends_ok"), col("content_ok"), col("roles_ok"), col("is_valid"))
  }

  /** The declared turn shape: `{role, content}`. */
  private val turnsType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("role",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.StringType))))

  private def parseTurns(jsonCol: String): Column =
    from_json(col(jsonCol), turnsType)

  /** Append the chat-contract verdict columns for the parsed turn
    * array in column `arr` (prefixed with `pfx` so two transcripts can
    * carry verdicts side by side). One definition — [[validateChat]]
    * and [[validatePreferencePairs]] must agree clause for clause. */
  private def withChatVerdicts(arr: String, pfx: String)
      (df: DataFrame): DataFrame = {
    val known = Seq("system", "user", "assistant")
    val tailCol = s"_tail$pfx"
    df.withColumn(s"${pfx}parse_ok", col(arr).isNotNull && size(col(arr)) > 0)
      // the user/assistant tail (system stripped) must alternate
      // strictly: turn i's role differs from turn i+1's
      .withColumn(tailCol, when(col(s"${pfx}parse_ok"),
        expr(s"filter($arr, x -> x.role != 'system')")))
      .withColumn(s"${pfx}starts_ok", col(s"${pfx}parse_ok") &&
        expr(s"element_at($arr, 1).role").isin("system", "user") &&
        // system only at position 0
        expr(s"size(filter(slice($arr, 2, size($arr)), x -> x.role = 'system'))") === 0)
      .withColumn(s"${pfx}alternates_ok", col(s"${pfx}parse_ok") &&
        size(col(tailCol)) > 0 &&
        expr(s"element_at($tailCol, 1).role") === "user" &&
        expr(s"""size(filter(zip_with(slice($tailCol, 1, size($tailCol) - 1),
                                      slice($tailCol, 2, size($tailCol) - 1),
                                      (a, b) -> a.role = b.role),
                             x -> x)) = 0"""))
      .withColumn(s"${pfx}ends_ok", col(s"${pfx}parse_ok") &&
        expr(s"element_at($arr, -1).role") === "assistant")
      .withColumn(s"${pfx}content_ok", col(s"${pfx}parse_ok") &&
        expr(s"size(filter($arr, x -> x.content IS NULL OR trim(x.content) = ''))") === 0)
      .withColumn(s"${pfx}roles_ok", col(s"${pfx}parse_ok") &&
        expr(s"size(filter($arr, x -> x.role IS NULL OR NOT x.role IN " +
          s"(${known.map(r => s"'$r'").mkString(", ")})))") === 0)
      .withColumn(s"${pfx}is_valid", col(s"${pfx}parse_ok") &&
        col(s"${pfx}starts_ok") && col(s"${pfx}alternates_ok") &&
        col(s"${pfx}ends_ok") && col(s"${pfx}content_ok") &&
        col(s"${pfx}roles_ok"))
      .drop(tailCol)
  }

  /** Preference-pair (DPO/RLHF) dataset validation: each row carries a
    * `chosen` and a `rejected` transcript that must BOTH pass the chat
    * contract, share the exact turn prefix (everything before the
    * final assistant turn — same roles, same contents, same length),
    * and diverge ONLY in the final assistant content (equal chosen/
    * rejected answers carry no preference signal). The structural gate
    * before any reward modeling.
    *
    * Same narrow HOF shape as [[validateChat]], run over both parsed
    * arrays side by side. Returns `(id, chosen_valid, rejected_valid,
    * same_prefix, divergent_last, is_valid)`. */
  def validatePreferencePairs(df: DataFrame, chosenCol: String,
                              rejectedCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        parseTurns(chosenCol).as("_tc"), parseTurns(rejectedCol).as("_tr"))
      .transform(withChatVerdicts("_tc", "c_"))
      .transform(withChatVerdicts("_tr", "r_"))
      .withColumn("same_prefix",
        col("c_parse_ok") && col("r_parse_ok") &&
        size(col("_tc")) === size(col("_tr")) &&
        expr("""size(filter(zip_with(slice(_tc, 1, size(_tc) - 1),
                                     slice(_tr, 1, size(_tr) - 1),
                                     (a, b) -> a.role = b.role
                                           AND a.content <=> b.content),
                            x -> NOT x)) = 0"""))
      .withColumn("divergent_last",
        col("c_parse_ok") && col("r_parse_ok") &&
        expr("element_at(_tc, -1).role") === "assistant" &&
        expr("element_at(_tr, -1).role") === "assistant" &&
        !(expr("element_at(_tc, -1).content") <=>
          expr("element_at(_tr, -1).content")))
      .select(col("id"),
        col("c_is_valid").as("chosen_valid"),
        col("r_is_valid").as("rejected_valid"),
        col("same_prefix"), col("divergent_last"),
        (col("c_is_valid") && col("r_is_valid") && col("same_prefix") &&
          col("divergent_last")).as("is_valid"))

  /** Context-window truncation for chat transcripts: keep every
    * `system` turn (in order) plus the LONGEST suffix of the
    * user/assistant tail that (a) starts on a `user` turn — a
    * transcript resuming mid-exchange on an assistant turn is
    * malformed — and (b) fits `budget` whitespace tokens including
    * the system turns' cost. The standard serving/training
    * preprocessing step ("drop the oldest exchanges until it fits").
    *
    * All-HOF narrow projection over the parsed array; the prefix-sum
    * build is O(turns²) array work per transcript (turn counts are
    * tens, never corpus-sized — same trade as the interval buffers).
    * When nothing fits, the output keeps only the system turns and
    * `fits` reads false (budget below the system cost included).
    *
    * Returns `(id, chat, n_kept, tokens_kept, fits)` — `chat` is the
    * re-serialized truncated transcript, `n_kept` counts kept
    * non-system turns, `tokens_kept` the total kept cost. */
  def truncateChat(df: DataFrame, jsonCol: String, idCol: String,
                   budget: Int): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    def costOf(v: String) =
      s"CAST(size(filter(split(trim($v.content), '\\\\s+'), " +
        s"t -> length(t) > 0)) AS BIGINT)"
    df.select(col(idCol).as("id"), parseTurns(jsonCol).as("_t"))
      .withColumn("_ok", col("_t").isNotNull && size(col("_t")) > 0)
      .withColumn("_sys", when(col("_ok"),
        expr("filter(_t, x -> x.role = 'system')")))
      .withColumn("_tail", when(col("_ok"),
        expr("filter(_t, x -> x.role != 'system')")))
      .withColumn("_syscost",
        expr(s"aggregate(_sys, 0L, (a, x) -> a + ${costOf("x")})"))
      .withColumn("_costs", expr(s"transform(_tail, x -> ${costOf("x")})"))
      // prefix[i] (1-based) = cost of the first i-1 tail turns
      .withColumn("_prefix", expr(
        "aggregate(_costs, array(0L), " +
          "(acc, c) -> concat(acc, array(element_at(acc, -1) + c)))"))
      .withColumn("_total", expr("element_at(_prefix, -1)"))
      // candidate suffix starts: user-turn positions whose suffix cost
      // plus the system cost fits the budget; keep the longest (min s).
      // Guard on a non-empty tail: sequence(1, 0) yields the DESCENDING
      // array [1, 0] and the filter lambda would index out of bounds —
      // an all-system transcript must degrade to n_kept=0 / fits=false.
      .withColumn("_s", when(size(col("_tail")) > 0, expr(
        s"array_min(filter(sequence(1, size(_tail)), " +
          s"s -> element_at(_tail, s).role = 'user' AND " +
          s"_total - element_at(_prefix, s) + _syscost <= $budget))")))
      .withColumn("_kept", when(col("_s").isNotNull,
        expr("slice(_tail, _s, size(_tail) - _s + 1)"))
        .otherwise(expr("slice(_tail, 1, 0)")))
      .select(col("id"),
        when(col("_ok"), to_json(expr("concat(_sys, _kept)"))).as("chat"),
        coalesce(size(col("_kept")), lit(0)).cast("bigint").as("n_kept"),
        coalesce(when(col("_s").isNotNull,
            expr("_syscost + _total - element_at(_prefix, _s)"))
          .otherwise(col("_syscost")), lit(0L)).as("tokens_kept"),
        coalesce(col("_s").isNotNull, lit(false)).as("fits"))
  }

  /** Per-group token-frequency concentration: Gini coefficient plus
    * the top-`topK` token share over each group's unigram
    * distribution — the vocabulary-collapse detector (a source whose
    * token mass concentrates into few types is templated/boilerplate
    * even when per-document repetition gates pass). Gini over counts
    * c₁ ≤ … ≤ c_n at ranks i: `G = (2·Σ i·cᵢ − (n+1)·Σc) / (n·Σc)` —
    * every sum EXACT integers (rank ties on equal counts cannot change
    * Σ i·cᵢ: permuting equal values within a rank block preserves the
    * sum), so both outputs are one-division IEEE values with no
    * fold-order caveat.
    *
    * Scale: the token explode is the inverted-index pass; everything
    * after is vocabulary-sized per group, and the two rank windows
    * sort each group's DISTINCT terms only. Output
    * `(group, n_terms, total_tokens, gini, topk_share)`. */
  def giniConcentration(df: DataFrame, groupCol: String, textCol: String,
                        topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 1, "topK >= 1")
    val counts = df.select(col(groupCol).as("group"),
        explode(graft.ext.TextDedup.tokens(col(textCol))).as("_term"))
      .groupBy(col("group"), col("_term"))
      .agg(count(lit(1)).as("_c"))
    val wAsc = Window.partitionBy(col("group"))
      .orderBy(col("_c"), col("_term"))
    val wDesc = Window.partitionBy(col("group"))
      .orderBy(col("_c").desc, col("_term"))
    counts
      .withColumn("_i", row_number().over(wAsc))
      .withColumn("_rd", row_number().over(wDesc))
      .groupBy(col("group"))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("_c")).as("total_tokens"),
        // rank·count products as DECIMAL(38,0): exact at any vocabulary
        // × corpus size (the Stats sufficient-statistic discipline)
        sum(col("_i").cast("decimal(18,0)") *
          col("_c").cast("decimal(18,0)")).as("_ic"),
        sum(when(col("_rd") <= topK, col("_c")).otherwise(0L)).as("_top"))
      .select(col("group"), col("n_terms"), col("total_tokens"),
        round((lit(2.0) * col("_ic").cast("double") -
          (col("n_terms").cast("double") + 1.0) * col("total_tokens")) /
          (col("n_terms").cast("double") * col("total_tokens")), 6).as("gini"),
        round(col("_top").cast("double") / col("total_tokens"), 6)
          .as("topk_share"))
  }

  /** Corpus-level collocation mining by pointwise mutual information
    * over ADJACENT token pairs — the phrase/multi-word-expression
    * detector that feeds tokenizer vocab decisions ("new york" worth a
    * merge?) and template detection (suspiciously strong collocations
    * = boilerplate). Convention: unigram probabilities over all corpus
    * tokens (N_u), pair probability over all adjacent pairs (N_b), so
    * `pmi = ln(n_ab · N_u · N_u / (N_b · n_a · n_b))`; pairs below
    * `minCount` are noise-suppressed (the standard PMI low-count
    * pathology), output is the `topK` by (rounded pmi, term_a,
    * term_b) — a total order, so the cut is deterministic.
    *
    * Scale: the bigram explode is the inverted-index shape (corpus
    * tokens × 1 row each) and both counts reduce map-side; the PMI
    * join runs on the ≥minCount pair table against the vocabulary
    * (both sub-corpus-sized), and only topK rows survive the final
    * TakeOrdered cut. */
  def pmiCollocations(df: DataFrame, textCol: String, minCount: Int = 5,
                      topK: Int = 50): DataFrame = {
    require(minCount >= 1, "minCount >= 1")
    require(topK >= 1, "topK >= 1")
    val toks = df.select(graft.ext.TextDedup.tokens(col(textCol)).as("_toks"))
    val uni = toks.select(explode(col("_toks")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_term"))
    val bi = toks.filter(size(col("_toks")) >= 2)
      .select(explode(zip_with(
        slice(col("_toks"), lit(1), size(col("_toks")) - 1),
        slice(col("_toks"), lit(2), size(col("_toks")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .groupBy(col("p.a").as("term_a"), col("p.b").as("term_b"))
      .agg(count(lit(1)).as("n_pair"))
    val nu = uni.agg(sum(col("n_term")).as("_nu"))
    val nb = bi.agg(sum(col("n_pair")).as("_nb"))
    bi.filter(col("n_pair") >= minCount)
      .join(uni.select(col("term").as("term_a"), col("n_term").as("_na")), "term_a")
      .join(uni.select(col("term").as("term_b"), col("n_term").as("_nb2")), "term_b")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("term_a"), col("term_b"), col("n_pair"),
        round(log((col("n_pair").cast("double") * col("_nu") * col("_nu")) /
          (col("_nb").cast("double") * col("_na") * col("_nb2"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("term_a"), col("term_b"))
      .limit(topK)
  }

  /** Pack token-counted documents into fixed-length training
    * sequences — the standard pretraining concat-and-chunk layout:
    * documents concatenate in ascending id order and the stream
    * chunks into `seqLen`-token sequences, docs splitting across
    * chunk boundaries. Output: one row per (document, sequence)
    * piece — `(idCol, seq_id, doc_offset, seq_offset, piece_len)`
    * (`doc_offset` = the piece's start within the doc, `seq_offset` =
    * its start within the sequence) — the slice plan a writer
    * executes; every sequence except the last is exactly full by
    * construction.
    *
    * Scale design: the global token cumsum NEVER sorts the corpus on
    * one partition — ids band by the [[graft.olap.CustomerValue
    * .amountBand]] log-lattice (negated: band asc == id asc), a ONE-
    * window prefix-sum over the band-count-sized frame yields each
    * band's token offset, and per-band windows (each holding one
    * band's docs) finish the per-doc offsets — the paretoAbc
    * decomposition applied to an id order. The chunk explode emits
    * ≤ ceil(tokens/seqLen)+1 rows per doc — the inherent output
    * size. Deterministic: a pure function of the (id, tokens) set,
    * so it replays bit-identically across engines (oracled).
    *
    * `groupCols` packs each group as its OWN stream (the multi-source
    * training shape: sequences never mix sources; sequence ids and
    * the cumsum restart per group) — the band-offset fold is then a
    * group-PARTITIONED window. Null group values DROP with the other
    * null drops (a piece must belong to a named stream; re-key nulls
    * upstream to keep them).
    *
    * Contract: ids are LONG (the banding lattice orders numbers; a
    * non-numeric key needs a numeric surrogate first — e.g. the x66
    * shard pattern) and UNIQUE per group (the running-sum window
    * orders by id alone, so duplicates would tie and place
    * non-deterministically; an exact per-(band, id) pre-aggregate
    * guard raises loudly at runtime); null ids and null/non-positive token
    * counts drop (a 0-token doc occupies no space in the stream);
    * ids must not be `Long.MinValue` (its negation is
    * unrepresentable — the one id the band lattice cannot order;
    * raises at runtime). */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    seqLen: Long,
                    groupCols: Seq[String] = Seq.empty): DataFrame = {
    require(seqLen >= 1, s"seqLen must be positive: $seqLen")
    require(!groupCols.contains(idCol),
      s"idCol '$idCol' cannot also be a group column")
    graft.Guards.reserved(df, "packSequences",
      Seq("seq_id", "doc_offset", "seq_offset", "piece_len"))
    import org.apache.spark.sql.expressions.Window
    val g = groupCols.map(col)
    val docs = df
      .filter(g.foldLeft(col(idCol).isNotNull && col(tokensCol).isNotNull &&
        col(tokensCol) > 0)(_ && _.isNotNull))
      .select(g ++ Seq(col(idCol),
        // the MinValue raise rides the ALWAYS-USED tokens column so
        // column pruning can never delete the check
        when(col(idCol).cast("long") === Long.MinValue, raise_error(
            lit("packSequences: id Long.MinValue is outside the band" +
              " lattice — remap it")))
          .otherwise(col(tokensCol).cast("long")).as("_graft_tk"),
        // amountBand is monotone NON-INCREASING in its argument, so
        // band(−id) is monotone non-decreasing in id — ascending id
        // bands with no boundary aggregate. −Long.MinValue overflows,
        // so that one id is rejected loudly above the lattice.
        graft.olap.CustomerValue.amountBand(-col(idCol).cast("long"), 2)
          .as("_graft_sb")): _*)
    // duplicate-id guard: the running-sum window below orders by id
    // alone, so duplicate ids would tie and place
    // non-deterministically. The band is a pure function of the id,
    // so dupes always collide within a band — and an (…, band, id)
    // pre-aggregate catches every one EXACTLY without the Expand a
    // count_distinct would plan (which doubles the rows through the
    // corpus-scale shuffle): the first shuffle keys on (group, band,
    // id) with full map-side combine, the second is band-count-sized.
    val perId = docs.groupBy((g ++ Seq(col("_graft_sb"), col(idCol))): _*)
      .agg(sum(col("_graft_tk")).as("_graft_stk"),
        count(lit(1)).as("_graft_c"))
    val perBand = perId.groupBy((g :+ col("_graft_sb")): _*)
      .agg(sum(col("_graft_stk")).as("_graft_s"),
        max(col("_graft_c")).as("_graft_maxc"))
    // ungrouped: the one unpartitioned window, over the band-count-
    // sized frame (plan-gated); grouped: partitioned by the group —
    // each group's band frame prefix-sums independently
    val wOff =
      if (g.isEmpty) Window.orderBy(col("_graft_sb"))
      else Window.partitionBy(g: _*).orderBy(col("_graft_sb"))
    val offs = perBand.select((g ++ Seq(col("_graft_sb"),
      // the dupe raise rides the ALWAYS-USED band offset so column
      // pruning can never delete the check (the MinValue pattern)
      when(col("_graft_maxc") > 1, raise_error(lit(
          "packSequences: duplicate ids — placement ties in the" +
            " running-sum window and replays non-deterministically;" +
            " dedupe or re-key upstream")))
        .otherwise(coalesce(sum(col("_graft_s")).over(
          wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .as("_graft_bo"))): _*)
    val wRun = Window
      .partitionBy((g :+ col("_graft_sb")): _*).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val placed = docs.join(broadcast(offs),
        groupCols :+ "_graft_sb", "inner")
      .withColumn("_graft_start",
        col("_graft_bo") + sum(col("_graft_tk")).over(wRun) -
          col("_graft_tk"))
    placed
      .select(g ++ Seq(col(idCol), col("_graft_tk"), col("_graft_start"),
        explode(sequence(
          floor(col("_graft_start") / seqLen).cast("long"),
          floor((col("_graft_start") + col("_graft_tk") - 1) / seqLen)
            .cast("long"))).as("seq_id")): _*)
      .select(g ++ Seq(col(idCol), col("seq_id"),
        greatest(col("seq_id") * seqLen - col("_graft_start"), lit(0L))
          .as("doc_offset"),
        greatest(col("_graft_start") - col("seq_id") * seqLen, lit(0L))
          .as("seq_offset"),
        (least(col("_graft_start") + col("_graft_tk"),
            (col("seq_id") + 1) * seqLen) -
          greatest(col("_graft_start"), col("seq_id") * seqLen))
          .as("piece_len")): _*)
  }

  /** Per-document profile frame: one narrow projection with all metrics. */
  def profile(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      tokenCount(col(textCol)).as("n_tokens"),
      bpeishTokenCount(col(textCol)).as("n_bpeish"),
      round(avgTokenLength(col(textCol)), 4).as("avg_token_len"),
      round(stopwordRatio(col(textCol)), 4).as("stopword_ratio"),
      round(punctRatio(col(textCol)), 4).as("punct_ratio"),
      qualityScore(col(textCol)).as("quality"),
      langId(col(textCol)).as("lang_guess"),
      rollingFingerprint(col(textCol)).as("fingerprint"))
}
