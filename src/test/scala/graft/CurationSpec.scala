package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.TextAnalysis
import graft.olap.Quality

/** Corpus-curation scoring: BM25-ish salient terms and robust
  * (median/MAD) outlier detection. */
class CurationSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quantum cat sat on the mat"),
    (2L, "the dog sat on the mat"),
    (3L, "the bird sat on the mat"),
    (4L, "the fish sat on the mat")
  ).toDF("doc_id", "text")

  test("unigramScore: corpus-typical docs outscore rare-token docs; exact ints (x62)") {
    val out = TextAnalysis.unigramScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // every doc: 7 or 6 tokens; doc 1 has the hapax "quantum" (cnt 1)
    assert(out(1L)._1 == 7 && out(2L)._1 == 6)
    // sum_tok_freq exact: doc 2 = the(8)+dog(1)+sat(4)+on(4)+the(8)+mat(4)
    assert(out(2L)._2 == 29L)
    // docs 2/3/4 are structurally identical (one hapax each) → equal
    // scores; doc 1's extra hapax + length makes it strictly lower
    assert(out(2L)._3 == out(3L)._3 && out(3L)._3 == out(4L)._3)
    assert(out(1L)._3 < out(2L)._3)
    // deterministic across runs (the ordered-fold contract)
    val again = TextAnalysis.unigramScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out.forall { case (k, (_, _, s)) => again(k) == s })
  }

  test("collocations: PMI lift is exact, ranks the dominant bigram, thresholds apply") {
    val corp = Seq(
      (1L, "new york new york new york"),
      (2L, "the cat")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(corp, "text", minPairCount = 2, k = 10)
      .collect()
    // "new york" (3 of 6 bigrams) outranks "york new" (2); "the cat"
    // falls under the threshold
    assert(got.map(_.getString(0)).toSeq == Seq("new york", "york new"))
    val r = got(0)
    assert(r.getLong(3) == 3L && r.getLong(4) == 3L && r.getLong(5) == 3L)
    // N=8 tokens, M=6 bigrams: lift = 3/6 * 8/3 * 8/3, left-to-right
    assert(r.getDouble(6) == 3.0 / 6.0 * 8.0 / 3.0 * 8.0 / 3.0)
    // single-token docs contribute tokens to N but no bigrams
    val corp2 = Seq((1L, "solo"), (2L, "a b a b a b")).toDF("doc_id", "text")
    val g2 = TextAnalysis.collocations(corp2, "text", minPairCount = 1, k = 10)
    assert(g2.filter($"pair".contains("solo")).count() == 0)
    assert(g2.filter($"pair" === "a b").head.getLong(3) == 3L)
    // the parquet-staged variant returns the identical table
    val tmp = java.nio.file.Files.createTempDirectory("colloc").toString
    val staged = TextAnalysis.collocations(corp, "text", minPairCount = 2,
      k = 10, stagingPath = Some(tmp + "/toks"))
    assert(staged.collect().toSeq == got.toSeq)
  }

  test("sourceGate: volume, quality and dup incidence decide per-source admission") {
    val good = "the cat and the dog sat with the bird on the mat " * 6
    val corp = Seq(
      // source A: 4 docs, all good quality, one exact dup pair -> admit
      (1L, good + "one", "A"), (2L, good + "two", "A"),
      (3L, good + "three", "A"), (4L, good + "three", "A"),
      // source B: enough docs but junk quality -> cut on good_frac
      (5L, "zz", "B"), (6L, "yy", "B"), (7L, "xx", "B"),
      // source C: good quality but below minDocs -> cut on volume
      (8L, good + "solo", "C"), (9L, good + "duo", "C")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceGate(corp, "text", "source",
        minDocs = 3, goodQuality = 0.5, minGoodFrac = 0.5, maxDupFrac = 0.3)
      .orderBy("source").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getBoolean(6))).toMap
    assert(got("A") == ((4L, 4L, 1L, true)))
    assert(got("B")._4 == false && got("B")._1 == 3L)
    assert(got("C")._4 == false && got("C")._2 == 2L)
    // whitespace variants count as the same content (normalized hash)
    val ws = Seq((1L, "a  b", "S"), (2L, "a b", "S"), (3L, " a b ", "S"))
      .toDF("doc_id", "text", "source")
    val dup = TextAnalysis.sourceGate(ws, "text", "source")
      .head
    assert(dup.getLong(4) == 2L) // 3 docs, 1 distinct normalized hash
  }

  test("tokenEntropy: hand-computed entropies, uniform/constant/skewed docs, " +
    "normalization bounds") {
    val df = Seq(
      (1L, "a b a b"),        // uniform over 2 -> ln 2
      (2L, "hello"),          // single token -> 0, norm null
      (3L, "a b c d"),        // uniform over 4 -> ln 4
      (4L, "a a a b")         // skewed 3:1
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    def round6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L).getAs[Double]("entropy") == round6(math.log(2)))
    assert(out(1L).getAs[Double]("norm_entropy") == 1.0)
    assert(out(2L).getAs[Double]("entropy") == 0.0)
    assert(out(2L).isNullAt(out(2L).fieldIndex("norm_entropy")))
    assert(out(3L).getAs[Double]("entropy") == round6(math.log(4)))
    assert(out(3L).getAs[Long]("n_tokens") == 4 &&
      out(3L).getAs[Long]("n_distinct") == 4)
    assert(out(4L).getAs[Double]("entropy") ==
      round6(-(0.75 * math.log(0.75) + 0.25 * math.log(0.25))))
    // skewed < uniform at the same support size; norm in (0, 1]
    assert(out(4L).getAs[Double]("entropy") < out(1L).getAs[Double]("entropy"))
    assert(out(4L).getAs[Double]("norm_entropy") > 0.0 &&
      out(4L).getAs[Double]("norm_entropy") <= 1.0)
  }

  test("rougeN: hand-computed clipped bigram overlap, short-text degrade") {
    // cand "a b a b c" bigrams: [a b, b a, a b, b c] (4)
    // ref  "a b c a"   bigrams: [a b, b c, c a] (3)
    // clipped: min counts of distinct cand grams = a b:1 + b a:0 + b c:1 = 2
    val df = Seq(
      (1L, "a b a b c", "a b c a"),
      (2L, "x", "x"),        // < n tokens -> whole-text shingle, exact hit
      (3L, "p q", "r s")     // no overlap at all
    ).toDF("id", "cand", "ref")
    val out = TextAnalysis.rougeN(df, "cand", "ref", 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_cand") == 4 &&
      out(1L).getAs[Long]("n_ref") == 3 &&
      out(1L).getAs[Long]("clipped") == 2)
    assert(out(1L).getAs[Double]("precision") == 0.5 &&
      out(1L).getAs[Double]("recall") == 2.0 / 3 &&
      out(1L).getAs[Double]("f1") == 4.0 / 7)
    assert(out(2L).getAs[Long]("clipped") == 1 &&
      out(2L).getAs[Double]("f1") == 1.0)
    assert(out(3L).getAs[Long]("clipped") == 0 &&
      out(3L).getAs[Double]("f1") == 0.0)
  }

  test("salientTerms: doc-unique term outranks corpus-wide boilerplate") {
    val top = TextAnalysis.salientTerms(docs, "text", "doc_id", 2)
    val d1 = top.filter($"doc_id" === 1).orderBy($"term_rank")
      .select($"term").collect().map(_.getString(0))
    // 'quantum' and 'cat' are unique to doc 1 (df=1); 'the'/'sat'/'mat'
    // appear in all 4 docs (df=4 -> idf ratio (4-4+.5)/(4+.5) ≈ 0.11)
    assert(d1.toSet == Set("quantum", "cat"), d1.mkString(","))
    // the ubiquitous term scores BELOW any unique term
    val scores = TextAnalysis.salientTerms(docs, "text", "doc_id", 100)
      .filter($"doc_id" === 1)
      .select($"term", $"score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(scores("quantum") > scores("the"))
  }

  test("salientTerms: ≤k rows per doc, ranks contiguous from 1, deterministic") {
    val out = TextAnalysis.salientTerms(docs, "text", "doc_id", 3)
    val perDoc = out.groupBy($"doc_id")
      .agg(count(lit(1)).as("n"), min($"term_rank").as("lo"),
        max($"term_rank").as("hi"))
      .collect()
    perDoc.foreach { r =>
      assert(r.getLong(1) <= 3 && r.getLong(2) == 1L
        && r.getLong(3) == r.getLong(1))
    }
    val again = TextAnalysis.salientTerms(docs.repartition(5), "text", "doc_id", 3)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("oovProfile: exact OOV counts against a vocab table, null-join shape") {
    val vocab = Seq("the", "sat", "on", "mat").toDF("token")
    val out = TextAnalysis.oovProfile(docs, "text", "doc_id", vocab)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // doc 1: "the quantum cat sat on the mat" -> 7 tokens, OOV quantum+cat
    assert(out(1L) == ((7L, 2L, 2.0 / 7)))
    // doc 2: "the dog sat on the mat" -> 6 tokens, OOV dog
    assert(out(2L) == ((6L, 1L, 1.0 / 6)))
  }

  test("oovProfile plan: vocab broadcasts, no sort-merge join") {
    val vocab = Seq("the").toDF("token")
    val prof = TextAnalysis.oovProfile(
      Tables(spark, TestSpark.sf, "documents"), "text", "doc_id", vocab)
    prof.collect()
    val p = prof.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), "vocab must broadcast:\n" + p)
    assert(!p.contains("SortMergeJoin"), "no corpus-side shuffle join:\n" + p)
  }

  test("paragraph dedup composition keeps each unit's first (doc, idx) occurrence") {
    // doc 20 duplicates doc 10's text; doc 30 shares only its first
    // 4-token paragraph with doc 10
    val corpus = Seq(
      (10L, "a b c d e f"),
      (20L, "a b c d e f"),
      (30L, "a b c d x y")
    ).toDF("doc_id", "text")
    val paras = TextAnalysis.chunk(corpus, "text", "doc_id",
        chunkTokens = 4, overlap = 0)
      .withColumn("unit_id", $"doc_id" * 100 + $"chunk_idx")
    val kept = graft.ext.TextDedup.dedupExact(paras, "chunk_text", "unit_id")
      .select($"doc_id", $"chunk_idx", $"chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(kept == Set(
      (10L, 0L, "a b c d"), (10L, 1L, "e f"), // doc 20 fully deduped away
      (30L, 1L, "x y"))) // doc 30's shared first paragraph deduped
  }

  test("q15 shape survives dirty numeric fields under ANSI (null, not throw)") {
    // the fixture's k values are all clean integers, so the oracle gate
    // cannot exercise this — pin it here: decimal strings, garbage, and
    // k=0 all yield NULL instead of a CAST_INVALID_INPUT / divide error
    val dirty = Seq(
      (1L, """{"k":"10"}""", 50.0),
      (2L, """{"k":"3.7"}""", 50.0), // decimal string: try_cast -> null
      (3L, """{"k":"oops"}""", 50.0),
      (4L, """{"k":"0"}""", 50.0), // zero divisor: try_divide -> null
      (5L, null, 50.0)
    ).toDF("event_id", "props", "value")
    val k = expr("try_cast(get_json_object(props, '$.k') AS BIGINT)")
    val out = dirty.select($"event_id", k.as("k"),
        try_divide($"value", k.cast("double")).as("value_per_k"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getLong(1),
         if (r.isNullAt(2)) null else r.getDouble(2))).toMap
    assert(out(1L) == ((10L, 5.0)))
    assert(out(2L) == ((null, null)))
    assert(out(3L) == ((null, null)))
    assert(out(4L) == ((0L, null)))
    assert(out(5L) == ((null, null)))
  }

  test("capPerGroup: exactly k per big group, small groups intact, " +
    "deterministic and WindowGroupLimit-bounded (x65)") {
    val rows = ((1L to 30L).map(i => (i, "big")) ++
      Seq((100L, "small"), (101L, "small"))).toDF("id", "grp")
    val out = graft.ext.Sampling.capPerGroup(rows, "grp", "id", "s", 5)
    val byGrp = out.collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byGrp("big").size == 5)
    assert(byGrp("small") == Set(100L, 101L)) // under the cap: untouched
    // deterministic: same ids survive on a different partitioning
    val again = graft.ext.Sampling.capPerGroup(
      rows.repartition(7), "grp", "id", "s", 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(again == out.collect().map(r => (r.getString(1), r.getLong(0))).toSet)
    // the rank filter must plan with a PARTIAL WindowGroupLimit: at most
    // k rows per group leave each map task, so no full group ever
    // shuffles or sorts — the shape that keeps a 10^9-row group safe
    val p = { out.collect(); out.queryExecution.executedPlan.toString }
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      "cap must bound groups map-side via WindowGroupLimit:\n" + p)
  }

  test("rebalanceSample: over-represented strata downsample, rare ones keep all, " +
    "absent strata drop") {
    val df = (1L to 900L).map(i => (i, "flood")).toDF("id", "src")
      .unionByName((901L to 910L).map(i => (i, "rare")).toDF("id", "src"))
      .unionByName((911L to 930L).map(i => (i, "junk")).toDF("id", "src"))
    val out = graft.ext.Sampling.rebalanceSample(df, "id", "src", "mx",
      Map("flood" -> 0.1, "rare" -> 0.5)).cache()
    try {
      // rare: target 0.5*930/10 >> 1 -> rate caps at 1, all 10 kept
      assert(out.filter($"src" === "rare").count() == 10)
      assert(out.filter($"src" === "rare").select($"rate").head.getDouble(0) == 1.0)
      // junk is not in the targets -> dropped entirely
      assert(out.filter($"src" === "junk").count() == 0)
      // flood: rate = 0.1*930/900 ≈ 0.103; the exact kept set is the
      // sha256-threshold reference recomputed here
      val rate = 0.1 * 930 / 900
      val thr = f"${math.floor(rate * 281474976710656.0).toLong}%012x"
      val expect = (1L to 900L).filter { i =>
        val d = java.security.MessageDigest.getInstance("SHA-256")
          .digest(s"mx:$i".getBytes("UTF-8"))
        d.map("%02x".format(_)).mkString.substring(0, 12) < thr
      }.toSet
      val got = out.filter($"src" === "flood").select($"id")
        .collect().map(_.getLong(0)).toSet
      assert(got == expect)
      // deterministic under repartitioning
      val again = graft.ext.Sampling.rebalanceSample(df.repartition(7), "id",
        "src", "mx", Map("flood" -> 0.1, "rare" -> 0.5))
      assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
    } finally out.unpersist()
  }

  test("withRates: broadcast-join form is decision-identical to the " +
    "when-chain form above the 64-strata threshold") {
    import graft.ext.Sampling
    val nStrata = 100 // > rateChainMax → join path
    val df = (1L to 3000L).map(i => (i, s"s${i % nStrata}")).toDF("id", "src")
    val rates = (0 until nStrata)
      .map(i => s"s$i" -> math.min(1.0, (i % 7 + 1) / 8.0)).toMap
    val joined = Sampling.withRates(df, "src", rates, "rate")
    // reference: the chain form, built inline exactly as withRates
    // does below the threshold
    val chainRate = rates.foldLeft(lit(null).cast("double")) {
      case (acc, (s, r)) => when($"src" === s, lit(r)).otherwise(acc)
    }
    val chained = df.withColumn("rate", chainRate)
    def rateMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // the rate DOUBLES must be bit-equal — same driver-computed values
    assert(rateMap(joined) == rateMap(chained))
    // and therefore the downstream keep decisions are identical
    def kept(d: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSample(d, "id", "wr-eq", col("rate"))
        .select($"id").collect().map(_.getLong(0)).toSet
    assert(kept(joined) == kept(chained))
    assert(kept(joined).nonEmpty && kept(joined).size < 3000)
    // the big-map form really is a broadcast join, and the small-map
    // form really is not a join at all
    val pJoin = joined.queryExecution.executedPlan.toString
    assert(pJoin.contains("BroadcastHashJoin"), pJoin)
    val pChain = Sampling.withRates(df, "src", rates.take(10), "rate")
      .queryExecution.executedPlan.toString
    assert(!pChain.contains("Join"), pChain)
  }

  test("validateChat: every contract clause fires on its violation and " +
    "only that one") {
    def chat(turns: (String, String)*) =
      "[" + turns.map { case (r, c) => s"""{"role":"$r","content":"$c"}""" }
        .mkString(",") + "]"
    val rows = Seq(
      1L -> chat("system" -> "be helpful", "user" -> "hi", "assistant" -> "hello"),
      2L -> chat("user" -> "hi", "assistant" -> "hello", "user" -> "more", "assistant" -> "sure"),
      3L -> "NOT JSON [",                        // parse fails
      4L -> chat("assistant" -> "hi", "user" -> "x", "assistant" -> "y"), // wrong opener
      5L -> chat("user" -> "hi", "system" -> "late", "assistant" -> "y"), // late system
      6L -> chat("user" -> "a", "user" -> "b", "assistant" -> "c"),       // no alternation
      7L -> chat("user" -> "a", "assistant" -> "b", "user" -> "dangling"), // ends on user
      8L -> chat("user" -> "a", "assistant" -> "  "),                      // blank content
      9L -> chat("user" -> "a", "tool" -> "b", "assistant" -> "c"),        // unknown role
      10L -> "[]")                                                         // empty array
    val out = TextAnalysis.validateChat(rows.toDF("cid", "chat"), "chat", "cid")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(3), r.getBoolean(9))).toMap // (parse_ok, is_valid)
    assert(out(1L) == ((true, true)) && out(2L) == ((true, true)))
    assert(out(3L)._1 == false && out(3L)._2 == false)
    assert(out(10L)._1 == false)
    Seq(4L, 5L, 6L, 7L, 8L, 9L).foreach(id =>
      assert(out(id) == ((true, false)), s"transcript $id: ${out(id)}"))
    // clause isolation: the failing transcript trips ITS clause
    val full = TextAnalysis.validateChat(rows.toDF("cid", "chat"), "chat", "cid")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!full(4L).getBoolean(4) && full(4L).getBoolean(6), "starts_ok")
    assert(!full(6L).getBoolean(5), "alternates_ok")
    assert(!full(7L).getBoolean(6), "ends_ok")
    assert(!full(8L).getBoolean(7), "content_ok")
    assert(!full(9L).getBoolean(8), "roles_ok")
  }

  test("validatePreferencePairs: prefix equality, divergence and " +
    "per-side validity each gate the pair") {
    def chat(turns: (String, String)*) =
      "[" + turns.map { case (r, c) => s"""{"role":"$r","content":"$c"}""" }
        .mkString(",") + "]"
    val good = chat("user" -> "q", "assistant" -> "A")
    val rows = Seq(
      (1L, good, chat("user" -> "q", "assistant" -> "B")),   // valid pair
      (2L, good, good),                                       // no divergence
      (3L, good, chat("user" -> "DIFFERENT", "assistant" -> "B")), // prefix differs
      (4L, chat("assistant" -> "bad-open", "user" -> "q", "assistant" -> "A"),
        chat("assistant" -> "bad-open", "user" -> "q", "assistant" -> "B")), // both invalid chats
      (5L, good, chat("user" -> "q", "assistant" -> "B", "user" -> "extra")) // length differs + bad close
    ).toDF("pid", "chosen", "rejected")
    val out = TextAnalysis.validatePreferencePairs(rows, "chosen", "rejected", "pid")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5))).toMap
    assert(out(1L) == ((true, true, true, true, true)))
    assert(out(2L) == ((true, true, true, false, false)), out(2L).toString)
    assert(out(3L)._3 == false && out(3L)._5 == false)
    assert(out(4L)._1 == false && out(4L)._2 == false && out(4L)._5 == false)
    assert(out(5L)._2 == false && out(5L)._3 == false && out(5L)._5 == false)
  }

  test("truncateChat: longest user-led suffix within budget, system " +
    "turns always kept, over-budget system degrades gracefully") {
    def chat(turns: (String, String)*) =
      "[" + turns.map { case (r, c) => s"""{"role":"$r","content":"$c"}""" }
        .mkString(",") + "]"
    // costs: system 2, then tail user 3 / assistant 2 / user 1 / assistant 1
    val c = chat("system" -> "be very helpful", // 3 tokens
      "user" -> "what is this", "assistant" -> "a test",
      "user" -> "ok", "assistant" -> "yes")
    def run(budget: Int) = TextAnalysis.truncateChat(
        Seq((1L, c)).toDF("cid", "chat"), "chat", "cid", budget)
      .head
    val full = run(10) // 3 + 3+2+1+1 = 10 → everything fits
    assert(full.getLong(2) == 4 && full.getLong(3) == 10 && full.getBoolean(4))
    val cut = run(7) // s=1 needs 10; s=3 (user "ok") needs 3+1+1=5 ≤ 7
    assert(cut.getLong(2) == 2 && cut.getLong(3) == 5 && cut.getBoolean(4))
    assert(cut.getString(1).contains("be very helpful") &&
      cut.getString(1).contains("\"ok\"") &&
      !cut.getString(1).contains("what is this"))
    val none = run(2) // below even the system cost → system only, no fit
    assert(none.getLong(2) == 0 && none.getLong(3) == 3 && !none.getBoolean(4))
    assert(none.getString(1).contains("be very helpful"))
    val bad = TextAnalysis.truncateChat(
        Seq((9L, "NOT JSON")).toDF("cid", "chat"), "chat", "cid", 10).head
    assert(bad.isNullAt(1) && bad.getLong(2) == 0 && !bad.getBoolean(4))
    // all-system transcript: the tail is EMPTY — sequence(1, 0) is the
    // descending [1, 0] trap, so _s must be guarded on a non-empty tail.
    // Contract: degrade to system-only output, n_kept=0, fits=false.
    val allSys = TextAnalysis.truncateChat(
        Seq((10L, chat("system" -> "be very helpful",
                       "system" -> "be terse"))).toDF("cid", "chat"),
        "chat", "cid", 100).head
    assert(allSys.getLong(2) == 0 && allSys.getLong(3) == 5 &&
      !allSys.getBoolean(4), allSys.toString)
    assert(allSys.getString(1).contains("be very helpful") &&
      allSys.getString(1).contains("be terse"))
  }

  test("naive Bayes: hand-computed posteriors, unknown-token drop, " +
    "prior-only tie rule, and high accuracy on the fixture languages") {
    import graft.ext.TextClassify
    // train: label x = "aa aa bb" (N=3), label y = "bb cc" (N=2); V=3;
    // blank/whitespace labels are excluded per the documented contract
    val train = Seq(("x", "aa aa bb"), ("y", "bb cc"),
      ("", "junk"), ("   ", "junk2")).toDF("lab", "txt")
    val model = TextClassify.trainNaiveBayes(train, "txt", "lab", alpha = 1.0)
    val grid = model.grid.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(grid.size == 6) // complete 3x2 grid — no blank-label class
    assert(grid.keys.map(_._2).toSet == Set("x", "y"))
    assert(math.abs(grid(("aa", "x")) - math.log(3.0 / 6)) < 1e-12)
    assert(math.abs(grid(("cc", "x")) - math.log(1.0 / 6)) < 1e-12)
    assert(math.abs(grid(("bb", "y")) - math.log(2.0 / 5)) < 1e-12)
    // classify: "aa bb" → x wins (ln(1/12) > ln(1/25)); "zz" is
    // out-of-vocab → dropped → prior-only tie → greater label y
    val out = TextClassify.classify(model,
        Seq((1L, "aa bb"), (2L, "zz")).toDF("id", "txt"), "txt", "id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == "x")
    assert(math.abs(out(1L)._2 -
      BigDecimal(math.log(0.5) + math.log(0.5) + math.log(1.0 / 3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    assert(out(2L)._1 == "y" && out(2L)._2 ==
      BigDecimal(math.log(0.5)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // separable-corpus sanity (the fixture's `lang` label is RANDOM over
    // a shared vocabulary — no learnable signal by construction, which
    // is why x114 oracles determinism, not accuracy): two disjoint
    // vocabularies + mild shared noise → held-out accuracy near 1.0
    val vocabA = Seq("blau", "haus", "strasse", "wasser", "berg")
    val vocabB = Seq("azul", "casa", "calle", "agua", "monte")
    def doc(vocab: Seq[String], seedRow: Int) =
      (0 until 12).map(j => vocab((seedRow * 7 + j * 3) % vocab.size))
        .mkString(" ") + " the of" // shared noise tokens
    val corpus = (0 until 100).map { i =>
      val lab = if (i % 2 == 0) "A" else "B"
      (i.toLong, lab, doc(if (lab == "A") vocabA else vocabB, i))
    }.toDF("id", "lab", "txt")
    val m2 = TextClassify.trainNaiveBayes(
      corpus.filter(col("id") < 60), "txt", "lab")
    val pred = TextClassify.classify(m2,
        corpus.filter(col("id") >= 60), "txt", "id")
      .join(corpus.select(col("id"), col("lab")), "id")
    val (hit, total) = (pred.filter(col("pred") === col("lab")).count(),
      pred.count())
    assert(total == 40 && hit == total, s"NB separable accuracy $hit/$total")
  }

  test("scoreFor: per-label log-posteriors are argmax-consistent with " +
    "classify; unrounded; unknown label yields an empty frame") {
    import graft.ext.TextClassify
    val docs = Seq((1L, "aa aa bb", "x"), (2L, "cc cc bb", "y"),
      (3L, "aa cc", "x"), (4L, "bb bb", "y")).toDF("id", "txt", "lab")
    val model = TextClassify.trainNaiveBayes(docs, "txt", "lab")
    val cls = TextClassify.classify(model, docs, "txt", "id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    val scores = Seq("x", "y").map(l =>
      l -> TextClassify.scoreFor(model, docs, "txt", "id", l)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap).toMap
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    (1L to 4L).foreach { id =>
      // the argmax over the per-label slices (score, then label — the
      // house tie rule) must be exactly classify's pred...
      val (bestLabel, bestScore) = Seq("x", "y")
        .map(l => (l, scores(l)(id))).maxBy { case (l, s) => (s, l) }
      assert(cls(id)._1 == bestLabel, s"doc $id")
      // ...and classify's score must be EXACTLY the 6-dp rounding of
      // the slice value (not merely close — a pre-rounded scoreFor
      // would also be 'close')
      assert(cls(id)._2 == round6(bestScore), s"doc $id")
    }
    // the unrounded contract itself: at least one slice value must NOT
    // already sit on the 6-dp lattice, or a scoreFor that pre-rounds
    // would pass every assertion above vacuously (log-posteriors are
    // irrational sums — a fixture where all four land on the lattice
    // would be a miracle worth failing loudly over)
    assert((1L to 4L).exists { id =>
      Seq("x", "y").exists(l => scores(l)(id) != round6(scores(l)(id)))
    }, "fixture produced only 6-dp-lattice scores; unrounded contract untested")
    assert(TextClassify.scoreFor(model, docs, "txt", "id", "zz").count() == 0)
    model.unpersist()
  }

  test("globalPositions: a dense 0..n-1 permutation, partitioning-" +
    "independent, null ids excluded, no single-partition window") {
    import graft.ext.Sampling
    val df = ((1L to 500L).map(i => Some(i)) :+ None)
      .toDF("id")
    def posMap(d: org.apache.spark.sql.DataFrame) =
      Sampling.globalPositions(d, "id", "gp-test")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = posMap(df)
    assert(a.size == 500 && a.values.toSeq.sorted == (0L until 500L))
    assert(posMap(df.repartition(13)) == a, "positions depend on partitioning")
    // scale shape: the window partitions by the hash-prefix bucket —
    // nothing in the plan collapses to a single partition
    val plan = Sampling.globalPositions(df, "id", "gp-test")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"single-partition stage in globalPositions:\n$plan")
  }

  test("negativeSample: at most k non-self negatives per anchor, " +
    "deterministic, self-draws drop") {
    import graft.ext.Sampling
    val df = (1L to 200L).toDF("doc")
    val neg = Sampling.negativeSample(df, "doc", "ns-test", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val perAnchor = neg.groupBy(_._1).view.mapValues(_.length)
    assert(perAnchor.size == 200)
    assert(perAnchor.values.forall(_ <= 4))
    // with N=200, self-draws are rare: expect ~4 negatives for nearly all
    assert(neg.length > 200 * 4 - 20, s"too many dropped slots: ${neg.length}")
    assert(neg.forall { case (a, _, n) => a != n }, "self-negative leaked")
    val again = Sampling.negativeSample(df, "doc", "ns-test", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(neg.sorted.toSeq == again.sorted.toSeq, "nondeterministic draws")
    // a different salt draws a different set
    val other = Sampling.negativeSample(df, "doc", "ns-other", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(other.sorted.toSeq != neg.sorted.toSeq)
  }

  test("robustOutliers: flags the far point, MAD=0 group degrades to in-lier") {
    val df = Seq(
      // group g1: median 10, MAD 1 -> 30 has z=20
      ("g1", 1L, 9.0), ("g1", 2L, 10.0), ("g1", 3L, 11.0),
      ("g1", 4L, 10.0), ("g1", 5L, 30.0),
      // group g2: all identical -> MAD 0 -> null z, never outlier
      ("g2", 6L, 5.0), ("g2", 7L, 5.0), ("g2", 8L, 5.0)
    ).toDF("g", "id", "v")
    val out = Quality.robustOutliers(df, "g", "v")
    val flagged = out.filter($"is_outlier").select($"id").collect().map(_.getLong(0))
    assert(flagged.toSeq == Seq(5L))
    val g2 = out.filter($"g" === "g2").select($"robust_z", $"is_outlier").collect()
    g2.foreach(r => assert(r.isNullAt(0) && !r.getBoolean(1)))
  }

  test("robustOutliers: exact median/MAD on an even-count group (0.5 interpolation)") {
    val df = Seq(("g", 1L, 1.0), ("g", 2L, 2.0), ("g", 3L, 4.0), ("g", 4L, 9.0))
      .toDF("g", "id", "v")
    val r = Quality.robustOutliers(df, "g", "v")
      .select($"med", $"mad").head
    // median of (1,2,4,9) = 3.0; |dev| = (2,1,1,6) -> MAD = 1.5
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == 1.5)
  }

  test("learnBpeMerges: adjacent-repeat words merge BOTH occurrences " +
    "(greedy left-to-right fold, the 'papa' case)") {
    // 'papa' under merge (p,a) must become [pa, pa], not [pa, p, a]:
    // a non-overlapping string replace of ' p a ' misses the second
    // occurrence because the two share a separator space. Round 2's
    // winning pair therefore MUST be (pa, pa) — its count (6: papa ×4
    // + papapapa 2×) only exists if round 1 merged every occurrence.
    val words = Seq.fill(4)("papa") ++ Seq.fill(2)("papapapa") ++
      Seq.fill(3)("pap")
    val out = TextAnalysis.learnBpeMerges(words.toDF("text"), "text", 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (p,a) count = papa 2×4 + papapapa 4×2 + pap 1×3 = 19
    assert(out(0) == ((1, "p", "a", 19L)))
    // after merging: papa=[pa,pa], papapapa=[pa,pa,pa,pa], pap=[pa,p]
    // round 2 pairs: (pa,pa) 1×4 + 3×2 = 10 — the adjacent repeats
    assert(out(1) == ((2, "pa", "pa", 10L)))
  }

  test("applyBpeMerges: ordered greedy application — later rules see " +
    "earlier rules' output, counts are exact") {
    // merges as learned from the 'papa' corpus: (p,a) then (pa,pa).
    // 'papa' → [pa,pa] → [papa]: 1 token. 'pap' → [pa,p]: rule 2
    // never fires (no adjacent pa pa). 'ba pap' shows per-word splits.
    val docs = Seq((1L, "papa pap"), (2L, "ba papa papa")).toDF("doc_id", "text")
    val out = TextAnalysis.applyBpeMerges(docs, "text", "doc_id",
        Seq(("p", "a"), ("pa", "pa")))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // doc 1: words papa+pap, 7 chars, tokens [papa] + [pa, p] = 3
    assert(out(1L) == ((2L, 7L, 3L)))
    // doc 2: ba → [b, a] (no rule matches), papa ×2 → [papa] each
    assert(out(2L) == ((3L, 10L, 4L)))
    // order matters: reversing the rules must NOT merge anything for
    // (pa,pa) first (no pa symbols exist yet) — papa ends [pa, pa]
    val rev = TextAnalysis.applyBpeMerges(docs, "text", "doc_id",
        Seq(("pa", "pa"), ("p", "a")))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rev(1L) == 4L) // [pa, pa] + [pa, p]
  }

  test("robustOutliers plan: no window over the fact, dims broadcast back") {
    val df = Seq(("g", 1L, 1.0), ("g", 2L, 2.0)).toDF("g", "id", "v")
    val out = Quality.robustOutliers(df, "g", "v")
    out.collect()
    val p = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Window"), "no whole-table window:\n" + p)
    assert(p.contains("BroadcastHashJoin"), "stats must broadcast back:\n" + p)
    assert(!p.contains("SortMergeJoin"), "no fact-side shuffle join:\n" + p)
  }
}
