package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

import org.apache.spark.sql.functions._

import graft.ingest.ValidateRoute
import graft.schema.Schemas
import graft.warehouse.Star

/** ScalaCheck properties for the invariants the reference enforces only by
  * construction (SURVEY.md §5): routing partition, PK stability under
  * nulls, payload-hash column-order insensitivity, latest-per-key
  * idempotence. Each sample runs a real (tiny) Spark job, so samples are
  * kept low — the generators cover the interesting shapes (nulls,
  * non-soccer, malformed JSON) rather than volume.
  */
object PipelineProperties extends Properties("graft") {
  import TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(5)

  private val ts = java.sql.Timestamp.valueOf("2024-05-01 12:00:00")

  private val genLeagueMsg: Gen[String] = for {
    id <- Gen.option(Gen.choose(1, 99999))
    name <- Gen.option(Gen.alphaStr.map(_.take(8)))
    sport <- Gen.oneOf("Soccer", "soccer", "SOCCER", "Basketball", "Darts", "")
    country <- Gen.option(Gen.oneOf("England", "Spain"))
    malformed <- Gen.frequency(9 -> false, 1 -> true)
  } yield
    if (malformed) "{{{ not json"
    else {
      def q(v: Option[String]) = v.map(s => s""""$s"""").getOrElse("null")
      s"""{"idLeague":${q(id.map(_.toString))},"strLeague":${q(name)},
         |"strSport":"$sport","strCountry":${q(country)},"ingested_at":1714564800.0}"""
        .stripMargin.replaceAll("\n", "")
    }

  property("routing partitions the input exactly (P7/U1)") =
    forAll(Gen.listOfN(12, genLeagueMsg)) { msgs =>
      val raw = msgs.map(("soccer.league", _)).toDF("topic", "value")
        .withColumn("timestamp", lit(ts))
      val routed = ValidateRoute.plan(raw, Schemas.specs)
      routed.validated.count() + routed.rejected.count() == msgs.length
    }

  property("pk is stable under null components (P8)") =
    forAll(Gen.listOfN(6, Gen.option(Gen.alphaNumStr.map(_.take(6))))) { vals =>
      val row = vals.grouped(3).map {
        case Seq(a, b, c) => (a.orNull, b.orNull, c.orNull)
      }.toSeq
      val got = ValidateRoute.addPk(row.toDF("k1", "k2", "k3"), Seq("k1", "k2", "k3"))
        .select("pk").as[String].collect().toSeq
      val want = row.map { case (a, b, c) =>
        Seq(a, b, c).map(v => if (v == null) "" else v).mkString("|")
      }
      got == want
    }

  property("payload hash ignores column order and excluded metadata (P10)") =
    forAll(Gen.alphaNumStr.map(_.take(8)), Gen.alphaNumStr.map(_.take(8)),
      Gen.choose(0.0, 2e9)) { (a, b, ing) =>
      val h1 = ValidateRoute.addPayloadHash(Seq((a, b, ing)).toDF("ca", "cb", "ingested_at"))
        .select("payload_hash").as[String].head()
      val h2 = ValidateRoute.addPayloadHash(Seq((b, a, 0.0)).toDF("cb", "ca", "ingested_at"))
        .select("payload_hash").as[String].head()
      h1 == h2
    }

  property("shingle count is max(1, n_tokens - k + 1) and shingles are k tokens wide") =
    forAll(Gen.listOfN(12, Gen.alphaLowerStr.map(s => if (s.isEmpty) "tok" else s.take(5))),
      Gen.choose(1, 5)) { (toks, k) =>
      val text = toks.mkString(" ")
      val sh = Seq(text).toDF("text")
        .select(graft.ext.TextDedup.shingles(org.apache.spark.sql.functions.col("text"), k))
        .head.getSeq[String](0)
      val n = toks.length
      sh.length == math.max(1, n - k + 1) &&
        (n <= k || sh.forall(_.split(" ").length == k))
    }

  property("exact dedup is idempotent and never keeps two equal normalized texts") =
    forAll(Gen.listOfN(10, Gen.oneOf("a b", "A  b", "c", "d e f", "D E F"))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = graft.ext.TextDedup.dedupExact(df, "text", "doc_id")
      val twice = graft.ext.TextDedup.dedupExact(once, "text", "doc_id")
      val normed = once.select(
        graft.ext.TextDedup.normalize(org.apache.spark.sql.functions.col("text")))
        .collect().map(_.getString(0))
      once.count() == twice.count() && normed.distinct.length == normed.length
    }

  property("cosine is symmetric and bounded on random non-degenerate vectors") =
    forAll(Gen.listOfN(8, Gen.choose(-10.0, 10.0)),
      Gen.listOfN(8, Gen.choose(-10.0, 10.0))) { (a, b) =>
      (a.forall(_ == 0.0) || b.forall(_ == 0.0)) || {
        val df = Seq((a.map(_.toFloat), b.map(_.toFloat))).toDF("a", "b")
        val Array(sAb, sBa) = df.select(
          graft.functions.GraftFunctions.cosineSim(spark,
            org.apache.spark.sql.functions.col("a"),
            org.apache.spark.sql.functions.col("b")).as("ab"),
          graft.functions.GraftFunctions.cosineSim(spark,
            org.apache.spark.sql.functions.col("b"),
            org.apache.spark.sql.functions.col("a")).as("ba"))
          .head.toSeq.map(_.asInstanceOf[Double]).toArray
        sAb == sBa && sAb >= -1.0000001 && sAb <= 1.0000001
      }
    }

  property("scrub is idempotent and leaves no email/url matches behind") =
    forAll(Gen.listOfN(3, Gen.oneOf(
      "plain words only here",
      "write to a.b@c-d.org today",
      "link https://x.example/p?q=1&r=2 inline",
      "both u@v.net and http://w.example/z",
      "email inside url https://h.example/cb?mail=u@v.net tail"))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val once = df.select(col("id"),
        graft.ext.TextAnalysis.scrub(col("text")).as("s"))
      val cleaned = once
        .withColumn("s2", graft.ext.TextAnalysis.scrub(col("s")))
        .withColumn("ne", graft.ext.TextAnalysis.emailCount(col("s")))
        .withColumn("nu", graft.ext.TextAnalysis.urlCount(col("s")))
        .collect()
      cleaned.forall { r =>
        r.getAs[String]("s") == r.getAs[String]("s2") &&
          r.getAs[Int]("ne") == 0 && r.getAs[Int]("nu") == 0
      }
    }

  property("hash split partitions: every row exactly one split, stable across runs") =
    forAll(Gen.listOfN(20, Gen.choose(0L, 1000000L))) { ids =>
      val df = ids.distinct.toDF("id")
      val s1 = graft.ext.Sampling.hashSplit(df, "id", "p", 0.5, 0.25)
      val s2 = graft.ext.Sampling.hashSplit(df, "id", "p", 0.5, 0.25)
      s1.filter(!col("split").isin("train", "valid", "test")).count() == 0 &&
        s1.count() == ids.distinct.length &&
        s1.select("id", "split").exceptAll(s2.select("id", "split")).count() == 0
    }

  property("TopKByDouble heap == sort-and-take reference on random inputs") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(-5.0, 5.0), Gen.choose(0L, 50L))),
      Gen.choose(1, 8)) { (pairs, k) =>
      val heap = new graft.functions.TopKByDouble.Heap(k)
      pairs.foreach { case (d, v) => heap.insert(d, v) }
      val want = pairs.sortBy { case (d, v) => (-d, v) }.take(k)
      heap.sortedDesc.toSeq == want
    }

  // -- ext.Relational: randomized equivalence vs driver-side references.
  // Small key/time spaces force the interesting collisions (same-time
  // ties, same-key pileups, keys on only one side).

  property("asofJoin == reference on random collisioned timelines") =
    forAll(
      Gen.listOfN(10, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0L, 15L))),
      Gen.listOfN(8, Gen.zip(Gen.oneOf("a", "b", "c", "d"), Gen.choose(0L, 15L)))) {
      (ls, rs0) =>
        val left = ls.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
          .toDF("k", "lt", "lid")
        // honor the tie contract: one right row per (k, rt) — keep max payload
        val rs = rs0.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
          .groupBy(x => (x._1, x._2)).map(_._2.maxBy(_._3)).toSeq
        val right = rs.toDF("k", "rt", "rv")
        val got = graft.ext.Relational
          .asofJoin(left, right, Seq("k"), "lt", "rt", Seq("rv"))
          .select(col("lid"), col("asof_rv")).collect()
          .map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
          .toSet
        val byKey = rs.groupBy(_._1)
        val expect = ls.zipWithIndex.map { case ((k, t), i) =>
          val prior = byKey.getOrElse(k, Seq.empty).filter(_._2 <= t)
          (i.toLong, if (prior.isEmpty) None else Some(prior.maxBy(_._2)._3))
        }.toSet
        got == expect
    }

  property("rangeJoin == reference theta join on random intervals") =
    forAll(
      Gen.listOfN(8, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 20L))),
      Gen.listOfN(6, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0L, 20L),
        Gen.choose(0L, 7L)))) { (ps, is) =>
        val points = ps.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
          .toDF("k", "pt", "pid")
        val ivs = is.zipWithIndex.map { case ((k, s, len), i) =>
          (k, s, s + len, i.toLong)
        }
        val intervals = ivs.toDF("k", "s", "e", "iid")
        val got = graft.ext.Relational
          .rangeJoin(points, intervals, Seq("k"), "pt", "s", "e", binSeconds = 5L)
          .select(col("pid"), col("iid")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val expect = (for {
          ((pk, pt), pi) <- ps.zipWithIndex
          (ik, s, e, ii) <- ivs
          if pk == ik && pt >= s && pt < e
        } yield (pi.toLong, ii)).toSet
        got == expect
    }

  property("overlapJoin == reference theta join on random interval sets") =
    forAll(
      Gen.listOfN(6, Gen.zip(Gen.oneOf("a", "b"), Gen.choose(0L, 20L),
        Gen.choose(0L, 9L))),
      Gen.listOfN(6, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(0L, 20L),
        Gen.choose(0L, 9L)))) { (as0, bs0) =>
        val as = as0.zipWithIndex.map { case ((k, s, len), i) =>
          (k, s, s + len, i.toLong) }
        val bs = bs0.zipWithIndex.map { case ((k, s, len), i) =>
          (k, s, s + len, i.toLong) }
        val got = graft.ext.Relational.overlapJoin(
            as.toDF("k", "s1", "e1", "aid"), bs.toDF("k", "s2", "e2", "bid"),
            Seq("k"), "s1", "e1", "s2", "e2", binSeconds = 7L)
          .select(col("aid"), col("bid")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val expect = (for {
          (ak, s1, e1, ai) <- as
          (bk, s2, e2, bi) <- bs
          // empty intervals (len 0) match nothing — mirror the operator's
          // documented drop semantics in the reference
          if e1 > s1 && e2 > s2 && ak == bk && s1 < e2 && s2 < e1
        } yield (ai, bi))
        got.length == got.toSet.size && got.toSet == expect.toSet
    }

  property("sessionize == reference gap-walk on random event streams") =
    forAll(Gen.listOfN(12,
      Gen.zip(Gen.oneOf(1L, 2L, 3L), Gen.choose(0L, 30L)))) { evs =>
        val df = evs.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
          .toDF("k", "t", "eid")
        val gap = 4L
        val got = graft.ext.Relational.sessionize(df, Seq("k"), "t", "eid", gap)
          .select(col("eid"), col("session_id")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val expect = evs.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
          .groupBy(_._1).flatMap { case (_, rows) =>
            val sorted = rows.sortBy(r => (r._2, r._3))
            var sess = 0L
            var prev = Long.MinValue
            sorted.map { case (_, t, id) =>
              if (prev == Long.MinValue || t - prev > gap) sess += 1
              prev = t
              id -> sess
            }
          }
        got == expect
    }

  // independent sha256 reference for the samplers — validates the whole
  // hex-threshold encoding (lexicographic-equals-numeric, sentinel,
  // floor vs round) against java.security, not against Spark itself
  private def sha256hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  property("weightedSample == driver-side sha256 reference") =
    forAll(Gen.listOfN(30, Gen.zip(Gen.choose(0L, 1000000L),
      Gen.oneOf(0.0, 0.1, 0.5, 0.9999, 1.0)))) { rows0 =>
      val rows = rows0.distinctBy(_._1)
      val df = rows.toDF("id", "rate")
      val got = graft.ext.Sampling.weightedSample(df, "id", "ps", col("rate"))
        .select(col("id")).as[Long].collect().toSet
      val expect = rows.filter { case (id, rate) =>
        val key = sha256hex(s"ps:$id").substring(0, 12)
        if (rate >= 1.0) true
        else key < f"${math.max(0L, math.floor(rate * 281474976710656.0).toLong)}%012x"
      }.map(_._1).toSet
      got == expect
    }

  property("stratifiedSample == driver-side sha256 reference (length-prefixed)") =
    forAll(Gen.listOfN(25, Gen.zip(Gen.choose(0L, 1000000L),
      Gen.oneOf("err", "web/cc", "", "view")))) { rows0 =>
      val rows = rows0.distinctBy(_._1)
      val fracs = Map("err" -> 1.0, "web/cc" -> 0.5, "" -> 0.0)
      val default = 0.25
      val df = rows.toDF("id", "s")
      val got = graft.ext.Sampling.stratifiedSample(df, "id", "s", "pz",
        fracs, default).select(col("id")).as[Long].collect().toSet
      def hexThreshold(f: Double): String = {
        val t = math.round(f * 65536.0)
        if (t >= 65536L) "g" else f"$t%04x"
      }
      val expect = rows.filter { case (id, st) =>
        val key = sha256hex(s"pz:${st.length}:$st/$id").substring(0, 4)
        key < hexThreshold(fracs.getOrElse(st, default))
      }.map(_._1).toSet
      got == expect
    }

  property("scd2: versions reconstruct the log; current == latestPerKey") =
    forAll(Gen.listOfN(14, Gen.zip(Gen.choose(1, 3), Gen.choose(1, 40),
      Gen.oneOf("a", "b", null.asInstanceOf[String])))) { rows0 =>
      // unique (key, ts) observation stream with a deterministic tie id
      val rows = rows0.zipWithIndex
        .map { case ((k, t, v), i) => (k.toLong, t.toLong, i.toLong, v) }
        .distinctBy(r => (r._1, r._2))
      rows.nonEmpty ==> {
        val log = rows.toDF("k", "ts", "tie", "v")
        val hist = graft.warehouse.Scd.scd2(log, Seq("k"), "ts", Seq("tie"), Seq("v"))
        // exactly one open (current) version per key, and it matches the
        // latest-per-key build
        val cur = graft.warehouse.Scd.scd2Current(hist).select(col("k"), col("v"))
        val latest = Star.latestPerKey(log, Seq("k"), Seq("ts", "tie"))
          .select(col("k"), col("v"))
        val currentOk = cur.exceptAll(latest).count() == 0 &&
          latest.exceptAll(cur).count() == 0
        // as-of reconstruction at every original observation time
        // returns the value in effect there (null-safe)
        val probes = log.select(col("k"), col("ts"), col("v").as("want"))
        val looked = graft.ext.Relational.asofJoin(probes,
          hist.select(col("k"), col("effective_from"), col("v")),
          Seq("k"), "ts", "effective_from", Seq("v"), "got_")
        val reconstructOk = looked.filter(!(col("got_v") <=> col("want")))
          .count() == 0
        currentOk && reconstructOk
      }
    }

  property("graft_vecsum == posexplode/groupBy/sum on random integer vectors") =
    forAll(Gen.listOfN(10, Gen.zip(Gen.choose(1, 3),
      Gen.listOfN(4, Gen.choose(-127, 127))))) { rows =>
      val df = rows.map { case (g, v) => (g.toLong, v.toArray) }
        .toDF("g", "vec")
      val kernel = df.groupBy(col("g"))
        .agg(graft.functions.GraftFunctions.vecSumLong(spark, col("vec")).as("s"))
        .select(col("g"), posexplode(col("s")).as(Seq("dim", "q")))
      val reference = df
        .select(col("g"), posexplode(col("vec")).as(Seq("dim", "q0")))
        .groupBy(col("g"), col("dim")).agg(sum(col("q0")).as("q"))
        .select(col("g"), col("dim").cast("int"), col("q"))
      kernel.exceptAll(reference).count() == 0 &&
        reference.exceptAll(kernel).count() == 0
    }

  property("latestPerKey is idempotent and keeps the max version (A8/A9)") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.choose(1, 3), Gen.choose(1, 100),
      Gen.alphaStr.map(_.take(5))))) { rows =>
      val df = rows.map { case (k, v, s) => (k.toLong, v.toLong, s) }
        .toDF("k", "version", "payload")
      val once = Star.latestPerKey(df, Seq("k"), Seq("version", "payload"))
      val twice = Star.latestPerKey(once, Seq("k"), Seq("version", "payload"))
      val idempotent = once.exceptAll(twice).count() == 0
      val maxKept = once.join(
        df.groupBy("k").agg(max(col("version")).as("mv")), "k")
        .filter(col("version") =!= col("mv")).count() == 0
      idempotent && maxKept
    }

  property("capPerGroup: <=k per group, subset of input, partition-stable") =
    forAll(Gen.listOf(Gen.zip(Gen.choose(1L, 40L), Gen.choose(0, 3))),
      Gen.choose(1, 4)) { (rows, k) =>
      val df = rows.distinct.map { case (id, g) => (id, s"g$g") }.toDF("id", "grp")
      val out = graft.ext.Sampling.capPerGroup(df, "grp", "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val bySize = out.groupBy(_._2).view.mapValues(_.length)
      val inputBySize = rows.distinct.map { case (id, g) => (id, s"g$g") }
        .groupBy(_._2).view.mapValues(_.length)
      val capped = bySize.forall { case (g, n) => n == math.min(k, inputBySize(g)) }
      val subset = out.toSet.subsetOf(rows.distinct.map {
        case (id, g) => (id, s"g$g") }.toSet)
      val again = graft.ext.Sampling.capPerGroup(df.repartition(5), "grp", "id", "s", k)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      capped && subset && again == out.toSet
    }

  property("removeRepeatedSpans equals the driver-side reference exactly") =
    forAll(Gen.choose(2, 4), Gen.listOfN(6, Gen.listOfN(6,
      Gen.oneOf("aa", "bb", "cc", "dd")))) { (n, docsToks) =>
      val docs = docsToks.zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" ")) }.toDF("doc_id", "text")
      val cleaned = graft.ext.TextDedup
        .removeRepeatedSpans(docs, "text", "doc_id", n = n, minCount = 2)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      // reference: same window/cover/rebuild semantics, computed naively
      def windowsOf(t: Seq[String]): Seq[(Int, String)] =
        if (t.size <= n) Seq(0 -> t.mkString(" "))
        else t.sliding(n).zipWithIndex.map { case (w, s) => s -> w.mkString(" ") }.toSeq
      val counts = docsToks.flatMap(t => windowsOf(t).map(_._2))
        .groupBy(identity).view.mapValues(_.size).toMap
      val expect = docsToks.zipWithIndex.map { case (t, i) =>
        val cov = windowsOf(t).collect {
          case (s, w) if counts(w) >= 2 => s until math.min(s + n, t.size)
        }.flatten.toSet
        i.toLong -> t.zipWithIndex.collect {
          case (tok, p) if !cov.contains(p) => tok }.mkString(" ")
      }.toMap
      cleaned == expect
    }

  property("crossDocRepeatedSpans equals the driver-side reference exactly") =
    forAll(Gen.choose(2, 4), Gen.listOfN(6, Gen.listOfN(6,
      Gen.oneOf("aa", "bb", "cc", "dd")))) { (k, docsToks) =>
      val docs = docsToks.zipWithIndex
        .map { case (t, i) => (i.toLong, t.mkString(" ")) }.toDF("doc_id", "text")
      val got = graft.ext.TextDedup
        .crossDocRepeatedSpans(docs, "text", "doc_id", k = k, minDocs = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
      // reference: same windows, cross-document DISTINCT counts,
      // maximal consecutive runs, computed naively
      def windowsOf(t: Seq[String]): Seq[(Int, String)] =
        if (t.size <= k) Seq(0 -> t.mkString(" "))
        else t.sliding(k).zipWithIndex.map { case (w, s) => s -> w.mkString(" ") }.toSeq
      val eligible = docsToks.zipWithIndex.filter(_._1.size >= k)
      val docOf = eligible
        .flatMap { case (t, i) => windowsOf(t).map { case (_, w) => w -> i } }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val expect = eligible.flatMap { case (t, i) =>
        val hits = windowsOf(t).collect {
          case (s, w) if docOf(w).size >= 2 => s }.sorted
        val runs = hits.foldLeft(List.empty[List[Int]]) { (acc, p) =>
          acc match {
            case h :: rest if h.head == p - 1 => (p :: h) :: rest
            case _ => List(p) :: acc
          }
        }
        runs.map { run =>
          val start = run.last; val n = run.size
          (i.toLong, start.toLong, (n + k - 1).toLong, n.toLong,
            t.slice(start, start + n + k - 1).mkString(" "))
        }
      }.toSet
      got == expect
    }

  property("Misra-Gries bounds hold under ANY split of ANY input: " +
    "est <= true, true - est <= N/(cap+1), heavy hitters survive") =
    forAll(
      Gen.listOfN(60, Gen.choose(0, 8)),
      Gen.choose(2, 5),
      Gen.choose(2, 7)) { (keys, cap, nPart) =>
      keys.nonEmpty ==> {
        val df = keys.map(k => s"k$k").toDF("k").repartition(nPart)
        val summary = df
          .agg(graft.functions.GraftFunctions.heavyHitters(spark, col("k"), cap).as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.key"), col("e.cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val exact = keys.groupBy(k => s"k$k").view.mapValues(_.size.toLong).toMap
        val slack = keys.size.toLong / (cap + 1)
        val bounds = summary.forall { case (k, est) =>
          est <= exact(k) && exact(k) - est <= slack
        }
        val complete = exact.forall { case (k, n) =>
          n <= slack || summary.contains(k)
        }
        bounds && complete && summary.size <= cap
      }
    }

  property("Count-Min never undercounts any key, for any data and width") =
    forAll(
      Gen.listOfN(40, Gen.choose(0, 12)),
      Gen.choose(2, 16)) { (keys, width) =>
      keys.nonEmpty ==> {
        import graft.ext.Sketches
        val df = keys.map(k => s"k$k").toDF("v")
        val sk = Sketches.cmsSketch(df, "v", depth = 2, width = width)
        val est = Sketches.cmsLookup(sk, df, "v", depth = 2, width = width)
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val exact = keys.groupBy(k => s"k$k").view.mapValues(_.size.toLong).toMap
        exact.forall { case (k, n) => est(k) >= n }
      }
    }

  property("PageRank mass is conserved up to dangling leak and " +
    "positive everywhere, on random digraphs") =
    forAll(Gen.listOfN(15, Gen.zip(Gen.choose(0L, 7L), Gen.choose(0L, 7L)))
      .map(_.filter(p => p._1 != p._2).distinct)) { edges =>
      edges.nonEmpty ==> {
        val df = edges.toDF("src", "dst")
        val ranks = graft.ext.Graph.pageRank(df, iterations = 3)
          .collect().map(_.getDouble(1))
        val mass = ranks.sum
        ranks.forall(_ > 0) && mass > 0 && mass <= 1.0 + 1e-9
      }
    }

  property("degree-oriented triangleCount == naive enumeration on " +
    "random graphs") =
    forAll(Gen.listOfN(25, Gen.zip(Gen.choose(0L, 9L), Gen.choose(0L, 9L)))) { raw =>
      val edges = raw.filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
      edges.nonEmpty ==> {
        val got = graft.ext.Graph.triangleCount(edges.toDF("a", "b"))
          .head.getLong(2)
        val es = edges.toSet
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val naive = (for {
          i <- nodes; j <- nodes if i < j && es((i, j))
          k <- nodes if j < k && es((j, k)) && es((i, k))
        } yield 1).size.toLong
        got == naive
      }
    }

  property("learnBpeMerges == driver-side greedy BPE reference") =
    forAll(Gen.listOfN(30,
      Gen.listOfN(5, Gen.oneOf("a", "b", "c")).map(_.mkString))) { words =>
      words.nonEmpty ==> {
        val got = graft.ext.TextAnalysis
          .learnBpeMerges(words.toDF("text"), "text", nMerges = 3)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
          .toSeq.sortBy(_._1)
        // reference: same algorithm, sequentially on the driver
        var seqs = words.groupBy(identity).view
          .mapValues(_.size.toLong).toMap
          .map { case (w, f) => (w.split("").toList, f) }.toList
        val ref = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
        var stop = false
        for (r <- 1 to 3 if !stop) {
          val counts = scala.collection.mutable.Map.empty[(String, String), Long]
          seqs.foreach { case (syms, f) =>
            syms.zip(syms.drop(1)).foreach(p =>
              counts(p) = counts.getOrElse(p, 0L) + f)
          }
          val cands = counts.filter(_._2 >= 2)
          if (cands.isEmpty) stop = true
          else {
            val ((a, b), c) = cands.minBy { case ((l, rr), n) => (-n, l, rr) }
            ref += ((r, a, b, c))
            seqs = seqs.map { case (syms, f) =>
              val out = syms.foldLeft(List.empty[String]) { (acc, x) =>
                if (acc.nonEmpty && acc.last == a && x == b)
                  acc.init :+ (a + b)
                else acc :+ x
              }
              (out, f)
            }
          }
        }
        got == ref.toSeq
      }
    }

  property("applyBpeMerges == driver-side ordered greedy application; " +
    "merges conserve characters and never increase tokens") =
    forAll(Gen.listOfN(20,
      Gen.listOfN(6, Gen.oneOf("a", "b", "c")).map(_.mkString))) { words =>
      words.nonEmpty ==> {
        // learn on the corpus, then apply the learned table back to it
        val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
          .toDF("doc_id", "text")
        val merges = graft.ext.TextAnalysis
          .learnBpeMerges(docs, "text", nMerges = 3)
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        merges.nonEmpty ==> {
          val got = graft.ext.TextAnalysis
            .applyBpeMerges(docs, "text", "doc_id", merges)
            .collect().map(r => r.getLong(0) ->
              (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
          // driver reference: same ordered fold per word
          def tokenize(w: String): List[String] =
            merges.foldLeft(w.split("").toList) { case (syms, (a, b)) =>
              syms.foldLeft(List.empty[String]) { (acc, x) =>
                if (acc.nonEmpty && acc.last == a && x == b)
                  acc.init :+ (a + b)
                else acc :+ x
              }
            }
          words.zipWithIndex.forall { case (w, i) =>
            val toks = tokenize(w)
            val (nw, nc, nt) = got(i.toLong)
            nw == 1L && nc == w.length.toLong &&
              nt == toks.length.toLong &&
              nc == toks.map(_.length).sum.toLong && // chars conserved
              nt <= w.length.toLong                  // merging only shrinks
          }
        }
      }
    }

  property("windowFunnel == the documented greedy reference on random " +
    "timelines") =
    forAll(Gen.listOfN(20, Gen.zip(
      Gen.choose(1L, 3L), Gen.choose(0, 50), Gen.oneOf("a", "b", "c")))) { evs =>
      evs.nonEmpty ==> {
        val windowSec = 600L
        val rows = evs.map { case (u, m, e) =>
          (u, new java.sql.Timestamp(1700000000000L + m * 60000L), e)
        }
        val got = graft.olap.Funnel.windowFunnel(
            rows.toDF("user_id", "ts", "event_type"),
            "user_id", "ts", "event_type", Seq("a", "b", "c"), windowSec)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        // reference: per user, earliest anchor then greedy earliest
        // qualifying next step, all within windowSec of the anchor
        val byUser = rows.groupBy(_._1)
        val expect = byUser.flatMap { case (u, rs) =>
          val t = rs.map(r => (r._2.getTime / 1000, r._3))
          val anchors = t.filter(_._2 == "a").map(_._1)
          if (anchors.isEmpty) None
          else {
            val t1 = anchors.min
            var prev = t1
            var steps = 1L
            var blocked = false
            Seq("b", "c").foreach { st =>
              if (!blocked) {
                val cand = t.filter(e => e._2 == st && e._1 > prev &&
                  e._1 <= t1 + windowSec).map(_._1)
                if (cand.isEmpty) blocked = true
                else { prev = cand.min; steps += 1 }
              }
            }
            Some(u -> ((t1, steps)))
          }
        }
        got == expect
      }
    }

  property("MvAgg.kmvDistinct merge law: merge(delta(A), delta(B)) == " +
    "delta(A ++ B) for any split, and the estimate is exact below k") =
    forAll(Gen.listOfN(40, Gen.choose(0L, 25L)),
           Gen.choose(0, 40)) { (vals, cut) =>
      val agg = graft.stream.MvAgg.kmvDistinct(16)
      val (a, b) = vals.splitAt(cut)
      def state(xs: Seq[Long]) =
        if (xs.isEmpty) Seq.empty[Long]
        else xs.toDF("v").agg(agg.delta(col("v")).as("s"))
          .head.getSeq[Long](0)
      val merged = Seq(state(a), state(b)).toDF("s")
        .agg(agg.merge(col("s")).as("s")).head.getSeq[Long](0)
      val direct = state(vals)
      val est = Seq(Tuple1(merged)).toDF("s")
        .select(agg.finish(col("s"))).head.getDouble(0)
      val exact = vals.distinct.size
      merged == direct && (exact >= 16 || est == exact.toDouble)
    }

  property("paretoAbc rank == the reference global (cents DESC, key) " +
    "order on random SIGNED amounts — the amountBand monotone-banding " +
    "invariant end-to-end") =
    forAll(Gen.choose(1, 50).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-100000L, 100000000L)))) { centsList =>
      // distinct keys; one guaranteed large positive row keeps the
      // grand total positive (the revenue-report contract; shares are
      // meaningless on a non-positive total)
      val rows = (200000000L +: centsList).zipWithIndex
        .map { case (c, i) => (i.toLong, c / 100.0) }
      val got = graft.olap.CustomerValue.paretoAbc(
          rows.toDF("k", "amt"), "k", "amt")
        .select("k", "rank").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = rows
        .map { case (k, a) => k -> math.floor(a * 100 + 0.5).toLong }
        .sortBy { case (k, c) => (-c, k) }
        .zipWithIndex.map { case ((k, _), i) => k -> (i + 1L) }.toMap
      got == expected
    }

  property("paretoAbc tieBand: a conforming monotone-in-key band " +
    "leaves the rank assignment identical on random signed amounts " +
    "WITH injected exact-tie runs — mixed-amount bands must ignore " +
    "it, tie bands must split under it") =
    forAll(Gen.choose(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-100000L, 100000000L))),
      Gen.choose(2, 9)) { (centsList, tieEvery) =>
      // every tieEvery-th key collapses onto one shared amount, so
      // random corpora carry genuine exact-tie bands alongside the
      // spread ones; floor(k / 4) is monotone non-decreasing in k
      val rows = (200000000L +: centsList).zipWithIndex
        .map { case (c, i) =>
          (i.toLong, if (i % tieEvery == 1) 777.77 else c / 100.0) }
      val df = rows.toDF("k", "amt")
      def ranks(tb: Option[org.apache.spark.sql.Column]) =
        graft.olap.CustomerValue.paretoAbc(df, "k", "amt", tieBand = tb)
          .select("k", "rank").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      ranks(Some(floor(col("k") / 4))) == ranks(None)
    }

  property("int8 packed cosine tracks the float cosine within the " +
    "quantization bound on random vectors") =
    forAll(Gen.listOfN(12, Gen.choose(-1000, 1000)),
           Gen.listOfN(12, Gen.choose(-1000, 1000))) { (xs, ys) =>
      import graft.functions.GraftFunctions
      val a = xs.map(_ / 250.0f / 4).toArray
      val b = ys.map(_ / 250.0f / 4).toArray
      val na = a.map(x => x.toDouble * x).sum
      val nb = b.map(x => x.toDouble * x).sum
      (na > 1e-9 && nb > 1e-9) ==> {
        val fcos = a.zip(b).map(p => p._1.toDouble * p._2).sum / math.sqrt(na * nb)
        val got = Seq((a, b)).toDF("a", "b")
          .select(GraftFunctions.int8Cosine(spark,
            GraftFunctions.int8Pack(spark, col("a")),
            GraftFunctions.int8Pack(spark, col("b"))))
          .head
        // ±0.5-code rounding on 127 levels: generous 0.05 band for
        // 12-dim vectors (observed drift is well under 0.02)
        !got.isNullAt(0) && math.abs(got.getDouble(0) - fcos) < 0.05
      }
    }

  property("Snapshots.upsert == (base ANTI srcKeys) UNION src, any key overlap") =
    forAll(
      Gen.listOfN(8, Gen.choose(0, 11)).map(_.distinct),
      Gen.listOfN(6, Gen.choose(0, 11)).map(_.distinct)) { (baseIds, srcIds) =>
      (baseIds.nonEmpty && srcIds.nonEmpty) ==> {
        val dir = java.nio.file.Files
          .createTempDirectory("graft-upsert-prop").toString + "/t"
        val base = baseIds.map(i => (i, s"b$i")).toDF("id", "v")
        val src = srcIds.map(i => (i, s"s$i")).toDF("id", "v")
        graft.warehouse.Snapshots.append(spark, dir, base)
        graft.warehouse.Snapshots.upsert(spark, dir, src, Seq("id"))
        val got = graft.warehouse.Snapshots.read(spark, dir).collect()
          .map(r => r.getInt(0) -> r.getString(1)).toMap
        val expect = baseIds.filterNot(srcIds.contains)
          .map(i => i -> s"b$i").toMap ++ srcIds.map(i => i -> s"s$i").toMap
        got == expect
      }
    }
  // --- sequential-fold family: the Spark fold must equal a plain
  // Scala loop on ANY series (the hand fixtures pin a few points;
  // these pin the recurrence itself) ---

  private val genSeries: Gen[List[Double]] =
    Gen.choose(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.choose(-50, 50).map(_.toDouble)))

  property("ewma fold == reference loop on random series") =
    forAll(genSeries) { xs =>
      val df = xs.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("k", "bin", "n")
      val got = graft.ext.TimeSeries.ewma(df, "k", "bin", "n", alpha = 0.3)
        .orderBy("bin").collect().map(_.getDouble(3)).toSeq
      val expect = xs.tail.scanLeft(xs.head)((s, x) => 0.3 * x + (1.0 - 0.3) * s)
        .map(v => BigDecimal(v).setScale(6,
          scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble)
      got == expect
    }

  property("cusum fold == reference loop on random series") =
    forAll(genSeries) { xs =>
      val df = xs.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("k", "bin", "n").withColumn("tgt", lit(5.0))
      val got = graft.ext.TimeSeries.cusum(df, "k", "bin", "n", "tgt",
          slack = 1.0, threshold = 10.0)
        .orderBy("bin").collect()
        .map(r => (r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toSeq
      def r6(v: Double) = BigDecimal(v).setScale(6,
        scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      val expect = xs.scanLeft((0.0, 0.0)) { case ((sp, sn), x) =>
        (math.max(0.0, sp + (x - 5.0 - 1.0)), math.max(0.0, sn + (5.0 - x - 1.0)))
      }.tail.map { case (sp, sn) => (r6(sp), r6(sn), sp > 10.0 || sn > 10.0) }
      got == expect
    }

  property("holt fold == reference loop on random series") =
    forAll(genSeries) { xs =>
      val df = xs.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
        .toDF("k", "bin", "n")
      val got = graft.ext.TimeSeries.holt(df, "k", "bin", "n",
          alpha = 0.5, beta = 0.3)
        .orderBy("bin").collect()
        .map(r => (r.getDouble(3), r.getDouble(4))).toSeq
      def r6(v: Double) = BigDecimal(v).setScale(6,
        scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      val init = (xs.head, if (xs.size >= 2) xs(1) - xs.head else 0.0)
      val expect = xs.tail.scanLeft(init) { case ((l, t), x) =>
        val lNew = 0.5 * x + (1.0 - 0.5) * (l + t)
        (lNew, 0.3 * (lNew - l) + (1.0 - 0.3) * t)
      }.map { case (l, t) => (r6(l), r6(t)) }
      got == expect
    }

  property("attribution: linear credit mass == touched conversions on " +
    "random event logs") =
    forAll(Gen.choose(1, 4).flatMap(nu => Gen.listOfN(nu * 6,
      Gen.zip(Gen.choose(1L, nu.toLong),
        Gen.oneOf("click", "view", "buy", "noise"))))) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, e), i) =>
        (u, i.toLong, i.toLong, e) }
      val df = rows.toDF("u", "t", "id", "e")
      val out = graft.olap.Funnel.attribution(df, "u", "t", "id", "e",
        Seq("click", "view"), "buy").collect()
      // touched conversions: per user, conversions with >= 1 touch in
      // their segment
      val touched = rows.groupBy(_._1).values.map { userRows =>
        val sorted = userRows.sortBy(_._2)
        var seen = 0; var conv = 0
        sorted.foreach {
          case (_, _, _, "buy") => if (seen > 0) conv += 1; seen = 0
          case (_, _, _, e) if e == "click" || e == "view" => seen += 1
          case _ => ()
        }
        conv
      }.sum
      val mass = out.map(_.getDouble(4)).sum
      math.abs(mass - touched) < 1e-6
    }
}
