package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GetStructField}
import org.apache.spark.sql.functions.call_function

/** Registration for graft's native Catalyst expressions.
  *
  * Two paths, per the Spark extension model:
  *  - [[GraftExtensions]] for `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (cluster-wide, available in pure SQL);
  *  - [[GraftFunctions.register]] for programmatic per-session setup
  *    (what the library's own operators use lazily).
  */
object GraftFunctions {

  val cosineSimBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other => throw new IllegalArgumentException(
      s"cosine_sim takes 2 arguments, got ${other.size}")
  }

  val simHashBuilder: Seq[Expression] => Expression = {
    case Seq(a) => SimHash64(a)
    case other => throw new IllegalArgumentException(
      s"simhash64 takes 1 argument, got ${other.size}")
  }

  val minHashBuilder: Seq[Expression] => Expression = {
    case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _)) =>
      MinHash64(a, n)
    case _ => throw new IllegalArgumentException(
      "graft_minhash64 takes (array<bigint>, int literal)")
  }

  val repetitionOkBuilder: Seq[Expression] => Expression = {
    case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _),
        mtE, mgE)
        if doubleLiteral(mtE).isDefined && doubleLiteral(mgE).isDefined =>
      RepetitionOk(a, n, doubleLiteral(mtE).get, doubleLiteral(mgE).get)
    case _ => throw new IllegalArgumentException(
      "graft_repetition_ok takes (array<string>, int literal, double literal, double literal)")
  }

  val shinglesBuilder: Seq[Expression] => Expression = {
    case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _)) =>
      Shingles(a, k)
    case _ => throw new IllegalArgumentException(
      "graft_shingles takes (array<string>, int literal)")
  }

  val topKByBuilder: Seq[Expression] => Expression = {
    case Seq(kx, vx, org.apache.spark.sql.catalyst.expressions.Literal(k: Int, _)) =>
      TopKByDouble(kx, vx, k) // analyzer wraps AggregateFunctions itself
    case _ => throw new IllegalArgumentException(
      "graft_topk_by takes (key double, value bigint, k int literal)")
  }

  val heavyHittersBuilder: Seq[Expression] => Expression = {
    case Seq(child, org.apache.spark.sql.catalyst.expressions.Literal(cap: Int, _)) =>
      MisraGries(child, cap) // analyzer wraps AggregateFunctions itself
    case _ => throw new IllegalArgumentException(
      "graft_heavy_hitters takes (value string, capacity int literal)")
  }

  val bloomBuilder: Seq[Expression] => Expression = {
    case Seq(key, org.apache.spark.sql.catalyst.expressions.Literal(
        bytes: Array[Byte], org.apache.spark.sql.types.BinaryType)) =>
      BloomMightContain(key, bytes)
    case _ => throw new IllegalArgumentException(
      "graft_bloom_might_contain takes (key bigint, sketch binary literal)")
  }

  val lshBucketBuilder: Seq[Expression] => Expression = {
    case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(
        p: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, _), _))) =>
      val planes = (0 until p.numElements()).map(i =>
        p.getArray(i).toDoubleArray().toSeq)
      LshBucket64(a, planes)
    case _ => throw new IllegalArgumentException(
      "graft_lsh_bucket takes (array<float|double>, array<array<double>> literal)")
  }

  val quantizeBuilder: Seq[Expression] => Expression = {
    case Seq(a) => QuantizeInt8(a)
    case other => throw new IllegalArgumentException(
      s"graft_quantize_int8 takes 1 argument, got ${other.size}")
  }

  // Plain SQL parses 1024 as an Int literal and 0.01 as a Decimal
  // literal — widen both, so the SQL path doesn't demand 1024L/0.01D
  // typed-literal syntax.
  private def longLiteral(e: Expression): Option[Long] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(i: Int, _) => Some(i.toLong)
    case org.apache.spark.sql.catalyst.expressions.Literal(l: Long, _) => Some(l)
    case _ => None
  }
  private def doubleLiteral(e: Expression): Option[Double] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(d: Double, _) => Some(d)
    case org.apache.spark.sql.catalyst.expressions.Literal(
        d: org.apache.spark.sql.types.Decimal, _) => Some(d.toDouble)
    case _ => None
  }

  val bloomContainsAnyBuilder: Seq[Expression] => Expression = {
    case Seq(bloom, org.apache.spark.sql.catalyst.expressions.Literal(
        ks: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _))) =>
      BloomContainsAny(bloom, scala.collection.immutable.ArraySeq.unsafeWrapArray(ks.toLongArray()))
    case _ => throw new IllegalArgumentException(
      "graft_bloom_contains_any takes (bloom binary, keys array<bigint> literal)")
  }

  val bloomBuildBuilder: Seq[Expression] => Expression = {
    case Seq(key, itemsE, fppE)
        if longLiteral(itemsE).isDefined && doubleLiteral(fppE).isDefined =>
      // analyzer wraps AggregateFunctions
      BloomBuildLong(key, longLiteral(itemsE).get, doubleLiteral(fppE).get)
    case _ => throw new IllegalArgumentException(
      "graft_bloom_build takes (key bigint, items int/bigint literal, fpp double/decimal literal)")
  }

  val vecSumBuilder: Seq[Expression] => Expression = {
    case Seq(a) => VectorSumLong(a) // analyzer wraps AggregateFunctions
    case other => throw new IllegalArgumentException(
      s"graft_vecsum takes 1 argument, got ${other.size}")
  }

  /** One builder for both quantile-read conventions — the rank read
    * (`graft_kll_quantiles`) and the percentile-interpolating read
    * (`graft_kll_quantiles_cont`) differ only in the eval flag. */
  private def mkKllQuantilesBuilder(name: String, interp: Boolean)
      : Seq[Expression] => Expression = {
    case Seq(child, kE, org.apache.spark.sql.catalyst.expressions.Literal(
        qs: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _)))
        if longLiteral(kE).isDefined =>
      KllQuantiles(child, longLiteral(kE).get.toInt,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(qs.toDoubleArray()),
        interpolate = interp)
    case _ => throw new IllegalArgumentException(
      s"$name takes (value double, k int literal, quantiles array<double> literal)")
  }

  val kllQuantilesBuilder: Seq[Expression] => Expression =
    mkKllQuantilesBuilder("graft_kll_quantiles", interp = false)

  val kllQuantilesContBuilder: Seq[Expression] => Expression =
    mkKllQuantilesBuilder("graft_kll_quantiles_cont", interp = true)

  val kllSketchBuilder: Seq[Expression] => Expression = {
    case Seq(child, kE) if longLiteral(kE).isDefined =>
      KllSketch(child, longLiteral(kE).get.toInt)
    case _ => throw new IllegalArgumentException(
      "graft_kll_sketch takes (value double, k int literal)")
  }

  val int8PackBuilder: Seq[Expression] => Expression = {
    case Seq(v) => QuantizeInt8Pack(v)
    case other => throw new IllegalArgumentException(
      s"graft_int8_pack takes 1 argument, got ${other.size}")
  }

  val int8CosineBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => Int8CosineSim(a, b)
    case other => throw new IllegalArgumentException(
      s"graft_int8_cosine takes 2 arguments, got ${other.size}")
  }

  val kllMergeBuilder: Seq[Expression] => Expression = {
    case Seq(child, kE) if longLiteral(kE).isDefined =>
      KllMerge(child, longLiteral(kE).get.toInt)
    case _ => throw new IllegalArgumentException(
      "graft_kll_merge takes (sketch binary, k int literal)")
  }

  /** One builder for both serialized-sketch read conventions (the
    * scalar complement of [[mkKllQuantilesBuilder]]). */
  private def mkKllValuesBuilder(name: String, interp: Boolean)
      : Seq[Expression] => Expression = {
    case Seq(child, kE, org.apache.spark.sql.catalyst.expressions.Literal(
        qs: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _)))
        if longLiteral(kE).isDefined =>
      KllValues(child, longLiteral(kE).get.toInt,
        scala.collection.immutable.ArraySeq.unsafeWrapArray(qs.toDoubleArray()),
        interpolate = interp)
    case _ => throw new IllegalArgumentException(
      s"$name takes (sketch binary, k int literal, quantiles array<double> literal)")
  }

  val kllValuesBuilder: Seq[Expression] => Expression =
    mkKllValuesBuilder("graft_kll_values", interp = false)

  val kllValuesContBuilder: Seq[Expression] => Expression =
    mkKllValuesBuilder("graft_kll_values_cont", interp = true)

  val bpeApplyBuilder: Seq[Expression] => Expression = {
    case Seq(a, org.apache.spark.sql.catalyst.expressions.Literal(
        ms: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, _), _))) =>
      val rules = (0 until ms.numElements()).map { i =>
        val p = ms.getArray(i)
        require(p.numElements() == 2,
          s"graft_bpe_apply rule $i must be [left, right]")
        (p.getUTF8String(0).toString, p.getUTF8String(1).toString)
      }
      BpeApply(a, rules)
    case _ => throw new IllegalArgumentException(
      "graft_bpe_apply takes (array<string>, array<array<string>> literal)")
  }

  val posSumBuilder: Seq[Expression] => Expression = {
    case Seq(a) => PosOrderedSum(a)
    case other => throw new IllegalArgumentException(
      s"graft_pos_sum takes 1 argument, got ${other.size}")
  }

  val structAtBuilder: Seq[Expression] => Expression = {
    case Seq(child, org.apache.spark.sql.catalyst.expressions.Literal(i: Int, _)) =>
      GetStructField(child, i)
    case _ => throw new IllegalArgumentException(
      "graft_struct_at takes (struct, ordinal int literal)")
  }

  val topicRouteBuilder: Seq[Expression] => Expression = {
    case Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        out: org.apache.spark.unsafe.types.UTF8String,
        _: org.apache.spark.sql.types.StringType),
        topic, data, ingestedAt, kafkaTs, jsonStr,
        org.apache.spark.sql.catalyst.expressions.Literal(
          tables: Array[Byte], org.apache.spark.sql.types.BinaryType)) =>
      TopicRoute(out.toString, Seq(topic, data, ingestedAt, kafkaTs, jsonStr),
        TopicRoute.decode(tables))
    case _ => throw new IllegalArgumentException(
      "graft_topic_route takes (output string literal, topic, data struct, " +
        "ingested_at, kafka_ts, json_str, tables binary literal)")
  }

  val referencedConstantBuilder: Seq[Expression] => Expression = {
    case Seq(c) => ReferencedConstant(c)
    case other => throw new IllegalArgumentException(
      s"graft_referenced_constant takes 1 argument, got ${other.size}")
  }

  /** Every graft function, as (SQL name, builder, expression class
    * name): the one list both [[register]] and [[GraftExtensions]]
    * install from. */
  val table: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("graft_bloom_might_contain", bloomBuilder, classOf[BloomMightContain].getName),
    ("graft_bloom_build", bloomBuildBuilder, classOf[BloomBuildLong].getName),
    ("graft_vecsum", vecSumBuilder, classOf[VectorSumLong].getName),
    ("graft_quantize_int8", quantizeBuilder, classOf[QuantizeInt8].getName),
    ("graft_lsh_bucket", lshBucketBuilder, classOf[LshBucket64].getName),
    ("graft_cosine_sim", cosineSimBuilder, classOf[CosineSimilarity].getName),
    ("graft_simhash64", simHashBuilder, classOf[SimHash64].getName),
    ("graft_minhash64", minHashBuilder, classOf[MinHash64].getName),
    ("graft_topk_by", topKByBuilder, classOf[TopKByDouble].getName),
    ("graft_heavy_hitters", heavyHittersBuilder, classOf[MisraGries].getName),
    ("graft_shingles", shinglesBuilder, classOf[Shingles].getName),
    ("graft_repetition_ok", repetitionOkBuilder, classOf[RepetitionOk].getName),
    ("graft_bloom_contains_any", bloomContainsAnyBuilder, classOf[BloomContainsAny].getName),
    ("graft_struct_at", structAtBuilder, classOf[GetStructField].getName),
    ("graft_kll_quantiles", kllQuantilesBuilder, classOf[KllQuantiles].getName),
    ("graft_kll_quantiles_cont", kllQuantilesContBuilder, classOf[KllQuantiles].getName),
    ("graft_kll_sketch", kllSketchBuilder, classOf[KllSketch].getName),
    ("graft_int8_pack", int8PackBuilder, classOf[QuantizeInt8Pack].getName),
    ("graft_int8_cosine", int8CosineBuilder, classOf[Int8CosineSim].getName),
    ("graft_kll_merge", kllMergeBuilder, classOf[KllMerge].getName),
    ("graft_kll_values", kllValuesBuilder, classOf[KllValues].getName),
    ("graft_kll_values_cont", kllValuesContBuilder, classOf[KllValues].getName),
    ("graft_pos_sum", posSumBuilder, classOf[PosOrderedSum].getName),
    ("graft_bpe_apply", bpeApplyBuilder, classOf[BpeApply].getName),
    ("graft_topic_route", topicRouteBuilder, classOf[TopicRoute].getName),
    ("graft_referenced_constant", referencedConstantBuilder,
      classOf[ReferencedConstant].getName))

  /** Register graft functions in an existing session (idempotent). */
  def register(spark: SparkSession): Unit =
    table.foreach { case (name, builder, _) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }

  /** Column API for the mergeable KLL quantile aggregate; registers
    * lazily. Exact while n ≤ k (no compaction); O(n/k) rank error
    * beyond. */
  def kllQuantiles(spark: SparkSession, value: Column, k: Int,
                   qs: Seq[Double]): Column = {
    register(spark)
    call_function("graft_kll_quantiles", value,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.typedlit(qs))
  }

  /** Column API for the KLL quantile aggregate read with
    * `percentile`'s CONTINUOUS (interpolating) convention; registers
    * lazily. Bit-identical to exact `percentile` while n ≤ k — the
    * bounded-state cutpoint source (rfm). */
  def kllQuantilesCont(spark: SparkSession, value: Column, k: Int,
                       qs: Seq[Double]): Column = {
    register(spark)
    call_function("graft_kll_quantiles_cont", value,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.typedlit(qs))
  }

  /** Column API for the binary-sketch KLL aggregate (the persistable
    * form); registers lazily. */
  def kllSketch(spark: SparkSession, value: Column, k: Int): Column = {
    register(spark)
    call_function("graft_kll_sketch", value,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Column API for int8 code packing (array<float|double> → binary,
    * one byte per dimension); registers lazily. */
  def int8Pack(spark: SparkSession, vec: Column): Column = {
    register(spark)
    call_function("graft_int8_pack", vec)
  }

  /** Column API for cosine over packed int8 codes; registers lazily. */
  def int8Cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_int8_cosine", a, b)
  }

  /** Column API for the distributed serialized-sketch fold (aggregate:
    * binary sketches in, one merged binary sketch out); registers
    * lazily. */
  def kllMerge(spark: SparkSession, sketch: Column, k: Int): Column = {
    register(spark)
    call_function("graft_kll_merge", sketch,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Column API for read-time quantile resolution from a serialized
    * sketch (scalar); registers lazily. */
  def kllValues(spark: SparkSession, sketch: Column, k: Int,
                qs: Seq[Double]): Column = {
    register(spark)
    call_function("graft_kll_values", sketch,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.typedlit(qs))
  }

  /** [[kllValues]] with `percentile`'s continuous interpolation — a
    * persisted sketch (MV state, snapshot manifest) serves
    * percentile-convention quantiles, bit-identical to exact
    * `percentile` in the sketch's exact regime. */
  def kllValuesCont(spark: SparkSession, sketch: Column, k: Int,
                    qs: Seq[Double]): Column = {
    register(spark)
    call_function("graft_kll_values_cont", sketch,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.typedlit(qs))
  }

  /** Positional struct-field access (`GetStructField` by ordinal) —
    * the escape hatch for schemas where two fields differ only by
    * letter case (the reference's `strTimeStamp` vs `strTimestamp`):
    * name-based `getField`/dot-path resolution is case-insensitive by
    * default and throws AMBIGUOUS_REFERENCE_TO_FIELDS on such pairs,
    * while the ordinal is always exact. Registers lazily. */
  def structAt(spark: SparkSession, struct: Column, ordinal: Int): Column = {
    register(spark)
    call_function("graft_struct_at", struct,
      org.apache.spark.sql.functions.lit(ordinal))
  }

  /** Column API for the single-pass route kernel: `output` (one of
    * [[TopicRoute.outputs]]) of each row's topic, decided by `tables`;
    * registers lazily. */
  def topicRoute(spark: SparkSession, output: String, tables: Seq[TopicRoute.Table],
                 topic: Column, data: Column, ingestedAt: Column,
                 kafkaTs: Column, jsonStr: Column): Column = {
    register(spark)
    call_function("graft_topic_route", org.apache.spark.sql.functions.lit(output),
      topic, data, ingestedAt, kafkaTs, jsonStr,
      org.apache.spark.sql.functions.lit(TopicRoute.encode(tables)))
  }

  /** Column API for a constant that generated code reads through a
    * reference rather than an inlined literal; registers lazily. */
  def referencedConstant(spark: SparkSession, constant: Column): Column = {
    register(spark)
    call_function("graft_referenced_constant", constant)
  }

  /** Column API for the reducing top-k aggregate; registers lazily. */
  def topKBy(spark: SparkSession, key: Column, value: Column, k: Int): Column = {
    register(spark)
    call_function("graft_topk_by", key, value,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Column API for the bounded-memory Misra–Gries heavy-hitters
    * aggregate; registers lazily. Exact when capacity ≥ |distinct|. */
  def heavyHitters(spark: SparkSession, value: Column, capacity: Int): Column = {
    register(spark)
    call_function("graft_heavy_hitters", value,
      org.apache.spark.sql.functions.lit(capacity))
  }

  /** Column API for the native cosine kernel; registers lazily. */
  def cosineSim(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_cosine_sim", a, b)
  }

  /** Column API for the position-ordered double sum kernel (input:
    * array<struct<pos:int,lp:double>>); registers lazily. */
  def posOrderedSum(spark: SparkSession, a: Column): Column = {
    register(spark)
    call_function("graft_pos_sum", a)
  }

  /** Column API for the ordered BPE merge-application kernel; registers
    * lazily. `merges` apply in sequence order, each as one greedy
    * left-to-right non-overlapping pass. */
  def bpeApply(spark: SparkSession, syms: Column,
               merges: Seq[(String, String)]): Column = {
    register(spark)
    call_function("graft_bpe_apply", syms,
      org.apache.spark.sql.functions.typedLit(
        merges.map(m => Array(m._1, m._2)).toArray))
  }

  /** Column API for the native SimHash kernel; registers lazily. */
  def simHash64(spark: SparkSession, tokens: Column): Column = {
    register(spark)
    call_function("graft_simhash64", tokens)
  }

  /** Column API for the fused repetition verdict; registers lazily. */
  def repetitionOk(spark: SparkSession, tokens: Column, n: Int,
                   maxDupTokenFrac: Double, maxDupNgramFrac: Double): Column = {
    register(spark)
    call_function("graft_repetition_ok", tokens,
      org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(maxDupTokenFrac),
      org.apache.spark.sql.functions.lit(maxDupNgramFrac))
  }

  /** Column API for the native shingling kernel; registers lazily. */
  def shingles(spark: SparkSession, tokens: Column, k: Int): Column = {
    register(spark)
    call_function("graft_shingles", tokens,
      org.apache.spark.sql.functions.lit(k))
  }

  /** Column API for the native MinHash kernel; registers lazily. */
  def minHash64(spark: SparkSession, shingleHashes: Column, numHashes: Int): Column = {
    register(spark)
    call_function("graft_minhash64", shingleHashes,
      org.apache.spark.sql.functions.lit(numHashes))
  }

  /** Column API for the fused sign-LSH bucketer; registers lazily. */
  def lshBucket64(spark: SparkSession, emb: Column,
                  planes: Seq[Seq[Double]]): Column = {
    register(spark)
    call_function("graft_lsh_bucket", emb,
      org.apache.spark.sql.functions.typedLit(
        planes.map(_.toArray).toArray))
  }

  /** Column API for the fused int8 quantizer; registers lazily. */
  def quantizeInt8(spark: SparkSession, vec: Column): Column = {
    register(spark)
    call_function("graft_quantize_int8", vec)
  }

  /** Column API for the per-group bloom-build aggregate; registers
    * lazily. Key contract matches [[bloomMightContain]] (BIGINT keys,
    * canonicalize build and probe identically). */
  def bloomBuild(spark: SparkSession, key: Column, expectedItems: Long,
                 fpp: Double): Column = {
    register(spark)
    call_function("graft_bloom_build", key,
      org.apache.spark.sql.functions.lit(expectedItems),
      org.apache.spark.sql.functions.lit(fpp))
  }

  /** Column API for the elementwise vector-sum aggregate; registers
    * lazily. */
  def vecSumLong(spark: SparkSession, vec: Column): Column = {
    register(spark)
    call_function("graft_vecsum", vec)
  }

  /** Column API for the bloom-sketch membership probe; registers lazily.
    * `filterBytes` is a serialized [[org.apache.spark.util.sketch.BloomFilter]]
    * (see [[graft.warehouse.BloomJoin.buildFilter]]). */
  def bloomMightContain(spark: SparkSession, key: Column,
                        filterBytes: Array[Byte]): Column = {
    register(spark)
    call_function("graft_bloom_might_contain", key,
      org.apache.spark.sql.functions.lit(filterBytes))
  }

  /** Column API for the per-row bloom probe against a constant key set
    * (the manifest-prune dual of [[bloomMightContain]]); registers
    * lazily. `bloom` is a BINARY column of serialized filters. */
  def bloomContainsAny(spark: SparkSession, bloom: Column,
                       keys: Seq[Long]): Column = {
    register(spark)
    call_function("graft_bloom_contains_any", bloom,
      org.apache.spark.sql.functions.typedLit(keys.toArray))
  }
}

/** `spark.sql.extensions` entry point: injects graft's functions into
  * every session built on the cluster (SURVEY §2.9 extension path). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach { case (name, builder, className) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
}
