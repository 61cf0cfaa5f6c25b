package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

import graft.functions.{GraftFunctions, TopicRoute}
import graft.schema.TopicSpec

/** The validate-and-route pipeline — the reference's one Spark job
  * (`spark/jobs/validate_json.py:540-683`) as pure DataFrame→DataFrame
  * functions, so the identical code runs in batch (tests, backfill) and
  * Structured Streaming (production).
  *
  * Input contract: a frame with `topic: string`, `value: string` (JSON
  * payload) and `timestamp` (source metadata time — Kafka's timestamp in
  * the reference). Output: two frames with `(topic, key, value)` — the
  * validated and rejected routes (SURVEY.md §2 P1-P11, U1).
  *
  * Scale design: the whole plan is NARROW — filter / project / union only,
  * no shuffle, no state. One pass over the source feeds 13 validated + 26
  * rejected branches fanned into exactly two sinks; at 100 TB/day this
  * scales linearly with executors because no exchange ever materializes.
  * The optional dedup (A10) is the only stateful piece and shuffles on the
  * state key `(pk, payload_hash)` — bounded by the 48 h watermark.
  */
object ValidateRoute {

  /** Metadata columns excluded from the canonical payload hash
    * (reference `EXCLUDE_FROM_HASH`, VJ:532-536). */
  val excludeFromHash: Set[String] = Set(
    "ingested_at", "evt_ts", "pk", "is_valid",
    "kafka_ts", "json_str", "parse_error", "sport_ok")

  /** Columns stripped before re-serialization (VJ:606). */
  private val metaColsOut = Seq("pk", "evt_ts", "payload_hash", "is_valid")

  /** Epoch floor: `ingested_at` at or before 2020-01-01 is treated as
    * invalid and repaired (VJ:74). */
  val epochFloor: Long = 1577836800L

  /** P1: topic-name extraction from the full topic string. */
  def topicName(df: DataFrame, prefix: String = "soccer"): DataFrame =
    df.withColumn("topic_name",
      regexp_extract(col("topic"), s"^$prefix\\.(.+)$$", 1))

  /** P9: timestamp repair — absurd `ingested_at` falls back to the source
    * metadata timestamp, then to wall-clock; `evt_ts` derived from the
    * repaired value (VJ:73-84). The wall clock is constant per query
    * (batch) or per micro-batch (streaming) and is read through a
    * reference of the generated class ([[graft.functions.ReferencedConstant]]):
    * inlined as a literal, each micro-batch's new time was new generated
    * source, compiled anew every batch. */
  def ensureTimestamps(df: DataFrame): DataFrame = {
    val validSrc = when(col("ingested_at").cast("double") > epochFloor,
      col("ingested_at").cast("double"))
    val now = GraftFunctions.referencedConstant(df.sparkSession,
      unix_timestamp().cast("double"))
    df.withColumn("ingested_at",
        coalesce(validSrc, unix_timestamp(col("kafka_ts")).cast("double"), now))
      .withColumn("evt_ts", to_timestamp(from_unixtime(col("ingested_at"))))
  }

  /** P8: primary-key synthesis — null components coalesce to empty string
    * so the key stays stable (VJ:69-71). */
  def addPk(df: DataFrame, pkCols: Seq[String]): DataFrame =
    df.withColumn("pk",
      concat_ws("|", pkCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*))

  /** Ordinals of a dotted field path, resolved with EXACT-name matching
    * at every nested level instead of by name: name-based nested
    * resolution is case-insensitive and throws
    * AMBIGUOUS_REFERENCE_TO_FIELDS the moment a struct carries fields
    * differing only by letter case (the reference's `strTimeStamp` vs
    * `strTimestamp` shape, one rename away from appearing NESTED under
    * `player.lookup_player`, VJ:442-491). Exact match wins; a unique
    * case-insensitive match is accepted for non-colliding schemas
    * (ordinary resolution behavior); ambiguity without an exact spelling
    * fails loudly. */
  private[graft] def ordinalPath(schema: StructType, path: String): Seq[Int] = {
    def pick(st: StructType, seg: String, what: String): Int = {
      val exact = st.fieldNames.indexOf(seg)
      if (exact >= 0) exact
      else {
        val ci = st.fieldNames.zipWithIndex.filter(_._1.equalsIgnoreCase(seg))
        require(ci.length == 1, s"field path '$path': $what '$seg' is " +
          (if (ci.isEmpty) "unknown"
           else s"ambiguous (${ci.map(_._1).mkString(", ")}) — use the exact spelling"))
        ci.head._2
      }
    }
    val segs = path.split("\\.").toList
    if (segs.isEmpty || segs.head.isEmpty)
      throw new IllegalArgumentException(s"bad field path '$path'")
    var dt: DataType = schema
    segs.zipWithIndex.map { case (seg, i) =>
      dt match {
        case st: StructType =>
          val idx = pick(st, seg, if (i == 0) "top segment" else "segment")
          dt = st.fields(idx).dataType
          idx
        case other => throw new IllegalArgumentException(
          s"field path '$path': segment '$seg' applied to non-struct ${other.simpleString}")
      }
    }
  }

  /** A dotted field path as a Column: the top segment through `base`,
    * nested segments by [[ordinalPath]] ordinal (`graft_struct_at` /
    * GetStructField). */
  private[graft] def nestedCol(spark: org.apache.spark.sql.SparkSession,
                               schema: StructType, base: String => Column,
                               path: String): Column = {
    val ords = ordinalPath(schema, path)
    ords.tail.foldLeft(base(schema.fieldNames(ords.head)))(
      GraftFunctions.structAt(spark, _, _))
  }

  /** P5+P6: required-fields AND-fold plus the sport filter (null sport ⇒
    * invalid; three topics carry no sport field; `player` reads a nested
    * path) (VJ:551-564). */
  def validate(df: DataFrame, spec: TopicSpec): DataFrame = {
    // dotted paths resolve by exact-name ordinal against the topic
    // schema (see nestedCol) so nested case-colliding fields stay
    // addressable; plain top-level references keep ordinary resolution
    def r(path: String): Column =
      if (path.contains("."))
        nestedCol(df.sparkSession, spec.schema, col, path)
      else col(path)
    val reqOk = spec.required.map(c => r(c).isNotNull).reduce(_ && _)
    val sportOk: Column = spec.sportField match {
      case Some(path) =>
        when(r(path).rlike(spec.sportPattern), lit(true)).otherwise(lit(false))
      case None => lit(true)
    }
    df.withColumn("is_valid", reqOk && sportOk)
  }

  /** P10: canonical payload hash — remaining columns sorted by name,
    * serialized to JSON, SHA-256 (VJ:567-576). Field order is explicitly
    * sorted so the hash is stable across plans. */
  def addPayloadHash(df: DataFrame): DataFrame = {
    val cols = df.columns.filterNot(excludeFromHash).sorted
    df.withColumn("payload_hash", sha2(to_json(struct(cols.map(col): _*)), 256))
  }

  /** A10: the 48 h watermarked dedup the reference designed but disabled
    * (VJ:598-604) — re-enabled in this engine. On streaming frames this
    * uses `dropDuplicatesWithinWatermark`: state for a key is evicted one
    * watermark after FIRST sight (the semantics the reference wanted —
    * "drop replays within 48 h"), where plain dropDuplicates would keep
    * state keyed on exact event-time equality. Batch frames (backfill)
    * fall back to plain dropDuplicates — same result, no state. */
  def dedup(df: DataFrame, watermark: String = "48 hours",
            keys: Seq[String] = Seq("pk", "payload_hash")): DataFrame =
    if (df.isStreaming)
      df.withWatermark("evt_ts", watermark)
        .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
    else df.dropDuplicates(keys)

  /** P11: drop metadata, re-serialize to the `(topic, key, value)` envelope. */
  private def envelope(df: DataFrame, destTopic: String, drop: Seq[String]): DataFrame = {
    val colsOut = df.columns.filterNot(drop.contains)
    df.withColumn("topic", lit(destTopic))
      .withColumn("key", col("pk").cast("string"))
      .withColumn("value", to_json(struct(colsOut.map(col): _*)))
      .select("topic", "key", "value")
  }

  /** Routed output pair. */
  final case class Routed(validated: DataFrame, rejected: DataFrame)

  /** The full per-topic plan: demux (P2) → strict parse (P3) → flatten (P4)
    * → timestamp repair (P9) → PK (P8) → validation (P5/P6) → hash (P10) →
    * [optional dedup (A10)] → route (P7) → envelope (P11); parse failures
    * form their own rejected branch keyed by `sha2(json_str)` (VJ:582-641).
    */
  def planTopic(raw: DataFrame, spec: TopicSpec, prefix: String = "soccer",
                enableDedup: Boolean = false): (DataFrame, Seq[DataFrame]) = {
    // Parse verdict from the SAME from_json call that extracts fields
    // (PERMISSIVE + columnNameOfCorruptRecord), not a second parse:
    // from_json in PERMISSIVE mode yields an all-null row (not a null
    // struct) for malformed input, which would silently merge parse
    // failures into the schema-reject route, and a separate
    // try_parse_json verdict would parse every payload TWICE — at
    // ingest scale, JSON parsing IS the pipeline's CPU. The corrupt
    // column fires on malformed and non-object JSON (matching the
    // reference's null-struct verdict, VJ:610-625, including `[]` /
    // `null` payloads which try_parse_json waves through); the one
    // divergence is a valid object with an uncastable field
    // (parse-reject here, schema-reject in the reference) — unreachable
    // for the reference's schemas, whose fields are all strings.
    // Deliberately NO per-field references in the verdict: every
    // `data.getField(x)` reference clones the whole from_json expression
    // in the optimized plan, and a field-wise OR over the 48-field
    // player schema OOMed plan optimization across 13 topic branches.
    val corruptCol = "_graft_corrupt"
    require(!spec.schema.fieldNames.contains(corruptCol),
      s"topic ${spec.name}: schema field $corruptCol collides with the parse-verdict column")
    val parseSchema = spec.schema.add(corruptCol, StringType)
    val base = raw
      .filter(col("topic_name") === spec.name)
      .select(
        from_json(col("value").cast("string"), parseSchema,
          Map("columnNameOfCorruptRecord" -> corruptCol)).as("data"),
        col("timestamp").as("kafka_ts"),
        col("value").cast("string").as("json_str"))
      // NULL payloads (Kafka tombstones) must stay on the parse-reject
      // route: from_json(NULL) is a null struct, so the corrupt field
      // alone would read as "parsed fine". json_str non-null guards it.
      // Empty/blank-string payloads ('' / '   ') ALSO yield a null struct
      // with the corrupt column unpopulated — data non-null guards those
      // (a whole-struct null test, not a per-field reference, so it does
      // not clone the from_json expression; see the OOM note above).
      .withColumn("parse_ok",
        col("json_str").isNotNull && col("data").isNotNull &&
          col(s"data.$corruptCol").isNull)

    val parsedOk = base.filter(col("parse_ok"))
      .select(col("data.*"), col("kafka_ts"), col("json_str"))
      .drop(corruptCol)
    // pk components may be nested paths — resolve dotted ones by exact-
    // name ordinal (nestedCol) so nested case collisions can't ambiguate
    def pkRef(path: String): Column =
      if (path.contains("."))
        nestedCol(raw.sparkSession, spec.schema, col, path)
      else col(path)
    val withPk = ensureTimestamps(parsedOk).withColumn("pk",
      concat_ws("|", spec.pk.map(c =>
        coalesce(pkRef(c).cast("string"), lit(""))): _*))
    val hashed = addPayloadHash(validate(withPk, spec))
    val deduped = if (enableDedup) dedup(hashed) else hashed

    val dropCols = metaColsOut
    val validated = envelope(deduped.filter(col("is_valid")),
      s"validated.$prefix.${spec.name}", dropCols)
    val rejectedSchema = envelope(deduped.filter(!col("is_valid")),
      s"rejected.$prefix.${spec.name}", dropCols)

    val parseBad = base.filter(!col("parse_ok"))
      .select(col("kafka_ts"), col("json_str"))
      // content-addressed key; NULL payloads (tombstones) hash as the
      // empty string so the rejected envelope always has a non-null key
      // (sha2(NULL) would be NULL — unkeyable downstream)
      .withColumn("pk", sha2(coalesce(col("json_str"), lit("")), 256))
      .withColumn("ingested_at", unix_timestamp(col("kafka_ts")).cast("double"))
      .withColumn("evt_ts", to_timestamp(col("kafka_ts")))
      .withColumn("parse_error", lit(true))
    val parseBadRejected = envelope(addPayloadHash(parseBad),
      s"rejected.$prefix.${spec.name}", Seq("pk", "evt_ts", "payload_hash"))

    (validated, Seq(rejectedSchema, parseBadRejected))
  }

  /** U1: N-way unionByName fan-in with empty fallback (VJ:643-653). */
  def unionAll(frames: Seq[DataFrame], spark: org.apache.spark.sql.SparkSession): DataFrame =
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq("topic", "key", "value").map(StructField(_, StringType))))
    }

  /** ST6: the whole topology — one source, |specs|-way split, two fan-in
    * routes. Works unchanged on batch and streaming frames.
    *
    * Read amplification caveat (measured by `graft.StreamSoak`): each
    * union leg is its own scan of the source, so the validated query
    * reads the envelope |specs| times and the rejected query 2·|specs|
    * times per micro-batch — the reference job's own topology
    * (VJ:643-653) and fine at its scale, but 39 passes over a 100 TB/day
    * feed is the wrong shape. [[planSinglePass]] is the scale form:
    * identical outputs (spec-pinned), 1+2 scans instead of 13+26. */
  def plan(raw: DataFrame, specs: Seq[TopicSpec], prefix: String = "soccer",
           enableDedup: Boolean = false): Routed = {
    val named = topicName(raw, prefix)
    val perTopic = specs.map(planTopic(named, _, prefix, enableDedup))
    val spark = raw.sparkSession
    Routed(
      validated = unionAll(perTopic.map(_._1), spark),
      rejected = unionAll(perTopic.flatMap(_._2), spark))
  }

  /** Union of every spec's fields (plus the corrupt-record column),
    * for the single-parse demux. Field types must agree across topics —
    * true for the reference set (all strings + the shared
    * `ingested_at: double` + player's unique nested struct) and
    * enforced loudly here, because a silent winner-takes-all merge
    * would corrupt another topic's parse. */
  private[graft] def mergedSchema(specs: Seq[TopicSpec], corruptCol: String): StructType = {
    val fields = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    specs.foreach(_.schema.fields.foreach { f =>
      fields.get(f.name) match {
        case Some(prev) =>
          require(prev.dataType == f.dataType,
            s"field ${f.name} has conflicting types across topic schemas: " +
              s"${prev.dataType} vs ${f.dataType} — single-pass demux needs agreement")
        case None => fields(f.name) = f
      }
    })
    require(!fields.contains(corruptCol),
      s"schema field $corruptCol collides with the parse-verdict column")
    StructType(fields.values.toSeq :+ StructField(corruptCol, StringType))
  }

  /** The single-pass form of [[plan]]: ONE merged-schema `from_json`,
    * with every per-topic decision — pk synthesis, required fold, sport
    * filter, canonical hash, output serialization — made per row by the
    * [[graft.functions.TopicRoute]] kernel from per-topic ordinal
    * tables built here once. Output is identical to [[plan]]'s
    * (ValidateRouteSpec pins both routes row-for-row, hashes included),
    * but the validated query reads the source ONCE and the rejected
    * query twice (its schema-reject and parse-failure branches split at
    * the parse verdict) instead of 13 and 26 times — at 100 TB/day the
    * difference between 3 and 39 passes over the feed.
    *
    * Why a merged parse is safe here: the reference's topic fields are
    * disjoint-or-identically-typed (everything a string except the
    * shared `ingested_at: double`; [[mergedSchema]] verifies), and each
    * topic's hash/output structs reference only that topic's own
    * declared fields, so a field another topic owns can never leak into
    * this topic's envelope. The one observable divergence from
    * per-topic parsing: a payload carrying ANOTHER topic's field with a
    * type its schema can't cast (e.g. `lookup_player` as a bare string
    * on a non-player topic) parse-rejects here but schema-validates
    * under [[plan]] — unreachable for conforming producers, and the
    * stricter verdict is the safer one.
    *
    * Plan shape: the kernel reads the parsed struct by ordinal, so the
    * fields are never flattened into columns (whose names could collide
    * by letter case, `strTimeStamp` vs `strTimestamp`), and each route
    * is under 200 expression nodes (PlanSpec pins it) where the Column
    * form of the same decisions was ~1,900 — a tree streaming
    * re-optimized every micro-batch. The wall-clock repair
    * ([[ensureTimestamps]]) sits between the parse and the kernels and is
    * nondeterministic, so the optimizer pushes no `is_valid` filter
    * below it: the kernels read the parsed struct and never clone the
    * `from_json` call. The parse-verdict filter, pushed below the
    * projection that defines `data`, still evaluates it a second time. */
  def planSinglePass(raw: DataFrame, specs: Seq[TopicSpec],
                     prefix: String = "soccer",
                     enableDedup: Boolean = false): Routed = {
    require(specs.nonEmpty, "need at least one topic spec")
    val spark = raw.sparkSession
    val corruptCol = "_graft_corrupt"
    val parseSchema = mergedSchema(specs, corruptCol)
    val merged = StructType(parseSchema.fields.dropRight(1)) // minus corrupt
    val ingestedAt = merged.fieldNames.indexOf("ingested_at")
    require(ingestedAt >= 0, "the topic schemas declare no ingested_at field")

    val base = topicName(raw, prefix)
      .filter(col("topic_name").isin(specs.map(_.name): _*))
      .select(
        col("topic_name"),
        from_json(col("value").cast("string"), parseSchema,
          Map("columnNameOfCorruptRecord" -> corruptCol)).as("data"),
        col("timestamp").as("kafka_ts"),
        col("value").cast("string").as("json_str"))
      // same parse verdict as planTopic (see the PERMISSIVE notes there)
      .withColumn("parse_ok",
        col("json_str").isNotNull && col("data").isNotNull &&
          col(s"data.$corruptCol").isNull)

    val tables = specs.map(s => routeTable(merged, s))
    def kernel(output: String): Column = GraftFunctions.topicRoute(spark, output,
      tables, col("topic_name"), col("data"), col("ingested_at"),
      col("kafka_ts"), col("json_str"))
    // shared repair (P9), the same expression as the per-topic path; the
    // kernels read the repaired ingested_at in place of the parsed one
    val timed = ensureTimestamps(base.filter(col("parse_ok")).select(
        col("topic_name"), col("data"), col("kafka_ts"), col("json_str"),
        GraftFunctions.structAt(spark, col("data"), ingestedAt).as("ingested_at")))
      .withColumn("pk", kernel("pk"))
      .withColumn("is_valid", kernel("is_valid"))
      .withColumn("payload_hash", kernel("payload_hash"))
    // topic_name joins the state key: the per-topic path dedups WITHIN
    // each topic, so a (pk, hash) coincidence across topics must not
    // collapse here either
    val deduped =
      if (enableDedup) dedup(timed, keys = Seq("topic_name", "pk", "payload_hash"))
      else timed

    def route(df: DataFrame, dest: String): DataFrame =
      df.select(
        concat(lit(s"$dest.$prefix."), col("topic_name")).as("topic"),
        col("pk").as("key"),
        kernel("value").as("value"))

    val validated = route(deduped.filter(col("is_valid")), "validated")
    val rejectedSchema = route(deduped.filter(!col("is_valid")), "rejected")

    // parse failures: topic-independent envelope, same as planTopic's
    val parseBad = base.filter(!col("parse_ok"))
      .select(col("topic_name"), col("kafka_ts"), col("json_str"))
      .withColumn("pk", sha2(coalesce(col("json_str"), lit("")), 256))
      .withColumn("ingested_at", unix_timestamp(col("kafka_ts")).cast("double"))
      .withColumn("evt_ts", to_timestamp(col("kafka_ts")))
      .withColumn("parse_error", lit(true))
    // (the per-topic path also computes a payload_hash here, but every
    // hashable column is metadata-excluded — it hashes an empty struct
    // and envelope() drops it, so there is nothing to replicate)
    val parseBadRejected = parseBad.select(
      concat(lit(s"rejected.$prefix."), col("topic_name")).as("topic"),
      col("pk").cast("string").as("key"),
      to_json(struct(col("kafka_ts"), col("json_str"), col("ingested_at"),
        col("parse_error"))).as("value"))

    Routed(validated,
      rejectedSchema.unionByName(parseBadRejected, allowMissingColumns = true))
  }

  /** One topic's decisions as [[graft.functions.TopicRoute.Table]]
    * ordinals into the merged parse struct, resolved as [[nestedCol]]
    * resolves paths. Declared top-level fields (hash and envelope) are
    * exact names of the merged struct; the hash takes them sorted by
    * name minus [[excludeFromHash]], the envelope in declared order. */
  private def routeTable(merged: StructType, s: TopicSpec): TopicRoute.Table = {
    def top(c: String): Int = merged.fieldNames.indexOf(c)
    TopicRoute.Table(s.name,
      pk = s.pk.map(ordinalPath(merged, _)),
      required = s.required.map(ordinalPath(merged, _)),
      sport = s.sportField.map(ordinalPath(merged, _)),
      sportPattern = s.sportPattern,
      hash = s.schema.fieldNames.filterNot(excludeFromHash).sorted.map(top).toSeq,
      value = s.schema.fieldNames.map(top).toSeq)
  }
}
