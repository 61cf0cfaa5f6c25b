package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.regex.Pattern

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression,
  GenericInternalRow, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.types.{BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-row decisions of the single-pass ingest route
  * ([[graft.ingest.ValidateRoute.planSinglePass]]) as one expression
  * family: `output` selects the row's primary key (`pk`), its verdict
  * (`is_valid`), its canonical payload hash (`payload_hash`) or its
  * re-serialized envelope (`value`), each decided by the row's topic.
  *
  * Children: `topic` (string), `data` (the merged-schema parse struct),
  * `ingested_at` (the repaired stamp, read in place of `data`'s
  * top-level field of that name), and `kafka_ts`, `json_str` (the
  * envelope's two trailing fields). Each topic's decisions are one
  * [[TopicRoute.Table]] of ordinal paths into `data`, resolved once on
  * the driver; at row time the kernel looks up the row's topic and reads
  * those ordinals. A topic outside the tables yields null.
  *
  * Serialization and hashing are Spark's own, so outputs are
  * byte-identical to the Column expressions they replace: `value` and
  * the hash input are `to_json(struct(…))` through `to_json`'s evaluator
  * under the session time zone, the hash is `sha2(…, 256)`'s
  * `DigestUtils.sha256Hex`, and key parts and the sport field are cast
  * to string by `Cast`, as `concat_ws` and `rlike` would cast them.
  *
  * Why a kernel: as Column trees, these decisions were a ~150-column
  * flatten and four |topics|-way CASE chains, 1,700-1,900 optimized-plan
  * expression nodes per route that streaming re-optimized every
  * micro-batch and every task generated code for; here they are a few
  * nodes per output. It evaluates through `CodegenFallback`: the rows it
  * reads carry more nested fields than whole-stage codegen takes anyway.
  */
case class TopicRoute(output: String, children: Seq[Expression],
                      tables: Seq[TopicRoute.Table],
                      timeZoneId: Option[String] = None)
    extends Expression with TimeZoneAwareExpression with CodegenFallback {

  override def dataType: DataType =
    if (output == "is_valid") BooleanType else StringType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_topic_route"
  override protected def stringArgs: Iterator[Any] = Iterator(output) ++ children

  override def checkInputDataTypes(): TypeCheckResult =
    if (!TopicRoute.outputs.contains(output))
      TypeCheckResult.TypeCheckFailure(s"graft_topic_route: unknown output '$output'")
    else if (!children.head.dataType.isInstanceOf[StringType] ||
        !children(1).dataType.isInstanceOf[StructType])
      TypeCheckResult.TypeCheckFailure(
        "graft_topic_route expects (topic string, data struct, ingested_at, kafka_ts, json_str)")
    else TypeCheckResult.TypeCheckSuccess

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopicRoute = copy(children = newChildren)

  @transient private lazy val struct = children(1).dataType.asInstanceOf[StructType]
  @transient private lazy val ingestedOrd = struct.fieldNames.indexOf("ingested_at")

  /** One ordinal path into `data`; a top-level `ingested_at` reads the
    * repaired child instead. */
  private final class Path(ords: Seq[Int]) {
    private val steps = ords.toArray
    private val types: Array[DataType] = {
      var st: DataType = struct
      steps.zipWithIndex.map { case (o, i) =>
        st = if (i == 0 && o == ingestedOrd) children(2).dataType
             else st.asInstanceOf[StructType](o).dataType
        st
      }
    }
    val dataType: DataType = types.last

    def read(data: InternalRow, ingested: Any): Any = {
      var v: Any =
        if (steps(0) == ingestedOrd) ingested
        else if (data == null) null
        else data.get(steps(0), types(0))
      var i = 1
      while (v != null && i < steps.length) {
        v = v.asInstanceOf[InternalRow].get(steps(i), types(i))
        i += 1
      }
      v
    }

    private lazy val cast =
      Cast(BoundReference(0, dataType, nullable = true), StringType, timeZoneId)
    def string(v: Any): UTF8String =
      if (v == null) null
      else if (dataType.isInstanceOf[StringType]) v.asInstanceOf[UTF8String]
      else cast.eval(InternalRow(v)).asInstanceOf[UTF8String]
  }

  /** `to_json(struct(…))` of top-level fields of `data` (named as in
    * `data`), optionally followed by the envelope's trailing fields. */
  private final class Json(ords: Seq[Int], envelope: Boolean) {
    private val fields = ords.map(o => new Path(Seq(o))).toArray
    private val schema = StructType(ords.zip(fields).map { case (o, p) =>
      StructField(struct(o).name, p.dataType) } ++
      (if (!envelope) Nil
       else TopicRoute.trailer.zip(Seq(children(3), children(4)))
         .map { case (n, c) => StructField(n, c.dataType) }))
    private val json = StructsToJsonEvaluator(Map.empty, schema, timeZoneId)
    private val row = new GenericInternalRow(schema.length)

    def apply(data: InternalRow, ingested: Any, input: InternalRow): UTF8String = {
      var i = 0
      while (i < fields.length) {
        row.update(i, fields(i).read(data, ingested))
        i += 1
      }
      if (envelope) {
        row.update(i, children(3).eval(input))
        row.update(i + 1, children(4).eval(input))
      }
      json.evaluate(row).asInstanceOf[UTF8String]
    }
  }

  private final class Topic(t: TopicRoute.Table) {
    val pk: Array[Path] = t.pk.map(new Path(_)).toArray
    val required: Array[Path] = t.required.map(new Path(_)).toArray
    val sport: Option[Path] = t.sport.map(new Path(_))
    val pattern: Pattern = Pattern.compile(t.sportPattern)
    lazy val hash = new Json(t.hash, envelope = false)
    lazy val value = new Json(t.value, envelope = true)
  }

  @transient private lazy val topics: java.util.HashMap[UTF8String, Topic] = {
    val m = new java.util.HashMap[UTF8String, Topic]()
    tables.foreach(t => m.put(UTF8String.fromString(t.topic), new Topic(t)))
    m
  }
  @transient private lazy val kind = TopicRoute.outputs.indexOf(output)

  override def eval(input: InternalRow): Any = {
    val name = children.head.eval(input).asInstanceOf[UTF8String]
    val t = if (name == null) null else topics.get(name)
    if (t == null) return null
    val data = children(1).eval(input).asInstanceOf[InternalRow]
    val ingested = children(2).eval(input)
    kind match {
      case 0 => // pk: concat_ws("|", coalesce(cast(part as string), ""), …)
        UTF8String.concatWs(TopicRoute.pkSeparator, t.pk.map { p =>
          val s = p.string(p.read(data, ingested))
          if (s == null) UTF8String.EMPTY_UTF8 else s
        }.toIndexedSeq: _*)
      case 1 => // every required path non-null, and the sport field matches
        t.required.forall(_.read(data, ingested) != null) && t.sport.forall { p =>
          val s = p.string(p.read(data, ingested))
          s != null && t.pattern.matcher(s.toString).find(0)
        }
      case 2 =>
        UTF8String.fromString(
          DigestUtils.sha256Hex(t.hash(data, ingested, input).getBytes))
      case _ => t.value(data, ingested, input)
    }
  }
}

object TopicRoute {

  /** The outputs, in the order `eval` dispatches on. */
  val outputs: Seq[String] = Seq("pk", "is_valid", "payload_hash", "value")

  private val pkSeparator = UTF8String.fromString("|")

  /** Names of the `value` envelope's trailing fields (children 4 and 5). */
  val trailer: Seq[String] = Seq("kafka_ts", "json_str")

  /** One topic's decisions as ordinal paths into the merged parse struct:
    * `pk` parts, `required` paths, the optional `sport` path with its
    * pattern, and the top-level fields the `hash` (in hash order) and the
    * `value` envelope (in declared order) serialize. */
  final case class Table(topic: String, pk: Seq[Seq[Int]], required: Seq[Seq[Int]],
                         sport: Option[Seq[Int]], sportPattern: String,
                         hash: Seq[Int], value: Seq[Int])

  /** Tables as the binary literal they travel in, the way
    * `graft_bloom_might_contain` takes its sketch: plain data streams,
    * so building a route needs neither Scala reflection nor a generated
    * deserializer. */
  def encode(tables: Seq[Table]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    def ints(xs: Seq[Int]): Unit = { out.writeInt(xs.length); xs.foreach(out.writeInt) }
    def paths(ps: Seq[Seq[Int]]): Unit = { out.writeInt(ps.length); ps.foreach(ints) }
    out.writeInt(tables.length)
    tables.foreach { t =>
      out.writeUTF(t.topic); paths(t.pk); paths(t.required); paths(t.sport.toSeq)
      out.writeUTF(t.sportPattern); ints(t.hash); ints(t.value)
    }
    out.flush()
    bytes.toByteArray
  }

  /** Tables back from [[encode]]'s bytes. */
  def decode(bytes: Array[Byte]): Seq[Table] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    def ints(): Seq[Int] = Seq.fill(in.readInt())(in.readInt())
    def paths(): Seq[Seq[Int]] = Seq.fill(in.readInt())(ints())
    // arguments evaluate left to right, in the order encode wrote them
    Seq.fill(in.readInt())(Table(in.readUTF(), paths(), paths(), paths().headOption,
      in.readUTF(), ints(), ints()))
  }
}
