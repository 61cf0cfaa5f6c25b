package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.types.{DoubleType, StructType}

import graft.schema.{Schemas, TopicSpec}

/** The seeded 13-topic message corpus of the `ingest` workload, written
  * as JSON-lines envelope files `{topic, value, timestamp}` (the
  * Kafka-envelope columns `ValidateRoute` reads), plus `<dir>-expected.tsv`
  * beside the directory (not in it: the stream reads every file there):
  * one line per message, in file and line order, with the topic, the
  * kind the generator made and, for payloads that parse, the primary
  * key the route must emit.
  *
  * Field lists, keys, required fields and sport paths come from the
  * program's declared topic contract (`Schemas.specs`); what each
  * message is meant to be is decided here, from the seed alone. */
object Corpus {
  val Valid = "valid"      // every required field, sport "Soccer"
  val Sport = "sport"      // wrong sport ("Basketball")
  val Missing = "missing"  // one required non-key field left out
  val Corrupt = "corrupt"  // truncated JSON text
  val Blank = "blank"      // empty payload
  val Unknown = "unknown"  // topic outside the contract: dropped by both routes

  /** Kind shares; `sport` falls back to `valid` on the three topics
    * that carry no sport field. */
  val kindShares: Seq[(String, Double)] = Seq(
    Valid -> 0.74, Sport -> 0.08, Missing -> 0.08, Corrupt -> 0.04,
    Blank -> 0.02, Unknown -> 0.04)

  /** Topic mix: live traffic topics dominate, reference data is rare. */
  val topicWeights: Map[String, Double] = Map(
    "live_score" -> 18, "event.timeline" -> 14, "event.stats" -> 14,
    "event" -> 10, "schedule" -> 8, "event.lineup" -> 8, "broadcast" -> 6,
    "live.event.lookup" -> 6, "event.highlights" -> 5, "player" -> 5,
    "team" -> 3, "league" -> 1.5, "venue" -> 1.5)

  /** Primary-key values repeat across messages (updates of one entity):
    * ids are drawn from a pool this many times smaller than the corpus. */
  val keyReuse = 4

  val envelope: StructType = StructType.fromDDL(
    "topic STRING, value STRING, timestamp TIMESTAMP")

  private def pick[T](r: java.util.Random, xs: Seq[(T, Double)]): T = {
    var u = r.nextDouble() * xs.map(_._2).sum
    xs.find { case (_, w) => u -= w; u < 0 }.getOrElse(xs.last)._1
  }

  /** Write `files` files of `rows` messages each under `dir`, and the
    * expectations to `expectedPath(dir)`. */
  def write(dir: Path, seed: Long, files: Int, rows: Int): Unit = {
    Files.createDirectories(dir)
    val r = new java.util.Random(seed * 1000003L + 17)
    val specs = Schemas.specs
    val weighted = specs.map(s => s -> topicWeights(s.name))
    val pool = math.max(1, files * rows / keyReuse)
    val expected = new StringBuilder
    val t0 = 1717200000000L // 2024-06-01T00:00:00Z
    for (f <- 0 until files) {
      val lines = new StringBuilder
      for (i <- 0 until rows) {
        val spec = pick(r, weighted)
        var kind = pick(r, kindShares)
        if (kind == Sport && spec.sportField.isEmpty) kind = Valid
        val kafkaMs = t0 + (f.toLong * rows + i) * 250L
        val (topic, value, key) = kind match {
          case Unknown =>
            val t = if (r.nextBoolean()) "soccer.odds" else s"basketball.${spec.name}"
            (t, payload(r, spec, pool, Valid)._1, "")
          case Blank => (s"soccer.${spec.name}", "", "")
          case Corrupt =>
            val full = payload(r, spec, pool, Valid)._1
            (s"soccer.${spec.name}", full.take(1 + r.nextInt(full.length / 2)), "")
          case k =>
            val (p, key) = payload(r, spec, pool, k)
            (s"soccer.${spec.name}", p, key)
        }
        lines.append("{\"topic\":").append(Json.str(topic))
          .append(",\"value\":").append(Json.str(value))
          .append(",\"timestamp\":").append(Json.str(
            java.time.Instant.ofEpochMilli(kafkaMs).toString))
          .append("}\n")
        expected.append(topic).append('\t').append(kind).append('\t')
          .append(key).append('\n')
      }
      Files.write(dir.resolve(f"part-$f%05d.json"), lines.toString.getBytes(UTF_8))
    }
    Files.write(expectedPath(dir), expected.toString.getBytes(UTF_8))
  }

  def expectedPath(dir: Path): Path = dir.resolveSibling(s"${dir.getFileName}-expected.tsv")

  /** One payload of `spec` and its primary key (`|`-joined key values,
    * the route's key format). */
  private def payload(r: java.util.Random, spec: TopicSpec, pool: Int,
                      kind: String): (String, String) = {
    val required = spec.required.toSet
    val droppable = spec.required.filterNot(c =>
      spec.pk.contains(c) || c == "ingested_at")
    // `event` requires only its key: "missing" then drops the sport field
    val drop: Option[String] =
      if (kind != Missing) None
      else if (droppable.nonEmpty) Some(droppable(r.nextInt(droppable.size)))
      else spec.sportField
    val sportTop = spec.sportField.map(_.takeWhile(_ != '.'))
    val values = scala.collection.mutable.LinkedHashMap.empty[String, String]
    spec.schema.fields.foreach { f =>
      val name = f.name
      val keep = !drop.contains(name) &&
        (required(name) || spec.pk.contains(name) || sportTop.contains(name) ||
          r.nextDouble() >= 0.1)
      if (keep) {
        val json: String =
          if (f.dataType == DoubleType) {
            // 2% stale producer stamps (before the 2020 floor): repaired, still routed
            val ts = if (r.nextDouble() < 0.02) 1.5e9 + r.nextInt(1000)
              else 1.7172e9 + r.nextInt(86400) + r.nextInt(1000) / 1000.0
            java.math.BigDecimal.valueOf(ts).toPlainString
          } else f.dataType match {
            case st: StructType => // player.lookup_player
              st.fields.map { g =>
                val v =
                  if (g.name == "strSport") sport(kind)
                  else fieldValue(r, g.name, pool)
                Json.str(g.name) + ":" + Json.str(v)
              }.mkString("{", ",", "}")
            case _ =>
              if (sportTop.contains(name) && !spec.sportField.get.contains('.'))
                Json.str(sport(kind))
              else Json.str(fieldValue(r, name, pool))
          }
        values(name) = json
      }
    }
    val body = values.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}")
    val key = spec.pk.map(c => values.get(c).map(unquote).getOrElse("")).mkString("|")
    (body, key)
  }

  private def unquote(json: String): String = json.stripPrefix("\"").stripSuffix("\"")

  private def sport(kind: String): String =
    if (kind == Sport) "Basketball" else "Soccer"

  private val words = Array("Arsenal", "Benfica", "Celtic", "Dortmund", "Everton",
    "Feyenoord", "Galatasaray", "Hajduk", "Inter", "Juventus", "Kaizer", "Lazio")

  /** Plain ASCII values so the payload text is the JSON the producer sent. */
  private def fieldValue(r: java.util.Random, name: String, pool: Int): String =
    if (name.startsWith("id")) (100000 + r.nextInt(pool)).toString
    else if (name.startsWith("int")) r.nextInt(100).toString
    else if (name.startsWith("date")) f"2024-06-${1 + r.nextInt(28)}%02d"
    else if (name.toLowerCase.contains("time")) f"2024-06-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:00:00"
    else s"${words(r.nextInt(words.length))} ${name.drop(3)} ${r.nextInt(1000)}"
}
