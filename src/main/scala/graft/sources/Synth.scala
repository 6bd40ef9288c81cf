package graft.sources

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{TokenCodec, Uuid5}

/** One row of the pre-tokenized input table (BASELINE.json input_hint). */
case class InputRow(doc_id: String, tokens: Array[Int], n_tok: Int, source: String)

/** Deterministic synthetic input generator (no wall clock, no RNG state —
  * every row is a pure function of its index, so generation is
  * embarrassingly parallel and identical at any parallelism/scale).
  *
  * Mirrors the reference's polyfactory-generated fixtures
  * (/root/reference/tests/factories.py) and its 22k-statement corpus shape
  * (data/statements.json.gz): edX tracking events across the 12 model
  * families the converters cover, carried pre-tokenized per
  * BASELINE.json input_hint `(doc_id, tokens array<int>, n_tok, source)`.
  *
  * Controlled imperfections for the pipeline to handle:
  *  - duplicates (same doc_id + payload) at ~1/17 rate → dedup stage
  *  - truncated/invalid JSON at ~1/29 rate → error routing
  *    (reference truncates server `event` at 512 chars: edx/server.py:44-57)
  *  - unknown event_type at ~1/31 rate → UnknownEvent routing
  */
object Synth {

  val UuidNamespace = "ee241f8b-174f-5bdb-bae9-c09de5fe017f" // test_server.py:16
  val PlatformUrl = "https://lms.example.com"

  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'+00:00'")
    .withZone(ZoneOffset.UTC)
  private val baseEpochMicros = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L

  /** splitmix64 — stable pseudo-random stream per (index, salt). */
  def mix(i: Long, salt: Long): Long = {
    var z = i * 0x9e3779b97f4a7c15L + salt * 0xbf58476d1ce4e5b9L + 0x94d049bb133111ebL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pick(i: Long, salt: Long, n: Int): Int = (Math.floorMod(mix(i, salt), n.toLong)).toInt

  val families: Vector[String] = Vector(
    "server", "page_close", "seq_goto", "seq_next", "seq_prev",
    "load_video", "play_video", "pause_video", "stop_video", "seek_video",
    "edx.course.enrollment.activated", "edx.course.enrollment.deactivated")

  /** Timestamp: strictly increasing base + per-row jitter < step, so event
    * time is monotone-ish with bounded disorder (exercises watermarks). */
  def eventTimeMicros(i: Long): Long =
    baseEpochMicros + i * 2_000_000L + Math.floorMod(mix(i, 7L), 1_000_000L)

  def isoTime(i: Long): String = {
    val us = eventTimeMicros(i)
    isoFmt.format(Instant.ofEpochSecond(us / 1_000_000L, (us % 1_000_000L) * 1000L))
  }

  /** Row classes: index → (isDup, isInvalid, isUnknown). Duplicates point at
    * the previous index's event so the payload (and doc_id) is identical. */
  def isDup(i: Long): Boolean = i % 17 == 13 && i > 0
  def isInvalid(i: Long): Boolean = !isDup(i) && i % 29 == 7
  def isUnknown(i: Long): Boolean = !isDup(i) && !isInvalid(i) && i % 31 == 11

  def userId(i: Long): Long = Math.floorMod(mix(i, 11L), 211L) // hot-ish key space
  def courseId(i: Long): String = s"course-v1:org+C${pick(i, 13L, 23)}+run"
  def sessionHex(i: Long): String =
    Uuid5.uuid5(UuidNamespace, s"session-${userId(i)}-${i / 500}").replace("-", "")

  /** The canonical edX event JSON for index i (pure function).
    * Shape: src/ralph/models/edx/base.py:105-169 + per-family payloads. */
  def edxJson(i: Long): String = {
    val idx = if (isDup(i)) i - 1 else i
    val fam = if (isUnknown(i)) "unknown_evt" else families(pick(idx, 3L, families.size))
    val uid = userId(idx)
    val time = isoTime(idx)
    val course = courseId(idx)
    val session = sessionHex(idx)
    val videoId = s"vid-${pick(idx, 17L, 97)}"
    // sequential usage key matching NavigationalEventField's pattern
    // (edx/navigational/fields/events.py:24-32)
    val seqId = s"block-v1:org+C${pick(idx, 13L, 23)}+run+type@sequential+block@" +
      Uuid5.uuid5(UuidNamespace, s"seq-$course").replace("-", "")
    val ct = Math.floorMod(mix(idx, 19L), 36000L) / 100.0
    val pos = pick(idx, 23L, 40)
    val path = fam match {
      case "server" => s"/main/page${pick(idx, 29L, 50)}"
      case _        => "/event"
    }
    val (source, eventField, eventType) = fam match {
      case "server" =>
        ("server", "\"{\\\"GET\\\": {}, \\\"POST\\\": {}}\"", path)
      case "page_close" => ("browser", "\"{}\"", fam)
      case "seq_goto" =>
        ("browser", s"""\"{\\\"id\\\": \\\"$seqId\\\", \\\"old\\\": $pos, \\\"new\\\": ${pick(idx, 31L, 40)}}\"""", fam)
      case "seq_next" =>
        ("browser", s"""\"{\\\"id\\\": \\\"$seqId\\\", \\\"old\\\": $pos, \\\"new\\\": ${pos + 1}}\"""", fam)
      case "seq_prev" =>
        ("browser", s"""\"{\\\"id\\\": \\\"$seqId\\\", \\\"old\\\": $pos, \\\"new\\\": ${pos - 1}}\"""", fam)
      case "load_video" =>
        ("browser", s"""\"{\\\"id\\\": \\\"$videoId\\\", \\\"code\\\": \\\"html5\\\"}\"""", fam)
      case "play_video" | "pause_video" =>
        ("browser", s"""\"{\\\"id\\\": \\\"$videoId\\\", \\\"code\\\": \\\"html5\\\", \\\"currentTime\\\": $ct}\"""", fam)
      case "stop_video" =>
        ("browser", s"""\"{\\\"id\\\": \\\"$videoId\\\", \\\"code\\\": \\\"html5\\\", \\\"currentTime\\\": $ct}\"""", fam)
      case "seek_video" =>
        ("browser", s"""\"{\\\"id\\\": \\\"$videoId\\\", \\\"code\\\": \\\"html5\\\", \\\"old_time\\\": $ct, \\\"new_time\\\": ${ct + 30.0}, \\\"type\\\": \\\"onSlideSeek\\\"}\"""", fam)
      case "edx.course.enrollment.activated" | "edx.course.enrollment.deactivated" =>
        ("server", s"""{\"course_id\": \"$course\", \"mode\": \"honor\", \"user_id\": $uid}""", fam)
      case _ => ("browser", "\"{}\"", fam)
    }
    val page = if (source == "browser") s"""\"$PlatformUrl/courses/$course/courseware\"""" else "null"
    val json =
      s"""{\"username\": \"user$uid\", \"ip\": \"192.168.0.${pick(idx, 37L, 255)}\", """ +
      s"""\"agent\": \"Mozilla/5.0\", \"host\": \"lms.example.com\", \"referer\": \"$PlatformUrl/\", """ +
      s"""\"accept_language\": \"en\", \"context\": {\"course_id\": \"$course\", \"org_id\": \"org\", """ +
      s"""\"path\": \"$path\", \"user_id\": $uid}, \"time\": \"$time\", \"page\": $page, """ +
      s"""\"event_source\": \"$source\", \"event_type\": \"$eventType\", \"name\": \"$eventType\", """ +
      s"""\"session\": \"$session\", \"event\": $eventField}"""
    if (isInvalid(i)) json.substring(0, 60) else json
  }

  def familyOf(i: Long): String = {
    val idx = if (isDup(i)) i - 1 else i
    if (isUnknown(i)) "unknown_evt" else families(pick(idx, 3L, families.size))
  }

  /** Families with a conversion set (converter.py registry — seq_* validate
    * but do not convert). */
  def isConvertible(i: Long): Boolean =
    !isInvalid(i) && !isUnknown(i) && !Set("seq_goto", "seq_next", "seq_prev")(familyOf(i))

  def docId(i: Long): String = {
    val idx = if (isDup(i)) i - 1 else i
    Uuid5.uuid5(UuidNamespace, s"doc-$idx")
  }

  def sourceOf(i: Long): String = {
    val idx = if (isDup(i)) i - 1 else i
    val fam = if (isUnknown(i)) "unknown_evt" else families(pick(idx, 3L, families.size))
    fam match {
      case "server" | "edx.course.enrollment.activated" | "edx.course.enrollment.deactivated" => "server"
      case _ => "browser"
    }
  }

  /** The pre-tokenized input table: (doc_id, tokens, n_tok, source).
    * mapPartitions over `range` — no shuffle, deterministic per index. */
  def inputTable(spark: SparkSession, n: Long, numPartitions: Int = 32): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, numPartitions).as[Long].mapPartitions { it =>
      it.map { i =>
        val toks = TokenCodec.encodeString(edxJson(i))
        InputRow(docId(i), toks, toks.length, sourceOf(i))
      }
    }.toDF()
  }
}
