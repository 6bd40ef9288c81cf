package perfbench

import graft.operators.{Convert, Lrs}
import graft.sources.Synth

/** Output checks. Each oracle is derived independently of the engine's
  * distributed plans — from the generator's index rules or from a
  * sequential walk over collected columns — and each check returns its
  * failure messages (empty = pass). */
object Checks {

  private def limitFailures(kind: String, msgs: Seq[String]): Seq[String] =
    if (msgs.size <= 5) msgs else msgs.take(5) :+ s"$kind: … ${msgs.size - 5} more"

  // ---- ingest_lake ----------------------------------------------------------

  /** Distinct uuid5 ids of the convertible rows in the index windows (the
    * batch pipeline golden's rules: the converter ids statement i as
    * uuid5(ns, raw_i); duplicates share their original's raw payload). */
  def expectedIds(layout: Inputs.Layout): Set[String] =
    layout.files.flatMap(f => (f.lo until f.hi).filter(Synth.isConvertible).map(Inputs.statementId))
      .toSet

  def lakeIds(expected: Set[String], committed: Seq[String]): Seq[String] = {
    val dups = committed.groupBy(identity).collect { case (id, xs) if xs.size > 1 => id }
    val got = committed.toSet
    val missing = expected.diff(got)
    val extra = got.diff(expected)
    limitFailures("ingest_lake",
      dups.toSeq.sorted.map(id => s"ingest_lake: id $id committed ${committed.count(_ == id)} times") ++
        missing.toSeq.sorted.map(id => s"ingest_lake: expected id $id is not committed") ++
        extra.toSeq.sorted.map(id => s"ingest_lake: committed id $id is not expected"))
  }

  // ---- ingest_sessions ------------------------------------------------------

  final case class Ev(actor: String, source: String, tsMs: Long, verb: String)
  final case class Sess(actor: String, source: String, startMs: Long, endMs: Long,
                        n: Long, nVerbs: Int, topVerb: String)

  private val verbOf = Map(
    "server" -> Convert.Viewed,
    "page_close" -> Convert.Terminated,
    "edx.course.enrollment.activated" -> Convert.Registered,
    "edx.course.enrollment.deactivated" -> Convert.Unregistered,
    "load_video" -> Convert.Initialized,
    "play_video" -> Convert.Played,
    "pause_video" -> Convert.Paused,
    "stop_video" -> Convert.Terminated,
    "seek_video" -> Convert.Seeked)

  /** One event per distinct statement of the windows, from the generator:
    * the actor is the edX user id ("anonymous" for user 0). */
  def expectedEvents(layout: Inputs.Layout): Seq[Ev] = {
    val seen = scala.collection.mutable.HashSet.empty[String]
    layout.files.sortBy(_.lo).flatMap(f => f.lo until f.hi).flatMap { i =>
      if (!Synth.isConvertible(i) || !seen.add(Inputs.statementId(i))) None
      else {
        val idx = if (Synth.isDup(i)) i - 1 else i
        val uid = Synth.userId(idx)
        Some(Ev(if (uid == 0) "anonymous" else uid.toString, Synth.sourceOf(i),
          Math.floorDiv(Synth.eventTimeMicros(idx), 1000L), verbOf(Synth.familyOf(i))))
      }
    }
  }

  /** Sequential sessionization: per (actor, source), events in time order
    * split where the gap exceeds `gapMs`. A session is closed when a later
    * session of its key exists, or when the watermark has passed its end
    * plus the gap (the event-time timeout). */
  def sessionize(evs: Seq[Ev], gapMs: Long, watermarkMs: Long): Set[Sess] =
    evs.groupBy(e => (e.actor, e.source)).toSeq.flatMap { case ((a, s), es) =>
      val sorted = es.sortBy(e => (e.tsMs, e.verb))
      val out = scala.collection.mutable.ArrayBuffer.empty[Sess]
      var cur = List.empty[Ev]
      def close(): Unit = if (cur.nonEmpty) {
        val hist = cur.groupBy(_.verb).map { case (v, xs) => v -> xs.size.toLong }
        val top = hist.toSeq.sortBy { case (v, n) => (-n, v) }.head._1
        out += Sess(a, s, cur.map(_.tsMs).min, cur.map(_.tsMs).max, cur.size, hist.size, top)
        cur = Nil
      }
      sorted.foreach { e =>
        if (cur.nonEmpty && e.tsMs - cur.head.tsMs > gapMs) close()
        cur = e :: cur
      }
      val open = cur
      close()
      if (open.nonEmpty && open.head.tsMs + gapMs >= watermarkMs) out.remove(out.size - 1)
      out.toSeq
    }.toSet

  def sessions(expected: Set[Sess], got: Seq[Sess]): Seq[String] = {
    val dups = got.groupBy(identity).collect { case (s, xs) if xs.size > 1 => s }
    limitFailures("ingest_sessions",
      dups.toSeq.map(s => s"ingest_sessions: session emitted twice: $s") ++
        expected.diff(got.toSet).toSeq.map(s => s"ingest_sessions: expected session missing: $s") ++
        got.toSet.diff(expected).toSeq.map(s => s"ingest_sessions: unexpected session: $s"))
  }

  // ---- lrs_read -------------------------------------------------------------

  /** The lake columns a GET filter reads, collected once. `related` holds
    * the object id first, then every context activity id. */
  final case class Row(id: String, tsUs: Long, verb: String, actorName: String,
                       actorHome: String, related: Seq[String])

  /** Sequential filter / sort / limit with the same semantics as
    * `Lrs.statements` for the parameters the query mix uses. */
  def page(rows: Seq[Row], q: Lrs.Query, parseTs: String => Long): Seq[(Long, String)] = {
    val since = q.since.map(parseTs)
    val until = q.until.map(parseTs)
    val keep = rows.filter { r =>
      q.statementId.forall(_ == r.id) &&
      q.agent.forall(a => a.accountName.contains(r.actorName) && a.accountHomePage.contains(r.actorHome)) &&
      q.verb.forall(_ == r.verb) &&
      q.activity.forall(a => r.related.contains(a)) && // the mix sends related_activities only
      since.forall(r.tsUs > _) && until.forall(r.tsUs <= _) &&
      q.searchAfter.forall { c =>
        val cts = Queries.micros(c.ts)
        if (q.ascending) r.tsUs > cts || (r.tsUs == cts && r.id > c.id)
        else r.tsUs < cts || (r.tsUs == cts && r.id < c.id)
      }
    }
    val ord = Ordering.Tuple2[Long, String]
    val sorted = keep.map(r => (r.tsUs, r.id)).sorted(if (q.ascending) ord else ord.reverse)
    sorted.take(if (q.limit <= 0) Lrs.MaxHits else math.min(q.limit, Lrs.MaxHits))
  }

  def pages(label: String, expected: Seq[(Long, String)], got: Seq[(Long, String)]): Seq[String] =
    if (expected == got) Nil
    else {
      val k = expected.zip(got).indexWhere { case (a, b) => a != b }
      Seq(s"lrs_read: $label returned ${got.size} rows, expected ${expected.size}" +
        (if (k < 0) "" else s" (first difference at row $k)"))
    }

  // ---- dedup_maint ----------------------------------------------------------

  /** Every planted replica group must share one label. */
  def replicaGroups(groups: Seq[Seq[Long]], labels: Map[Long, Long]): Seq[String] =
    limitFailures("dedup_maint", groups.flatMap { g =>
      val reps = g.map(labels.get)
      if (reps.exists(_.isEmpty)) Seq(s"dedup_maint: group ${g.head} has unlabeled members")
      else if (reps.flatten.distinct.size != 1)
        Seq(s"dedup_maint: group ${g.head} split over labels ${reps.flatten.distinct.mkString(",")}")
      else Nil
    })
}
