package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful per-actor sessionization (A3, north rule): one
  * `flatMapGroupsWithState` keyed by actor with an event-time timeout,
  * RocksDB-backed state. A session belongs to one (actor, source); the
  * actor's state holds the open session of each of its sources. Emits
  * CLOSED sessions only (append mode): a session closes when a new event of
  * its source arrives past the gap, or when the watermark passes
  * session_end + gap (timeout path) — so results are deterministic for a
  * given input + watermark, per the north rule.
  *
  * [[deduplicated]] runs the within-watermark id dedup in the same
  * operator: the actor's state also holds the ids seen within the
  * watermark, so `sessions(deduped(…))` costs one shuffle and one
  * state-store commit per partition instead of two. That equals
  * `dropDuplicatesWithinWatermark("id")` followed by sessionization
  * whenever every copy of an id carries the same actor_key and ts (true of
  * converted statements: `id = uuid5(raw)`, and actor_key and ts are
  * functions of `raw`).
  *
  * The session payload (count, bounds, verb histogram) is the custom state
  * the reference never had (its only aggregates were counters).
  */
object Sessionize {

  case class Event(actor_key: String, source: String, ts: Timestamp, verb_id: String)

  /** An [[Event]] with its statement id; a null id is never deduplicated. */
  case class IdEvent(actor_key: String, id: String, source: String, ts: Timestamp, verb_id: String)

  /** The open session of one source. */
  case class Open(source: String, start: Long, end: Long, n: Long, verbs: Map[String, Long])

  /** One actor's state: id → expiry (µs, ts + watermark delay) for the ids
    * seen within the watermark as of the actor's last call, and the open
    * session per source. */
  case class ActorState(ids: Map[String, Long], open: Seq[Open])

  case class Session(
      actor_key: String, source: String,
      session_start: Timestamp, session_end: Timestamp,
      n_events: Long, n_verbs: Int, top_verb: String)

  val DefaultGapMs: Long = 30L * 60 * 1000 // 30 minutes (SURVEY.md §2.8 A3)

  /** A session being extended within one call of [[process]]. */
  private final class Acc(val source: String, var start: Long, var end: Long, var n: Long,
                          val verbs: mutable.HashMap[String, Long]) {
    def add(t: Long, verb: String): Unit = {
      start = math.min(start, t)
      end = math.max(end, t)
      n += 1
      verbs(verb) = verbs.getOrElse(verb, 0L) + 1
    }

    def session(actor: String): Session = {
      val top = verbs.minBy { case (v, c) => (-c, v) }._1
      Session(actor, source, new Timestamp(start), new Timestamp(end), n, verbs.size, top)
    }

    def toOpen: Open = Open(source, start, end, n, verbs.toMap)
  }

  private object Acc {
    def apply(o: Open): Acc = new Acc(o.source, o.start, o.end, o.n, mutable.HashMap.from(o.verbs))
    def first(source: String, t: Long, verb: String): Acc =
      new Acc(source, t, t, 1, mutable.HashMap(verb -> 1L))
  }

  private val ByTimeVerb: Ordering[IdEvent] = (a, b) => {
    val c = java.lang.Long.compare(a.ts.getTime, b.ts.getTime)
    if (c != 0) c else a.verb_id.compareTo(b.verb_id)
  }

  /** One actor's batch (or its timeout), in this order:
    *  1. drop rows whose id is already stored or was seen earlier in the
    *     batch (arrival order, the first copy wins), checking every stored
    *     id, expired ones too: a row repeating an id that has expired
    *     carries its ts, so it is older than the watermark and Spark has
    *     already dropped it;
    *  2. per source, extend or close sessions over the kept rows in
    *     (ts, verb_id) order;
    *  3. close every session whose end + gap is below the watermark,
    *     also one extended in step 2 (consecutive data batches can move
    *     the watermark past a kept row's ts + gap);
    *  4. evict ids whose expiry the watermark has reached;
    *  5. time out at the earliest remaining end + gap, or, with no session
    *     open, at the latest id expiry; remove the state when nothing
    *     remains.
    * With `delayUs` the watermark delay in µs, steps 1 and 4 are
    * `dropDuplicatesWithinWatermark`'s own. Ids are evicted only when the
    * actor is called: an id is kept by a session of its source whose end
    * is at least its ts, so with delay ≤ gap the session's timeout comes
    * after the id's expiry, and an actor is woken only to close sessions.
    *
    * Cost: the actor's state is one row, rewritten whenever the actor is
    * called, so a batch costs the actor's ids within the watermark, not
    * just its new ones. That is cheap while an actor holds few ids per
    * watermark window; one hot actor (every anonymous statement shares
    * the actor_key "anonymous") or microbatches much shorter in event
    * time than the delay make it grow (see ROADMAP item 2). */
  def process(gapMs: Long, delayUs: Long)(
      actor: String,
      rows: Iterator[IdEvent],
      state: GroupState[ActorState]): Iterator[Session] = {
    val wm = state.getCurrentWatermarkMs()
    val stored = state.getOption
    val storedIds = stored.fold(Map.empty[String, Long])(_.ids)
    val newIds = mutable.HashMap.empty[String, Long]
    val open = mutable.HashMap.empty[String, Acc]
    stored.foreach(_.open.foreach(o => open(o.source) = Acc(o)))
    val bySource = mutable.HashMap.empty[String, mutable.ArrayBuffer[IdEvent]]
    rows.foreach { e =>
      val fresh = e.id == null || !(storedIds.contains(e.id) || newIds.contains(e.id))
      if (fresh) {
        if (e.id != null) newIds(e.id) = DateTimeUtils.fromJavaTimestamp(e.ts) + delayUs
        bySource.getOrElseUpdate(e.source, mutable.ArrayBuffer.empty) += e
      }
    }
    val closed = mutable.ArrayBuffer.empty[Session]
    bySource.foreach { case (source, es) =>
      var cur = open.getOrElse(source, null)
      es.sortInPlace()(ByTimeVerb).foreach { e =>
        val t = e.ts.getTime
        if (cur != null && t - cur.end <= gapMs) cur.add(t, e.verb_id)
        else { // gap exceeded → close previous, open new
          if (cur != null) closed += cur.session(actor)
          cur = Acc.first(source, t, e.verb_id)
        }
      }
      open(source) = cur
    }
    open.filterInPlace { (_, s) =>
      val live = s.end + gapMs >= wm
      if (!live) closed += s.session(actor)
      live
    }
    val wmUs = DateTimeUtils.millisToMicros(wm)
    val ids = (if (storedIds.valuesIterator.exists(_ <= wmUs)) storedIds.filter(_._2 > wmUs)
      else storedIds) ++ newIds.filter(_._2 > wmUs)
    if (ids.isEmpty && open.isEmpty) state.remove()
    else {
      state.update(ActorState(ids, open.valuesIterator.map(_.toOpen).toSeq))
      // after steps 3 and 4 every end + gap is >= wm and every expiry >
      // wm * 1000; an id expiring at e µs is evicted by the first
      // watermark above floor((e - 1) / 1000) ms, as the timeout fires
      state.setTimeoutTimestamp(
        if (open.nonEmpty) open.valuesIterator.map(_.end + gapMs).min
        else Math.floorDiv(ids.valuesIterator.max - 1, 1000L))
    }
    closed.iterator
  }

  /** Sessions of a plain event stream, without id dedup.
    * @param statements stream with actor_key/source/ts/verb_id and a
    *                   watermark already set on ts */
  def apply(statements: Dataset[Event], gapMs: Long = DefaultGapMs): Dataset[Session] =
    sessionize(statements.select(col("actor_key"), lit(null).cast("string").as("id"),
      col("source"), col("ts"), col("verb_id")), gapMs, delayUs = 0L)

  /** Sessions (default gap) of a statement stream whose rows repeating an
    * id within the watermark are dropped by the same operator, with the
    * delay of the watermark on ts.
    * @param statements stream with id/actor_key/source/ts/verb_id and a
    *                   watermark already set on ts; every copy of an id
    *                   must carry the same actor_key and ts */
  def deduplicated(statements: DataFrame): Dataset[Session] = {
    val delayMs = statements.schema("ts").metadata.getLong(EventTimeWatermark.delayKey)
    sessionize(statements.select(col("actor_key"), col("id"), col("source"), col("ts"),
      col("verb_id")), DefaultGapMs, DateTimeUtils.millisToMicros(delayMs))
  }

  private def sessionize(events: DataFrame, gapMs: Long, delayUs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.as[IdEvent]
      .groupByKey(_.actor_key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        process(gapMs, delayUs))
  }
}
