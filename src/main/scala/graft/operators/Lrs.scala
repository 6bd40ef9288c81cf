package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The xAPI statements query surface — `GET /xAPI/statements/` semantics
  * (SURVEY.md §2.2/§2.3), executable spec
  * /root/reference/src/ralph/backends/lrs/fs.py:62-405 (ES/Mongo/CH agree).
  *
  * One Catalyst filter stack replaces the reference's four per-backend query
  * translators. statementId, verb, activity, registration, since/until and
  * the keyset cursor compare top-level columns of [[Store]] with literals,
  * so parquet row-group stats skip row groups, and over a
  * [[graft.streaming.LakeSink]] read its file index also skips whole
  * segments by their event-time range and id bloom. The agent filters
  * compare fields nested in `stmt` structs, which parquet pushdown takes
  * too. related_activities searches the contextActivities lists with
  * `array_contains`, which no stat can skip: the scan reads only the `id`
  * of each list (nested schema pruning), stays vectorized, and the
  * predicate runs on the rows read.
  */
object Lrs {

  /** Max hits per page — RUNSERVER_MAX_SEARCH_HITS_COUNT
    * (/root/reference/src/ralph/conf.py:208). */
  val MaxHits = 100

  /** Agent identification: exactly one Inverse Functional Identifier
    * (ifi.py:12-61). */
  case class Agent(
      mbox: Option[String] = None,
      mboxSha1sum: Option[String] = None,
      openid: Option[String] = None,
      accountName: Option[String] = None,
      accountHomePage: Option[String] = None)

  /** Keyset cursor = (timestamp, id) of the last row of the previous page —
    * the ClickHouse/Mongo pagination model (lrs/clickhouse.py:79-94,
    * lrs/mongo.py:106-116). */
  case class Cursor(ts: Timestamp, id: String)

  /** The full accepted GET parameter set — unknown params are a 400
    * (strict-params rule F14, api/routers/statements.py:128-142). */
  val KnownParams: Set[String] = Set(
    "statementId", "voidedStatementId", "agent", "verb", "activity",
    "registration", "related_activities", "related_agents", "since", "until",
    "limit", "format", "attachments", "ascending", "authority",
    "search_after", "pit_id", "ignore_order", "mine")

  /** Strict request validation (F14): unknown params rejected. */
  def validateParams(params: Iterable[String]): Unit = {
    val unknown = params.toSet.diff(KnownParams)
    require(unknown.isEmpty, s"The following parameter is not allowed: ${unknown.mkString(", ")}")
  }

  /** LRSStatementsQuery (backends/lrs/base.py:76-121).
    * `voidedStatementId` is accepted but "Not implemented" in the reference
    * (statements.py:160-165) — only its 400 exclusivity rules apply. */
  case class Query(
      statementId: Option[String] = None,
      voidedStatementId: Option[String] = None,
      agent: Option[Agent] = None,
      verb: Option[String] = None,
      activity: Option[String] = None,
      registration: Option[String] = None,
      relatedActivities: Boolean = false,
      relatedAgents: Boolean = false,
      since: Option[String] = None,
      until: Option[String] = None,
      limit: Int = 0,
      ascending: Boolean = false,
      authority: Option[Agent] = None,
      searchAfter: Option[Cursor] = None)

  /** IFI equality on an agent-shaped struct column (lrs/fs.py:183-292):
    * matches on exactly the provided identifier. */
  def agentMatch(c: Column, a: Agent): Column = {
    val checks = Seq(
      a.mbox.map(v => c.getField("mbox") === v),
      a.mboxSha1sum.map(v => c.getField("mbox_sha1sum") === v),
      a.openid.map(v => c.getField("openid") === v),
      (a.accountName, a.accountHomePage) match {
        case (Some(n), Some(h)) =>
          Some(c.getField("account").getField("name") === n &&
            c.getField("account").getField("homePage") === h)
        case _ => None
      }).flatten
    require(checks.nonEmpty, "agent filter requires exactly one IFI")
    checks.reduce(_ && _)
  }

  /** related_agents: any of actor / object-as-agent / authority /
    * context.instructor / context.team, plus one SubStatement recursion
    * (lrs/fs.py:174-292; nesting bound: unnested_objects.py:119). */
  private def relatedAgentMatch(stmt: Column, a: Agent): Column = {
    val obj = stmt.getField("object")
    val asAgent = (obj.getField("objectType") === "Agent" ||
      obj.getField("objectType") === "Group") && agentMatch(obj, a)
    val sub = obj.getField("objectType") === "SubStatement" &&
      agentMatch(obj.getField("actor"), a)
    agentMatch(stmt.getField("actor"), a) ||
      asAgent || sub ||
      agentMatch(stmt.getField("authority"), a) ||
      agentMatch(stmt.getField("context").getField("instructor"), a) ||
      agentMatch(stmt.getField("context").getField("team"), a)
  }

  /** related_activities: object.id or any contextActivities id, or the
    * SubStatement's object id (lrs/fs.py:315-335). A list is searched as
    * `array_contains(list.id, a)`: under a filter it keeps the same rows as
    * `exists(coalesce(list, array()), x => x.id === a)` (a null list, a
    * null element or a null id is null or false in both, never true), but
    * it is not a lambda, so nested schema pruning reads only `id` of each
    * list and the scan stays vectorized. */
  private def relatedActivityMatch(stmt: Column, activityId: String): Column = {
    val ca = stmt.getField("context").getField("contextActivities")
    val inList = Seq("parent", "grouping", "category", "other").map { f =>
      array_contains(ca.getField(f).getField("id"), activityId)
    }.reduce(_ || _)
    val obj = stmt.getField("object")
    obj.getField("id") === activityId || inList ||
      (obj.getField("objectType") === "SubStatement" &&
        obj.getField("object").getField("id") === activityId)
  }

  /** Build the full GET filter + sort + limit plan over a [[Store]] frame. */
  def statements(store: DataFrame, q: Query): DataFrame = {
    // 400 rules (statements.py:332-366): statementId ⊥ voidedStatementId,
    // and either is exclusive of every filter except attachments/format
    require(q.statementId.isEmpty || q.voidedStatementId.isEmpty,
      "Query parameters cannot include both statementId and voidedStatementId")
    require((q.statementId.isEmpty && q.voidedStatementId.isEmpty) ||
      (q.agent.isEmpty && q.verb.isEmpty && q.activity.isEmpty &&
        q.registration.isEmpty && q.since.isEmpty && q.until.isEmpty),
      "statementId is mutually exclusive with other filters")

    var df = store
    q.statementId.foreach(v => df = df.filter(col("event_id") === v)) // F1
    q.agent.foreach { a => // F2 / F4
      df = if (q.relatedAgents) df.filter(relatedAgentMatch(col("stmt"), a))
      else df.filter(agentMatch(col("stmt").getField("actor"), a))
    }
    q.authority.foreach(a => df = df.filter(agentMatch(col("stmt").getField("authority"), a))) // F3
    q.verb.foreach(v => df = df.filter(col("verb_id") === v)) // F5
    q.activity.foreach { a => // F6 / F7
      df = if (q.relatedActivities) df.filter(relatedActivityMatch(col("stmt"), a))
      else df.filter(col("activity_id") === a)
    }
    q.registration.foreach(r => df = df.filter(col("registration") === r)) // F10
    // F8 since strictly exclusive, F9 until inclusive (lrs/fs.py:337-375)
    q.since.foreach(s => df = df.filter(col("ts") > lit(s).cast("timestamp")))
    q.until.foreach(u => df = df.filter(col("ts") <= lit(u).cast("timestamp")))
    // F11 keyset row-value comparison
    q.searchAfter.foreach { c =>
      val pred =
        if (q.ascending)
          col("ts") > c.ts || (col("ts") === c.ts && col("event_id") > c.id)
        else
          col("ts") < c.ts || (col("ts") === c.ts && col("event_id") < c.id)
      df = df.filter(pred)
    }
    // O1 sort (timestamp, id tiebreak — the CH/Mongo deterministic order;
    // documented deviation from the FS backend's insertion order)
    val sorted =
      if (q.ascending) df.orderBy(asc("ts"), asc("event_id"))
      else df.orderBy(desc("ts"), desc("event_id"))
    // O2 limit clamp: min(limit or MAX, MAX) (statements.py:242-251,329-330)
    val n = if (q.limit <= 0) MaxHits else math.min(q.limit, MaxHits)
    sorted.limit(n)
  }

  /** `more`-link cursor from the last row of a fully-materialised page
    * (statements.py:417-448): present iff the page is full. */
  def nextCursor(page: Array[(Timestamp, String)], limit: Int): Option[Cursor] = {
    val n = if (limit <= 0) MaxHits else math.min(limit, MaxHits)
    if (page.length == n && n > 0) Some(Cursor(page.last._1, page.last._2)) else None
  }

  /** `more` relative URL for the next page (statements.py:417-448):
    * original params + the keyset cursor; emitted only for full pages. */
  def moreUrl(path: String, q: Query, cursor: Cursor): String = {
    val params = Seq(
      q.verb.map(v => s"verb=$v"),
      q.activity.map(a => s"activity=$a"),
      q.since.map(s => s"since=$s"),
      q.until.map(u => s"until=$u"),
      Some(s"limit=${if (q.limit <= 0) MaxHits else math.min(q.limit, MaxHits)}"),
      if (q.ascending) Some("ascending=true") else None,
      Some(s"search_after=${cursor.id}"),
      Some(s"pit_id=${cursor.ts.getTime}")).flatten
    s"$path?${params.mkString("&")}"
  }
}
