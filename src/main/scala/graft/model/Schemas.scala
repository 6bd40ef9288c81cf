package graft.model

import org.apache.spark.sql.types._

/** Spark schemas for the two record shapes the engine processes.
  *
  * 1. edX raw tracking events — the validate/convert input
  *    (/root/reference/src/ralph/models/edx/base.py:105-169).
  * 2. xAPI statements — the store/query shape
  *    (/root/reference/src/ralph/models/xapi/base/statements.py:20-47).
  *
  * Design notes (SURVEY.md §1.7):
  *  - Open-keyed maps (`extensions`, LanguageMap) → MapType(String, String);
  *    non-string values are carried JSON-encoded so they round-trip.
  *  - Lax passthrough (`extra="allow"`, api/models.py:26-64) → every parsed
  *    frame keeps the original JSON in a `raw` column; enrichment merges into
  *    `raw`, so unknown fields survive end-to-end.
  *  - `timestamp`/`stored` are kept both as the original ISO-8601 string (for
  *    byte-exact echo incl. `+00:00` offsets and microseconds) and as a
  *    parsed TimestampType column `ts` for event-time processing.
  */
object Schemas {

  // -------- agents (4-way IFI union + account + group members) ------------
  // src/ralph/models/xapi/base/ifi.py:12-61, agents.py:50-85
  val accountType: StructType = StructType(Seq(
    StructField("homePage", StringType),
    StructField("name", StringType)))

  private def agentFields: Seq[StructField] = Seq(
    StructField("objectType", StringType),
    StructField("name", StringType),
    StructField("mbox", StringType),
    StructField("mbox_sha1sum", StringType),
    StructField("openid", StringType),
    StructField("account", accountType))

  /** Agent | Group: group adds `member: [Agent]` (one level — groups of
    * groups are not allowed by the reference model). */
  val actorType: StructType = StructType(
    agentFields :+ StructField("member", ArrayType(StructType(agentFields))))

  val verbType: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("display", MapType(StringType, StringType))))

  val interactionComponentType: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("description", MapType(StringType, StringType))))

  val definitionType: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("name", MapType(StringType, StringType)),
    StructField("description", MapType(StringType, StringType)),
    StructField("moreInfo", StringType),
    StructField("interactionType", StringType),
    StructField("correctResponsesPattern", ArrayType(StringType)),
    StructField("choices", ArrayType(interactionComponentType)),
    StructField("scale", ArrayType(interactionComponentType)),
    StructField("source", ArrayType(interactionComponentType)),
    StructField("target", ArrayType(interactionComponentType)),
    StructField("steps", ArrayType(interactionComponentType)),
    StructField("extensions", MapType(StringType, StringType))))

  /** Inner object of a SubStatement (no further nesting allowed:
    * src/ralph/models/xapi/base/unnested_objects.py:119). */
  val subObjectType: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("objectType", StringType),
    StructField("definition", definitionType)))

  /** Statement `object`: Activity | StatementRef | SubStatement | Agent |
    * Group, modelled as a single nullable superset struct; `objectType`
    * discriminates (src/ralph/models/xapi/base/objects.py:45-50). */
  val objectType: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("objectType", StringType),
    StructField("definition", definitionType),
    // SubStatement body (one recursion level)
    StructField("actor", actorType),
    StructField("verb", verbType),
    StructField("object", subObjectType),
    StructField("timestamp", StringType),
    // Agent/Group-as-object IFI fields
    StructField("name", StringType),
    StructField("mbox", StringType),
    StructField("mbox_sha1sum", StringType),
    StructField("openid", StringType),
    StructField("account", accountType),
    StructField("member", ArrayType(StructType(agentFields)))))

  val activityRefType: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("objectType", StringType),
    StructField("definition", definitionType)))

  val contextActivitiesType: StructType = StructType(Seq(
    StructField("parent", ArrayType(activityRefType)),
    StructField("grouping", ArrayType(activityRefType)),
    StructField("category", ArrayType(activityRefType)),
    StructField("other", ArrayType(activityRefType))))

  val contextType: StructType = StructType(Seq(
    StructField("registration", StringType),
    StructField("instructor", actorType),
    StructField("team", actorType),
    StructField("contextActivities", contextActivitiesType),
    StructField("revision", StringType),
    StructField("platform", StringType),
    StructField("language", StringType),
    StructField("statement", StructType(Seq(
      StructField("id", StringType),
      StructField("objectType", StringType)))),
    StructField("extensions", MapType(StringType, StringType))))

  val scoreType: StructType = StructType(Seq(
    StructField("scaled", DoubleType),
    StructField("raw", DoubleType),
    StructField("min", DoubleType),
    StructField("max", DoubleType)))

  val resultType: StructType = StructType(Seq(
    StructField("score", scoreType),
    StructField("success", BooleanType),
    StructField("completion", BooleanType),
    StructField("response", StringType),
    StructField("duration", StringType),
    StructField("extensions", MapType(StringType, StringType))))

  val attachmentType: StructType = StructType(Seq(
    StructField("usageType", StringType),
    StructField("display", MapType(StringType, StringType)),
    StructField("description", MapType(StringType, StringType)),
    StructField("contentType", StringType),
    StructField("length", LongType),
    StructField("sha2", StringType),
    StructField("fileUrl", StringType)))

  /** Full xAPI statement (SURVEY.md §1.2). */
  val statement: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("actor", actorType),
    StructField("verb", verbType),
    StructField("object", objectType),
    StructField("result", resultType),
    StructField("context", contextType),
    StructField("timestamp", StringType),
    StructField("stored", StringType),
    StructField("authority", actorType),
    StructField("version", StringType),
    StructField("attachments", ArrayType(attachmentType))))

  // ---------------- edX raw tracking event ------------------------------
  // Envelope: src/ralph/models/edx/base.py:105-169. `event` is either a JSON
  // object or a JSON-encoded string (possibly truncated at 512 chars for
  // server events, server.py:44-57) → modelled as StringType; family-level
  // payload rules run in `graft.functions.EdxModels`.
  val edxContext: StructType = StructType(Seq(
    StructField("course_id", StringType),
    StructField("org_id", StringType),
    StructField("path", StringType),
    StructField("user_id", StringType), // int | "" | null in the wild → string
    // enrollment-upgrade context literal (enrollment/fields/contexts.py:13-37)
    StructField("mode", StringType),
    StructField("module", StructType(Seq(
      StructField("display_name", StringType),
      StructField("usage_key", StringType))))))

  val edxEvent: StructType = StructType(Seq(
    StructField("username", StringType),
    StructField("ip", StringType),
    StructField("agent", StringType),
    StructField("host", StringType),
    StructField("referer", StringType),
    StructField("accept_language", StringType),
    StructField("context", edxContext),
    StructField("time", StringType),
    StructField("page", StringType),
    StructField("event_source", StringType),
    StructField("event_type", StringType),
    StructField("name", StringType),
    StructField("session", StringType),
    StructField("event", StringType)))

  /** The pre-tokenized input table (BASELINE.json input_hint). */
  val inputTable: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)))
}
