package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Lrs, Store}

/** GET /xAPI/statements scenarios ported from
  * /root/reference/tests/api/test_statements_get.py (default desc order
  * 254-279, ascending 339, by id 368, by agent 407, by verb 451, by
  * activity 482, since exclusive 516-543, until inclusive 546-573,
  * pagination 576-717, no-match 718). */
class LrsSpec extends SparkSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  // two statements 1h apart + more, mirroring the reference fixtures
  private def mkStmt(id: String, ts: String, verb: String, activity: String,
                     actorName: String, extra: String = ""): String =
    s"""{"id": "$id", "actor": {"objectType": "Agent", "account": {"name": "$actorName", "homePage": "https://lms.example.com"}}, """ +
    s""""verb": {"id": "$verb"}, "object": {"id": "$activity", "objectType": "Activity"}, """ +
    s""""timestamp": "$ts", "stored": "2024-06-01T00:00:00+00:00"$extra}"""

  val Played = "https://w3id.org/xapi/video/verbs/played"
  val Viewed = "http://id.tincanapi.com/verb/viewed"

  lazy val store: DataFrame = {
    val stmts = Seq(
      mkStmt("00000000-0000-0000-0000-000000000001", "2024-01-01T10:00:00+00:00", Played, "act://a1", "alice"),
      mkStmt("00000000-0000-0000-0000-000000000002", "2024-01-01T11:00:00+00:00", Viewed, "act://a2", "bob"),
      mkStmt("00000000-0000-0000-0000-000000000003", "2024-01-01T12:00:00+00:00", Played, "act://a1", "alice"),
      mkStmt("00000000-0000-0000-0000-000000000004", "2024-01-01T12:00:00+00:00", Viewed, "act://a3", "carol"),
      // related_agents target: instructor match
      mkStmt("00000000-0000-0000-0000-000000000005", "2024-01-01T13:00:00+00:00", Viewed, "act://a2", "bob",
        """, "context": {"instructor": {"objectType": "Agent", "mbox": "mailto:teacher@example.com"}, "contextActivities": {"parent": [{"id": "act://parent1"}]}}"""),
      // SubStatement whose inner actor is dave
      mkStmt("00000000-0000-0000-0000-000000000006", "2024-01-01T14:00:00+00:00", Played, "act://sub", "alice",
        "").replace(""""object": {"id": "act://sub", "objectType": "Activity"}""",
        """"object": {"objectType": "SubStatement", "actor": {"objectType": "Agent", "mbox": "mailto:dave@example.com"}, "verb": {"id": "v://x"}, "object": {"id": "act://inner"}}"""))
    Store.project(stmts.toDF("xapi").withColumn("source", lit("test")), "xapi").cache()
  }

  private def ids(df: DataFrame): Seq[String] =
    df.select("event_id").as[String].collect().toSeq

  test("default order is timestamp desc with id tiebreak (O1)") {
    val got = ids(Lrs.statements(store, Lrs.Query()))
    assert(got === Seq(6, 5, 4, 3, 2, 1).map(i => f"00000000-0000-0000-0000-${i}%012d"))
  }

  test("ascending=true flips the order") {
    val got = ids(Lrs.statements(store, Lrs.Query(ascending = true)))
    assert(got === Seq(1, 2, 3, 4, 5, 6).map(i => f"00000000-0000-0000-0000-${i}%012d"))
  }

  test("by statementId (F1) and exclusivity rule") {
    val got = ids(Lrs.statements(store, Lrs.Query(statementId = Some("00000000-0000-0000-0000-000000000002"))))
    assert(got === Seq("00000000-0000-0000-0000-000000000002"))
    intercept[IllegalArgumentException] {
      Lrs.statements(store, Lrs.Query(statementId = Some("x"), verb = Some(Played)))
    }
  }

  test("by agent account IFI (F2): both name and homePage must match") {
    val got = ids(Lrs.statements(store,
      Lrs.Query(agent = Some(Lrs.Agent(accountName = Some("alice"),
        accountHomePage = Some("https://lms.example.com"))))))
    assert(got.toSet === Set("00000000-0000-0000-0000-000000000001",
      "00000000-0000-0000-0000-000000000003", "00000000-0000-0000-0000-000000000006"))
    val none = ids(Lrs.statements(store,
      Lrs.Query(agent = Some(Lrs.Agent(accountName = Some("alice"),
        accountHomePage = Some("https://other.example.com"))))))
    assert(none.isEmpty)
  }

  test("related_agents matches instructor and SubStatement actor (F4)") {
    val teacher = Lrs.Agent(mbox = Some("mailto:teacher@example.com"))
    assert(ids(Lrs.statements(store, Lrs.Query(agent = Some(teacher), relatedAgents = true)))
      === Seq("00000000-0000-0000-0000-000000000005"))
    assert(ids(Lrs.statements(store, Lrs.Query(agent = Some(teacher)))).isEmpty)
    val dave = Lrs.Agent(mbox = Some("mailto:dave@example.com"))
    assert(ids(Lrs.statements(store, Lrs.Query(agent = Some(dave), relatedAgents = true)))
      === Seq("00000000-0000-0000-0000-000000000006"))
  }

  test("by verb (F5)") {
    val got = ids(Lrs.statements(store, Lrs.Query(verb = Some(Played))))
    assert(got === Seq("00000000-0000-0000-0000-000000000006",
      "00000000-0000-0000-0000-000000000003", "00000000-0000-0000-0000-000000000001"))
  }

  test("by activity (F6) only matches Activity objects; related_activities (F7) searches context") {
    assert(ids(Lrs.statements(store, Lrs.Query(activity = Some("act://a1"))))
      === Seq("00000000-0000-0000-0000-000000000003", "00000000-0000-0000-0000-000000000001"))
    // parent context activity only reachable via related_activities
    assert(ids(Lrs.statements(store, Lrs.Query(activity = Some("act://parent1")))).isEmpty)
    assert(ids(Lrs.statements(store, Lrs.Query(activity = Some("act://parent1"), relatedActivities = true)))
      === Seq("00000000-0000-0000-0000-000000000005"))
    // SubStatement inner object id
    assert(ids(Lrs.statements(store, Lrs.Query(activity = Some("act://inner"), relatedActivities = true)))
      === Seq("00000000-0000-0000-0000-000000000006"))
  }

  test("since is strictly exclusive (F8), until inclusive (F9)") {
    val got = ids(Lrs.statements(store, Lrs.Query(
      since = Some("2024-01-01T11:00:00+00:00"), until = Some("2024-01-01T12:00:00+00:00"),
      ascending = true)))
    // 11:00 excluded, 12:00 included (both statements at 12:00)
    assert(got === Seq("00000000-0000-0000-0000-000000000003", "00000000-0000-0000-0000-000000000004"))
  }

  test("keyset pagination (F11): cursor pages are disjoint, ordered, complete") {
    val page1 = Lrs.statements(store, Lrs.Query(limit = 2))
      .select(col("ts"), col("event_id")).as[(Timestamp, String)].collect()
    val cursor = Lrs.nextCursor(page1.map(p => (p._1, p._2)), 2)
    assert(cursor.isDefined)
    val page2 = ids(Lrs.statements(store, Lrs.Query(limit = 2, searchAfter = cursor)))
    assert(page1.map(_._2).toSeq === Seq("00000000-0000-0000-0000-000000000006",
      "00000000-0000-0000-0000-000000000005"))
    assert(page2 === Seq("00000000-0000-0000-0000-000000000004",
      "00000000-0000-0000-0000-000000000003"))
    // tiebreak page boundary: ids 4 and 3 share ts 12:00 — keyset must not
    // skip or duplicate at the boundary
    val page3 = ids(Lrs.statements(store, Lrs.Query(limit = 2,
      searchAfter = Some(Lrs.Cursor(Timestamp.valueOf("2024-01-01 12:00:00"),
        "00000000-0000-0000-0000-000000000004")))))
    assert(page3 === Seq("00000000-0000-0000-0000-000000000003",
      "00000000-0000-0000-0000-000000000002"))
  }

  test("limit clamp: limit=0 means server max (O2)") {
    assert(Lrs.statements(store, Lrs.Query(limit = 0)).count() === 6)
    assert(Lrs.statements(store, Lrs.Query(limit = 3)).count() === 3)
    assert(Lrs.statements(store, Lrs.Query(limit = 1000)).count() === 6)
  }

  test("by registration (F10) and non-UTC timestamp offsets normalize for compare") {
    import org.apache.spark.sql.functions.{col, lit}
    val reg = "01234567-0000-0000-0000-00000000abcd"
    val s1 = mkStmt("00000000-0000-0000-0000-0000000000aa", "2024-01-01T12:00:00+02:00",
      Played, "act://r", "erin",
      s""", "context": {"registration": "$reg"}""")
    val st = Store.project(Seq(s1).toDF("xapi").withColumn("source", lit("t")), "xapi")
    assert(Lrs.statements(st, Lrs.Query(registration = Some(reg))).count() === 1)
    assert(Lrs.statements(st, Lrs.Query(registration = Some("other"))).count() === 0)
    // +02:00 normalizes to a 10:00 UTC instant; original string survives
    val row = st.select(col("ts").cast("string"), col("event")).first()
    assert(row.getString(0).startsWith("2024-01-01 10:00:00"))
    assert(row.getString(1).contains("+02:00")) // byte-exact echo
  }

  test("400 rules: unknown params, statementId ⊥ voidedStatementId (F14)") {
    Lrs.validateParams(Seq("verb", "since", "limit")) // ok
    intercept[IllegalArgumentException](Lrs.validateParams(Seq("verb", "typo_param")))
    intercept[IllegalArgumentException] {
      Lrs.statements(store, Lrs.Query(statementId = Some("a"), voidedStatementId = Some("b")))
    }
    intercept[IllegalArgumentException] {
      Lrs.statements(store, Lrs.Query(statementId = Some("a"), since = Some("2024-01-01")))
    }
  }

  test("no-match returns empty, not error") {
    assert(Lrs.statements(store, Lrs.Query(verb = Some("v://nope"))).count() === 0)
  }

  test("related_activities: array_contains keeps the rows of the exists form; the lake scan reads only list ids, vectorized") {
    def withCa(id: String, obj: String, ca: String) =
      mkStmt(id, "2024-02-01T10:00:00+00:00", Played, "act://unused", "zed",
        if (ca.isEmpty) "" else s""", "context": {"contextActivities": $ca}""")
        .replace(""""object": {"id": "act://unused", "objectType": "Activity"}""", s""""object": $obj""")
    def id(i: Int) = f"00000000-0000-0000-0000-1000000000$i%02d"
    val act = (a: String) => s"""{"id": "$a", "objectType": "Activity"}"""
    val stmts = Seq(
      withCa(id(1), act("act://a"), ""), // no context at all
      withCa(id(2), act("act://b"), """{"parent": null, "grouping": null}"""), // null lists
      withCa(id(3), act("act://b"), """{"parent": [null, {"id": "act://p"}], "other": [null]}"""), // null elements
      withCa(id(4), act("act://c"), """{"grouping": [{"objectType": "Activity"}, {"id": "act://g"}]}"""), // null ids
      withCa(id(5), act("act://c"), """{"category": [{"objectType": "Activity"}], "other": [{"id": "act://a"}]}"""),
      withCa(id(6), """{"objectType": "SubStatement", "actor": {"mbox": "mailto:s@x"}, "verb": {"id": "v://x"}, "object": {"id": "act://p"}}""",
        """{"parent": [{"id": "act://g"}]}"""), // SubStatement
      withCa(id(7), """{"objectType": "Agent", "mbox": "mailto:agent@x"}""", """{"other": [null, {"id": "act://b"}]}"""), // Agent object
      withCa(id(8), """{"objectType": "Agent", "mbox": "mailto:agent@x"}""", ""),
      withCa(id(9), """{"objectType": "SubStatement", "actor": {"mbox": "mailto:s@x"}, "verb": {"id": "v://x"}, "object": {"objectType": "Agent", "mbox": "mailto:t@x"}}""",
        """{"parent": [], "grouping": [null]}"""))
    val rows = Store.project(stmts.toDF("xapi").withColumn("source", lit("t")), "xapi")
    val lake = tempDir("graft-lrs-related")
    try {
      val sink = new graft.streaming.LakeSink(lake)
      sink.addBatch(0L, rows)
      // the predicate before array_contains, kept here as the reference
      def existsForm(a: String) = {
        val st = col("stmt")
        val ca = st.getField("context").getField("contextActivities")
        val inList = Seq("parent", "grouping", "category", "other").map { f =>
          exists(coalesce(ca.getField(f), array()), x => x.getField("id") === a)
        }.reduce(_ || _)
        val obj = st.getField("object")
        obj.getField("id") === a || inList ||
          (obj.getField("objectType") === "SubStatement" && obj.getField("object").getField("id") === a)
      }
      val want = Map("act://a" -> Set(1, 5), "act://b" -> Set(2, 3, 7), "act://p" -> Set(3, 6),
        "act://g" -> Set(4, 6), "act://c" -> Set(4, 5), "act://none" -> Set.empty[Int])
      want.foreach { case (a, expected) =>
        val q = Lrs.Query(activity = Some(a), relatedActivities = true)
        val ref = sink.read(spark).filter(existsForm(a)).select("event_id").as[String].collect().toSet
        assert(ref === expected.map(id), a)
        assert(ids(Lrs.statements(sink.read(spark), q)).toSet === ref, a)
        assert(ids(Lrs.statements(rows, q)).toSet === ref, a)
      }
      // the GET's scan: vectorized, reading `id` alone under each list
      val page = Lrs.statements(sink.read(spark), Lrs.Query(activity = Some("act://g"), relatedActivities = true))
        .select("ts", "event_id", "event")
      page.collect()
      val scans = collect(page.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.size === 1)
      assert(scans.head.metadata("Batched") === "true", scans.head.metadata)
      import org.apache.spark.sql.types.{ArrayType, StructType}
      def struct(t: StructType, f: String) = t(f).dataType.asInstanceOf[StructType]
      val ca = struct(struct(struct(scans.head.requiredSchema, "stmt"), "context"), "contextActivities")
      assert(ca.fieldNames.toSeq === Seq("parent", "grouping", "category", "other"))
      ca.fields.foreach { f =>
        assert(f.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType].fieldNames.toSeq ===
          Seq("id"), scans.head.metadata("ReadSchema"))
      }
    } finally graft.operators.LayoutOps.deleteTree(java.nio.file.Paths.get(lake))
  }
}
