package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Lrs, Store}
import graft.sources.Synth

/** End-to-end batch: synth input → pipeline → lake store → LRS query
  * (the reference's POST-then-GET API scenarios, insert → query → compare
  * ordered ids — tests/api/test_statements_get.py:84-120). */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  lazy val storePath: String = {
    val p = tempDir("store")
    Store.write(Pipeline.run(Synth.inputTable(spark, 1500)), p, "overwrite")
    p
  }

  test("pipeline output: all convertible inputs land exactly once") {
    val store = Store.read(spark, storePath)
    val expected = (0L until 1500L).filter(Synth.isConvertible)
      .map(i => graft.functions.Uuid5.uuid5(Synth.UuidNamespace, Synth.edxJson(i)))
      .distinct
    val got = store.select("event_id").as[String].collect()
    assert(got.length === got.distinct.length)
    assert(got.toSet === expected.toSet)
  }

  test("store layout prunes: partitioned by date/source, pushdown columns populated") {
    val store = Store.read(spark, storePath)
    assert(store.columns.toSet.contains("verb_id"))
    // every row has ts, verb, actor account name
    assert(store.filter(col("ts").isNull || col("verb_id").isNull).count() === 0)
    assert(store.filter(col("stmt.actor.account.name").isNull).count() === 0)
    // partition dirs exist (date=...)
    val dirs = new java.io.File(storePath).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("date=")))
  }

  test("GET scenarios over the lake: verb filter + page walk covers exactly the matching set") {
    val store = Store.read(spark, storePath)
    val verb = graft.operators.Convert.Played
    val all = store.filter(col("verb_id") === verb).count()
    assert(all > 0)
    // walk pages of 100 via keyset cursor
    var cursor: Option[Lrs.Cursor] = None
    var seen = Vector.empty[String]
    var done = false
    while (!done) {
      val page = Lrs.statements(store, Lrs.Query(verb = Some(verb), searchAfter = cursor))
        .select(col("ts"), col("event_id"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)))
      seen ++= page.map(_._2)
      cursor = Lrs.nextCursor(page, 0)
      done = cursor.isEmpty
    }
    assert(seen.length.toLong === all)
    assert(seen.distinct.length === seen.length, "pages must not overlap")
  }

  test("pipeline digest equals the sequential generator-derived golden") {
    // anchors the q_pipeline_store VALUES oracle: the distributed
    // validate→convert→dedup plan must reproduce the single-threaded walk
    // over the generator's index rules (PipelineGolden)
    import spark.implicits._
    val got = SparkEntry.queries("q_pipeline_store")(spark, "")
      .as[(String, String, Long, Long)].collect().toSet
    assert(got === PipelineGolden.rows.toSet)
    assert(got.nonEmpty)
  }

  test("enriched statements carry stored/authority and echo the original timestamp") {
    val store = Store.read(spark, storePath)
    val row = store.select(get_json_object(col("event"), "$.stored").as("stored"),
      get_json_object(col("event"), "$.authority.mbox").as("auth"),
      get_json_object(col("event"), "$.timestamp").as("ts0")).limit(5).collect()
    row.foreach { r =>
      assert(r.getString(0) === Pipeline.StoredIso)
      assert(r.getString(1) === "mailto:admin@example.com")
      assert(r.getString(2).endsWith("+00:00")) // byte-exact ISO echo
    }
  }
}
