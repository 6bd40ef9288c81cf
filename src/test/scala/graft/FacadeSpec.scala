package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Lrs
import graft.sources.{FsJsonl, Synth}

/** The CLI-pipeline facade end-to-end, mirroring the reference's
  * `ralph read | extract | validate | convert | write` round-trip
  * (tests/test_cli.py). */
class FacadeSpec extends SparkSuite {
  import spark.implicits._

  test("read | extract gelf | validate | convert | write round-trips") {
    val g = Graft(spark)
    val dir = tempDir("cli")
    // GELF log lines wrapping edX events (parsers.py:28-61 shape)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val gelfLines = (0L until 60L).map { i =>
      s"""{"version": "1.1", "short_message": ${mapper.writeValueAsString(Synth.edxJson(i))}}"""
    }
    FsJsonl.write(gelfLines.toDF("raw"), "raw", s"$dir/logs", FsJsonl.Create)

    val events = g.extract(g.read(s"$dir/logs"), "gelf")
    val converted = g.convert(g.validate(events))
    g.write(converted, s"$dir/statements", FsJsonl.Create)

    val back = g.read(s"$dir/statements").as[String].collect()
    val expected = (0L until 60L).count(Synth.isConvertible)
    assert(back.length === expected)
    back.foreach(l => assert(mapper.readTree(l).get("id") != null))

    // ingest into a lake store and query it
    g.ingest(converted.withColumn("source", lit("cli")), s"$dir/store",
      "2024-06-01T00:00:00.000000+00:00")
    val page = g.statements(s"$dir/store", Lrs.Query(limit = 10))
    assert(page.count() > 0 && page.count() <= 10)
  }

  test("validate -f xapi filters invalid statements") {
    val g = Graft(spark)
    val good = """{"actor": {"mbox": "mailto:a@x.io"}, "verb": {"id": "http://id.tincanapi.com/verb/viewed"}, "object": {"id": "act://1", "definition": {"type": "http://activitystrea.ms/schema/1.0/page"}}}"""
    val bad = """{"actor": {"mbox": "nope"}, "verb": {"id": "http://id.tincanapi.com/verb/viewed"}, "object": {"id": "act://1", "definition": {"type": "http://activitystrea.ms/schema/1.0/page"}}}"""
    val out = g.validateXapi(Seq(good, bad).toDF("raw"))
    assert(out.count() === 1)
  }

  test("readLdp reads a gz archive once") {
    val g = Graft(spark)
    val dir = tempDir("graft-fldp")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/archive-1.gz"))
    out.write("{\"id\": 1}\n{\"id\": 2}".getBytes("UTF-8")); out.close()
    val hist = tempDir("graft-fldph") + "/history"
    assert(g.readLdp(dir, hist).as[String].collect().toSet ===
      Set("""{"id": 1}""", """{"id": 2}"""))
    assert(g.readLdp(dir, hist).count() === 0)
  }

  test("zorderWrite | readPruned facade round-trip") {
    val g = Graft(spark)
    val dir = tempDir("graft-fzo")
    try {
      val df = (0L until 2000L).map(i => (i, i % 97L, (i * 31L) % 1009L))
        .toDF("id", "a", "b")
      val zm = g.zorderWrite(df, Seq("a", "b"), dir, numFiles = 8)
      assert(zm.filesTotal <= 8 && zm.files.map(_._2).sum === 2000L)
      val got = g.readPruned(dir, Map("a" -> ((10L, 20L)), "b" -> ((0L, 500L))))
        .filter(col("a").between(10L, 20L) && col("b").between(0L, 500L))
        .count()
      val want = df.filter(col("a").between(10L, 20L) && col("b").between(0L, 500L))
        .count()
      assert(got === want && want > 0L)
    } finally graft.operators.LayoutOps.deleteTree(java.nio.file.Paths.get(dir))
  }
}
