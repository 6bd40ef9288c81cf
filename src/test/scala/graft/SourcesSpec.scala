package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Extract, Ingest, Store, Enrich}
import graft.sources.{FsJsonl, History}

/** FS JSONL backend (S1/S2), extract parsers (S15/S16), history ledger
  * (S17), PUT semantics — reference contract tests
  * (tests/backends/data/test_fs.py, tests/test_parsers.py). */
class SourcesSpec extends SparkSuite {
  import spark.implicits._

  test("FS JSONL round-trip preserves raw lines; CREATE fails if target exists") {
    val dir = tempDir("jsonl") + "/out"
    val lines = Seq("""{"id": 1, "custom": {"x": [1,2]}}""", """{"id": 2}""")
    FsJsonl.write(lines.toDF("raw"), "raw", dir, FsJsonl.Create)
    val back = FsJsonl.read(spark, dir).as[String].collect().toSet
    assert(back === lines.toSet) // byte-exact lax passthrough
    intercept[IllegalStateException] {
      FsJsonl.write(lines.toDF("raw"), "raw", dir, FsJsonl.Create) // fs.py:300-309
    }
    FsJsonl.write(Seq("""{"id": 3}""").toDF("raw"), "raw", dir, FsJsonl.Append)
    assert(FsJsonl.read(spark, dir).count() === 3)
    FsJsonl.write(Seq("""{"id": 9}""").toDF("raw"), "raw", dir, FsJsonl.Update)
    assert(FsJsonl.read(spark, dir).as[String].collect().toSeq === Seq("""{"id": 9}"""))
  }

  test("FS read skips invalid lines (ignore_errors) and honors max_statements (O4)") {
    val dir = tempDir("jsonl2") + "/out"
    FsJsonl.write(Seq("""{"a": 1}""", "not json", """{"b": 2}""", """{"c": 3}""")
      .toDF("raw"), "raw", dir, FsJsonl.Create)
    assert(FsJsonl.read(spark, dir).count() === 3)
    assert(FsJsonl.read(spark, dir, maxStatements = Some(2)).count() === 2)
  }

  test("GELF extract takes short_message; ES-dump extract takes _source (S15/S16)") {
    val gelf = Seq(
      """{"version": "1.1", "short_message": "{\"event_type\": \"x\"}"}""",
      """{"no_message": true}""").toDF("line")
    val out = Extract.gelf(gelf, col("line")).select("event_str").as[String].collect()
    assert(out.toSeq === Seq("""{"event_type": "x"}"""))

    val dump = Seq("""{"_index": "i", "_source": {"id": "s1"}}""").toDF("line")
    val out2 = Extract.esDump(dump, col("line")).select("event_str").as[String].collect()
    assert(out2.length === 1 && out2.head.contains("\"s1\""))
  }

  test("history ledger: new containers = anti-join against processed set (S17)") {
    val path = tempDir("hist") + "/history"
    History.record(spark, path, Seq("f1", "f2"))
    val listing = Seq("f1", "f2", "f3").toDF("container")
    val fresh = History.onlyNew(listing, History.read(spark, path)).as[String].collect()
    assert(fresh.toSeq === Seq("f3"))
    History.record(spark, path, Seq("f3"))
    assert(History.onlyNew(listing, History.read(spark, path)).count() === 0)
  }

  test("LDP archive source (S11): gz archives read natively, history-gated") {
    import java.util.zip.GZIPOutputStream
    val dir = tempDir("ldp")
    def gz(name: String, lines: Seq[String]): Unit = {
      val out = new GZIPOutputStream(new java.io.FileOutputStream(s"$dir/$name"))
      out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    }
    gz("archive-1.gz", Seq("""{"id": 1}""", """{"id": 2}"""))
    gz("archive-2.gz", Seq("""{"id": 3}"""))
    val hist = tempDir("ldph") + "/history"
    // first consumption: both archives decoded end-to-end
    val first = graft.sources.Ldp.readNew(spark, dir, hist)
    assert(first.as[String].collect().toSet ===
      Set("""{"id": 1}""", """{"id": 2}""", """{"id": 3}"""))
    // second consumption: nothing new (ldp read-once semantics via S17)
    assert(graft.sources.Ldp.readNew(spark, dir, hist).count() === 0)
    // a new archive arrives → only it is read
    gz("archive-3.gz", Seq("""{"id": 4}"""))
    assert(graft.sources.Ldp.readNew(spark, dir, hist).as[String].collect().toSeq
      === Seq("""{"id": 4}"""))
  }

  test("LDP maxStatements: a truncated archive is NOT marked consumed (no row loss)") {
    import java.util.zip.GZIPOutputStream
    val dir = tempDir("ldptrunc")
    def gz(name: String, lines: Seq[String]): Unit = {
      val out = new GZIPOutputStream(new java.io.FileOutputStream(s"$dir/$name"))
      out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    }
    gz("big.gz", (1 to 10).map(i => s"""{"id": $i}"""))
    val hist = tempDir("ldpth") + "/history"
    // limit cuts the only archive short → the ledger must stay empty, and
    // the next unlimited poll must deliver ALL rows (reference semantics:
    // the read entry lands only after an archive is fully streamed)
    val partial = graft.sources.Ldp.readNew(spark, dir, hist, maxStatements = Some(3))
    assert(partial.count() === 3)
    val rest = graft.sources.Ldp.readNew(spark, dir, hist)
    assert(rest.count() === 10, "truncated archive must be re-readable in full")
    // now fully consumed → recorded
    assert(graft.sources.Ldp.readNew(spark, dir, hist).count() === 0)
  }

  test("object-store conf path (S9/S10): s3a/swift settings land in hadoopConfiguration") {
    graft.sources.ObjectStore.configureS3a(spark, "https://s3.example.com", "AK", "SK")
    val c = spark.sparkContext.hadoopConfiguration
    assert(c.get("fs.s3a.endpoint") === "https://s3.example.com")
    assert(c.get("fs.s3a.path.style.access") === "true")
    graft.sources.ObjectStore.configureSwift(spark, "svc",
      "https://auth.example.com", "u", "p", "t")
    assert(c.get("fs.swift.service.svc.auth.url") === "https://auth.example.com")
  }

  test("PUT: new id writes, equivalent no-ops, different content conflicts") {
    val s = """{"id": "22222222-0000-0000-0000-000000000001", "actor": {"mbox": "mailto:a@x.io"}, "verb": {"id": "v://1"}, "object": {"id": "act://1"}}"""
    val store = Store.project(
      Enrich(Seq(s).toDF("xapi").withColumn("source", lit("t")), "xapi",
        "2024-06-01T00:00:00.000000+00:00"), "xapi")
    assert(Ingest.put(store, s, "22222222-0000-0000-0000-000000000009") === ((true, false)))
    assert(Ingest.put(store, s, "22222222-0000-0000-0000-000000000001") === ((false, false)))
    val conflicting = s.replace("v://1", "v://other")
    assert(Ingest.put(store, conflicting, "22222222-0000-0000-0000-000000000001") === ((false, true)))
  }
}
