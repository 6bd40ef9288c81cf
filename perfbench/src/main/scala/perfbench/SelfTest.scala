package perfbench

import graft.operators.Lrs
import graft.sources.Synth

/** The benchmark's own tests (no Spark needed): seeded inputs are
  * reproducible, the percentile rule holds, metric names are well formed,
  * and each output check rejects a mutated output. Prints one line per
  * test, then the metric catalogue as JSON for `run.py` to compare with
  * `BENCHMARK.json`. Exits non-zero on any failure. */
object SelfTest {

  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  error: $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // ---- seeded inputs ---------------------------------------------------
    val l7 = Inputs.layout("x", 7L, 2000L, 8)
    test("same seed gives an identical statement digest") {
      Inputs.statementDigest(l7) == Inputs.statementDigest(Inputs.layout("y", 7L, 2000L, 8))
    }
    test("another seed gives another statement digest") {
      Inputs.statementDigest(l7) != Inputs.statementDigest(Inputs.layout("x", 8L, 2000L, 8))
    }
    test("same seed gives an identical document digest") {
      Inputs.docDigest(7L, 20, 4, 4) == Inputs.docDigest(7L, 20, 4, 4)
    }
    test("another seed gives another document digest") {
      Inputs.docDigest(7L, 20, 4, 4) != Inputs.docDigest(8L, 20, 4, 4)
    }
    test("the query mix is a pure function of the seed") {
      val rows = (0 until 50).map(i => Checks.Row(s"id$i", i * 1000L, s"v${i % 3}", s"u${i % 5}",
        Synth.PlatformUrl, Seq(s"o${i % 7}", "cat")))
      Queries.pass(3L, rows) == Queries.pass(3L, rows) && Queries.pass(3L, rows) != Queries.pass(4L, rows)
    }

    // ---- percentile rule ---------------------------------------------------
    test("p90 needs 100 samples") {
      Stats.samplesNeeded(0.9) == 100 &&
        Stats.percentile((1 to 99).map(_.toDouble), 0.9).isEmpty &&
        Stats.percentile((1 to 100).map(_.toDouble), 0.9).contains(90.0)
    }
    test("at least 10 samples lie beyond a reported percentile") {
      Seq(100, 101, 137, 250).forall { n =>
        val xs = (1 to n).map(i => ((i * 7919) % n).toDouble)
        Stats.beyond(xs, 0.9) >= Stats.MinTail
      } && Stats.percentile((1 to 20).map(_.toDouble), 0.5).isDefined
    }
    test("median of an even sample is the mean of the middle pair") {
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }

    // ---- metric names --------------------------------------------------------
    val nameRe = "[A-Za-z0-9_.-]+".r
    val names = Catalog.PerLayer.map(_.name) ++ Catalog.LayerTimes.map(_.name) ++ Catalog.EndToEnd.map(_._1)
    test("metric names match [A-Za-z0-9_.-]+ and are unique") {
      names.forall(n => nameRe.matches(n) && n.length <= 64 && n.head.isLetterOrDigit) &&
        names.distinct.size == names.size
    }

    // ---- one mutation per checker ----------------------------------------------
    val small = Inputs.layout("x", 11L, 600L, 4)
    val ids = Checks.expectedIds(small).toSeq.sorted
    test("ingest_lake check passes the expected ids") {
      Checks.lakeIds(ids.toSet, ids).isEmpty
    }
    test("ingest_lake check fails when one committed row is dropped") {
      Checks.lakeIds(ids.toSet, ids.tail).nonEmpty
    }
    test("ingest_lake check fails when a row is committed twice") {
      Checks.lakeIds(ids.toSet, ids :+ ids.head).nonEmpty
    }

    val evs = Checks.expectedEvents(Inputs.layout("x", 11L, 6000L, 4)) // 3.3 h of event time
    val wm = evs.map(_.tsMs).max - 600000L
    val sessions = Checks.sessionize(evs, graft.streaming.Sessionize.DefaultGapMs, wm)
    test("ingest_sessions check passes the sequential sessions") {
      sessions.nonEmpty && Checks.sessions(sessions, sessions.toSeq).isEmpty
    }
    test("ingest_sessions check fails when one session is dropped") {
      Checks.sessions(sessions, sessions.toSeq.tail).nonEmpty
    }
    test("ingest_sessions check fails when a session count is off by one") {
      val s = sessions.head
      Checks.sessions(sessions, sessions.toSeq.tail :+ s.copy(n = s.n + 1)).nonEmpty
    }
    test("sessions still open at the watermark are not expected") {
      Checks.sessionize(evs, graft.streaming.Sessionize.DefaultGapMs, Long.MinValue).size <
        Checks.sessionize(evs, graft.streaming.Sessionize.DefaultGapMs, Long.MaxValue).size
    }

    val table = (0 until 300).map(i => Checks.Row(f"id$i%04d", 1000000L * (i / 2), s"v${i % 3}",
      s"u${i % 5}", Synth.PlatformUrl, Seq(s"o${i % 7}", "cat")))
    val q = Lrs.Query(verb = Some("v1"), limit = 20)
    val page = Checks.page(table, q, Queries.parse)
    test("lrs_read oracle sorts by (ts, id) descending and clamps the limit") {
      page.size == 20 && page == page.sorted(Ordering[(Long, String)].reverse) &&
        Checks.page(table, Lrs.Query(), Queries.parse).size == Lrs.MaxHits
    }
    test("lrs_read check passes the oracle page") {
      Checks.pages("p", page, page).isEmpty
    }
    test("lrs_read check fails when one row of a page is dropped") {
      Checks.pages("p", page, page.tail).nonEmpty
    }
    test("lrs_read check fails when two rows of a page swap") {
      Checks.pages("p", page, page(1) +: page.head +: page.drop(2)).nonEmpty
    }
    test("lrs_read keyset cursor continues strictly after the last row") {
      val last = page.last
      val ts = new java.sql.Timestamp(last._1 / 1000)
      val next = Checks.page(table, q.copy(searchAfter = Some(Lrs.Cursor(ts, last._2))), Queries.parse)
      next.nonEmpty && next.forall(r => Ordering[(Long, String)].lt(r, last))
    }

    val groups = Inputs.baseIds(5L, 10).map(b => (0 until 4).map(b + _ * Inputs.ReplicaStride))
    val labels = groups.flatMap(g => g.map(_ -> g.head)).toMap
    test("dedup_maint check passes when every group shares one label") {
      Checks.replicaGroups(groups, labels).isEmpty
    }
    test("dedup_maint check fails when one replica gets another label") {
      val d = groups.head.last
      Checks.replicaGroups(groups, labels.updated(d, d)).nonEmpty
    }
    test("dedup_maint check fails when one replica is unlabeled") {
      Checks.replicaGroups(groups, labels - groups.head.last).nonEmpty
    }

    println(Json.obj(Seq(
      "per_layer" -> Catalog.PerLayer.map(x => Map("name" -> x.name, "unit" -> x.unit)),
      "end_to_end" -> Catalog.EndToEnd.map { case (n, u) => Map("name" -> n, "unit" -> u) },
      "workloads" -> Workloads.Benchmarked)))
    if (failures > 0) {
      System.err.println(s"$failures self-test(s) failed")
      sys.exit(1)
    }
  }
}
