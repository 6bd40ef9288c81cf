package graft

import org.apache.spark.sql.functions._

import graft.operators.EventOps

class EventOpsSpec extends SparkSuite {
  import spark.implicits._

  test("anonymous filter drops empty usernames (F13, filters.py:8-27)") {
    val df = Seq(("john", 1), ("", 2), (null.asInstanceOf[String], 3)).toDF("username", "v")
    val kept = EventOps.anonymous(df, col("username")).select("v").as[Int].collect()
    assert(kept.toSeq === Seq(1))
  }

  test("CEP funnel: one exchange carries both window passes and the aggregate") {
    val df = EventOps.cepFunnel(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    val nEx = "Exchange".r.findAllIn(plan).length
    assert(nEx === 1, s"expected a single user_id exchange:\n$plan")
    // counts agree with the staged per-event flags
    val staged = EventOps.cepStagedDefault(spark, sf("sf0.01"))
    val qclicks = staged.filter(col("qclick")).count()
    val convs = staged.filter(col("conv")).count()
    val agg = df.agg(sum("n_qclicks"), sum("n_conversions")).as[(Long, Long)].head()
    assert(agg === ((qclicks, convs)))
    assert(convs > 0, "funnel must discriminate at sf0.01")
  }

  test("as-of attribution matches a brute-force recompute; plan has no join operator") {
    val df = EventOps.asofAttribution(spark, sf("sf0.001"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"union+window must not plan a join:\n$plan")
    assert("Exchange".r.findAllIn(plan).length === 1, plan)

    val ev = EventOps.events(spark, sf("sf0.001"))
      .select(col("event_id"), col("ts").cast("timestamp"), col("user_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)].collect()
    val byUser = ev.groupBy(_._3)
    val expected = byUser.values.flatMap { es =>
      val views = es.filter(_._4 == "view").map(e => (e._2.getTime, e._1)).sorted
      es.filter(_._4 == "click").map { c =>
        val prior = views.filter(_._1 <= c._2.getTime)
        val attr = if (prior.isEmpty) None else Some(prior.max)
        (c._1, attr.map(_._2),
          attr.map(v => (c._2.getTime - v._1).toDouble / 1000))
      }
    }.toSeq
    val got = df.select("click_id", "view_id", "lag_sec")
      .as[(Long, Option[Long], Option[Double])].collect()
    assert(got.length === expected.length)
    val em = expected.map(e => e._1 -> e).toMap
    got.foreach { case (cid, vid, lag) =>
      val e = em(cid)
      assert(vid === e._2, s"click $cid")
      (lag, e._3) match {
        // brute force uses ms-truncated getTime; micros live in the oracle
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 2e-3, s"click $cid")
        case (a, b) => assert(a.isEmpty === b.isEmpty, s"click $cid")
      }
    }
    assert(got.exists(_._2.isEmpty), "some clicks must be unattributed")
  }

test("skew audit matches a local recompute and plans no global sort") {
    val out = EventOps.skewAudit(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    val counts = spark.read.parquet(sf() + "/events.parquet")
      .groupBy("user_id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val total = counts.map(_._2).sum
    val nKeys = counts.length.toLong
    val expected = counts.sortBy { case (k, n) => (-n, k) }.take(20).map { case (k, n) =>
      val skew = (n.toDouble * nKeys) / total
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (k, n, r6(n / total.toDouble), r6(skew), math.ceil(skew).toLong)
    }
    assert(out.toSeq === expected.toSeq)
    assert(out.forall(_._5 >= 1L), "salt fan-out must be >= 1")
    // top-N must plan as TakeOrderedAndProject, never a global Sort
    val plan = EventOps.skewAudit(spark, sf()).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("range join: grid plan matches a brute-force theta recompute exactly") {
    val got = EventOps.rangeJoinQuery(spark, sf("sf0.001"))
      .as[(Long, Long, Long)].collect().toSet
    // brute force on the collected event set (sf0.001 is small)
    val ev = EventOps.events(spark, sf("sf0.001"))
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")))
      .as[(Long, Long)].collect()
    val iv = ev.filter(_._1 % 37 == 0)
      .map { case (id, ts) => (id, ts, ts + (id % 7 + 1) * 1800000000L) }
    val want = (for {
      (eid, ts) <- ev; (iid, lo, hi) <- iv
      if ts >= lo && ts <= hi
    } yield (eid, iid, ts - lo)).toSet
    assert(got === want)
    assert(got.nonEmpty, "range join must discriminate at sf0.001")
    // a match meets in exactly one grid cell: no (event, interval) dup rows
    val raw = EventOps.rangeJoinQuery(spark, sf("sf0.001"))
      .groupBy("event_id", "interval_id").count()
      .filter(col("count") > 1).count()
    assert(raw === 0L)
    // intervals genuinely cross 4h cell boundaries in this data (the
    // explode path is exercised, not just the single-cell case)
    val crossing = iv.count { case (_, lo, hi) =>
      lo / 14400000000L != hi / 14400000000L }
    assert(crossing > 0, "fixture must contain cell-crossing intervals")
  }

  test("scd2 islands: brute-force run-length recompute; intervals tile each actor") {
    val got = EventOps.scd2Islands(spark, sf("sf0.001"))
      .as[(Long, Long, String, Long, Long, Long)].collect().toSet
    val ev = EventOps.events(spark, sf("sf0.001"))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .as[(Long, String, Long, Long)].collect()
    val want = ev.groupBy(_._1).flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._4, r._3)) // (us, event_id)
      // run-length encode consecutive equal event_types
      val runs = sorted.foldLeft(List.empty[List[(Long, String, Long, Long)]]) {
        case (acc, r) => acc match {
          case h :: t if h.head._2 == r._2 => (r :: h) :: t
          case _ => List(r) :: acc
        }
      }.reverse
      runs.zipWithIndex.map { case (run, idx) =>
        val us = run.map(_._4)
        (uid, idx + 1L, run.head._2, us.min, us.max, run.size.toLong)
      }
    }.toSet
    assert(got === want)
    // islands tile: per actor, counts sum to the actor's event count and
    // consecutive islands never share an event_type
    val byUser = got.groupBy(_._1)
    val evByUser = ev.groupBy(_._1)
    byUser.foreach { case (uid, is) =>
      assert(is.toSeq.map(_._6).sum === evByUser(uid).size.toLong)
      val ordered = is.toSeq.sortBy(_._2).map(_._3)
      ordered.sliding(2).foreach {
        case Seq(a, b) => assert(a !== b); case _ => ()
      }
    }
  }

  test("cohort retention: offsets non-negative, week-0 dominates every cohort") {
    val rows = EventOps.cohortRetention(spark, sf("sf0.001"))
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, off, n) => assert(off >= 0 && n > 0) }
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, g) =>
      val week0 = g.find(_._2 == 0L)
      assert(week0.isDefined, s"cohort $c lacks week 0")
      // no later week can retain more users than were ever in the cohort
      g.foreach { case (_, _, n) => assert(n <= week0.get._3) }
    }
    // cohort sizes at week 0 partition the user universe
    val users = EventOps.events(spark, sf("sf0.001"))
      .select("user_id").distinct().count()
    assert(byCohort.values.map(_.find(_._2 == 0L).get._3).sum === users)
  }
}
