package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{InputRow, Synth}
import graft.streaming.{LakeSink, Sessionize, StreamPipeline}

/** Streaming semantics (SURVEY.md §2.10 / north rule): watermarked dedup,
  * stateful sessionization, windowed counts, stream-stream join,
  * exactly-once sink, checkpoint resume. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._
  implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def inputRows(from: Long, until: Long): Seq[InputRow] =
    (from until until).map { i =>
      val toks = graft.functions.TokenCodec.encodeString(Synth.edxJson(i))
      InputRow(Synth.docId(i), toks, toks.length, Synth.sourceOf(i))
    }

  test("end-to-end stream: validate → convert → dedup → exactly-once lake sink") {
    val mem = MemoryStream[InputRow]
    val sinkPath = tempDir("lake")
    val cp = tempDir("cp")
    mem.addData(inputRows(0, 400): _*)
    val q = StreamPipeline.run(mem.toDF(), sinkPath, cp)
    q.processAllAvailable(); q.stop()

    val sink = new LakeSink(sinkPath)
    val got = sink.read(spark)
    // expected: valid rows, minus duplicate doc-ids (dups carry identical payloads)
    // pipeline ids are uuid5(ns, raw_event) — converter D1 semantics
    val expectedIds = (0L until 400L)
      .filter(Synth.isConvertible)
      .map(i => graft.functions.Uuid5.uuid5(Synth.UuidNamespace, Synth.edxJson(i)))
      .distinct
    assert(got.select("event_id").as[String].collect().toSet === expectedIds.toSet)
    // lineage columns present on every row
    assert(got.filter(col("_batch_id").isNull || col("_part_id").isNull).count() === 0)
  }

  test("checkpoint resume: kill mid-stream, restart — no loss, no duplicates") {
    val mem = MemoryStream[InputRow]
    val sinkPath = tempDir("lake")
    val cp = tempDir("cp")
    mem.addData(inputRows(0, 200): _*)
    val q1 = StreamPipeline.run(mem.toDF(), sinkPath, cp)
    q1.processAllAvailable(); q1.stop() // "crash" after batch committed

    mem.addData(inputRows(200, 400): _*)
    val q2 = StreamPipeline.run(mem.toDF(), sinkPath, cp) // same checkpoint
    q2.processAllAvailable(); q2.stop()

    val got = new LakeSink(sinkPath).read(spark).select("event_id").as[String].collect()
    val expected = (0L until 400L)
      .filter(Synth.isConvertible)
      .map(i => graft.functions.Uuid5.uuid5(Synth.UuidNamespace, Synth.edxJson(i)))
      .distinct
    assert(got.length === got.distinct.length, "duplicated rows after resume")
    assert(got.toSet === expected.toSet, "lost or extra rows after resume")
  }

  test("lake sink replays are idempotent (batch-level exactly-once)") {
    val sinkPath = tempDir("lake")
    val sink = new LakeSink(sinkPath)
    val df = Seq(("a", 1), ("b", 2)).toDF("event_id", "v")
    assert(sink.addBatch(7, df))
    assert(!sink.addBatch(7, df)) // replay of committed batch → skipped
    assert(sink.read(spark).count() === 2)
    assert(sink.committedBatches() === Set(7L))
    // per-partition metrics emitted with the commit (north rule)
    val m = sink.metrics()
    assert(m.length === 1 && m.head.contains("\"batch\": 7") && m.head.contains("\"rows\""))
  }

  test("late rows beyond the watermark still land in the lake (no silent drop)") {
    val mem = MemoryStream[InputRow]
    val sinkPath = tempDir("lake")
    val sink = new LakeSink(sinkPath)
    val q = StreamPipeline.toLake(StreamPipeline.statements(mem.toDF()), sink,
      tempDir("cplate"), trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
    // rows 100000+ carry far-future event times → advance the watermark way
    // past the event times of rows 0..49
    mem.addData(inputRows(100000, 100050): _*)
    q.processAllAvailable()
    // now deliver "late" rows (event time far before the watermark),
    // including a duplicate pair (isDup index 13)
    mem.addData(inputRows(0, 50): _*)
    q.processAllAvailable()
    q.stop()
    val got = sink.read(spark).select("event_id").as[String].collect()
    val expectedLate = (0L until 50L).filter(Synth.isConvertible)
      .map(i => graft.functions.Uuid5.uuid5(Synth.UuidNamespace, Synth.edxJson(i))).distinct
    assert(expectedLate.forall(got.contains), "late rows were silently dropped")
    assert(got.length === got.distinct.length, "late duplicates leaked past the merge sink")
  }

  test("deduped drops rows older than the watermark and counts them on the dedup operator") {
    val mem = MemoryStream[InputRow]
    val q = StreamPipeline.deduped(StreamPipeline.statements(mem.toDF())).select("id")
      .writeStream.format("memory").queryName("deduped_late")
      .option("checkpointLocation", tempDir("cpdeduplate"))
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // far-future rows advance the watermark past rows 0..49's event times
      mem.addData(inputRows(100000, 100050): _*)
      q.processAllAvailable()
      mem.addData(inputRows(0, 50): _*)
      q.processAllAvailable()
      val got = spark.table("deduped_late").as[String].collect().toSet
      val late = (0L until 50L).filter(Synth.isConvertible)
      val lateIds = late.map(i => graft.functions.Uuid5.uuid5(Synth.UuidNamespace, Synth.edxJson(i)))
      assert(lateIds.nonEmpty && !lateIds.exists(got.contains), "late rows passed the dedup")
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .filter(_.operatorName == "dedupeWithinWatermark").map(_.numRowsDroppedByWatermark).sum
      assert(dropped === late.size.toLong)
    } finally q.stop()
  }

  test("forwarding tees statements to a downstream store after the primary write") {
    val mem = MemoryStream[InputRow]
    val primary = new LakeSink(tempDir("primary"))
    val forward = new LakeSink(tempDir("forward"))
    val q = StreamPipeline.toLakeWithForward(
      StreamPipeline.statements(mem.toDF()), primary, forward, tempDir("cpfwd"),
      trigger = Trigger.ProcessingTime(0)).start()
    mem.addData(inputRows(0, 100): _*)
    q.processAllAvailable()
    q.stop()
    val p = primary.read(spark).select("event_id").as[String].collect().toSet
    val f = forward.read(spark).select("event_id").as[String].collect().toSet
    assert(p.nonEmpty && f === p, "forwarded store must mirror the primary")
  }

  test("per-microbatch validator counters surface in observedMetrics (V3/A5)") {
    val mem = MemoryStream[InputRow]
    val stmts = StreamPipeline.statements(mem.toDF())
    val q = stmts.writeStream.format("noop")
      .option("checkpointLocation", tempDir("cpobs")).start()
    mem.addData(inputRows(0, 100): _*)
    q.processAllAvailable()
    val obs = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("validate_metrics")))
    q.stop()
    assert(obs.nonEmpty, "no observed metrics in progress")
    val total = obs.map(_.getLong(0)).sum
    val invalid = obs.map(_.getLong(1)).sum
    assert(total === 100)
    assert(invalid === (0L until 100L).count(i => Synth.isInvalid(i) || Synth.isUnknown(i)))
  }

  test("sink MERGE-by-id drops late duplicates beyond the watermark; compaction dedups") {
    val sinkPath = tempDir("lake")
    val sink = new LakeSink(sinkPath)
    val b0 = Seq(("a", 1), ("b", 2)).toDF("event_id", "v")
    val b1 = Seq(("b", 99), ("c", 3)).toDF("event_id", "v") // "b" is a late dup
    assert(sink.addBatchMerged(0, b0, "event_id"))
    assert(sink.addBatchMerged(1, b1, "event_id"))
    val rows = sink.read(spark).select("event_id", "v").as[(String, Int)].collect().toMap
    assert(rows === Map("a" -> 1, "b" -> 2, "c" -> 3)) // first write wins
    // compaction folds batches into one deduped table
    val target = tempDir("compacted")
    sink.compact(spark, s"$target/store", "event_id")
    val compacted = spark.read.parquet(s"$target/store")
    assert(compacted.count() === 3)
    assert(compacted.columns.contains("_batch_id")) // lineage preserved
  }

  test("merged-sink probe is bounded by event-time overlap, not committed history") {
    // VERDICT r1 wrong-4: the probe must not grow with total batches ever
    // committed — manifest time ranges prune it to the disorder window
    val sink = new LakeSink(tempDir("lakebound"))
    def batch(ids: Seq[String], hour: Int) =
      ids.map(id => (id, Timestamp.valueOf(f"2024-01-01 $hour%02d:00:00")))
        .toDF("event_id", "ts")
    (0 until 10).foreach { h =>
      assert(sink.addBatchMerged(h, batch(Seq(s"id-$h"), h), "event_id"))
    }
    val t9 = Timestamp.valueOf("2024-01-01 09:00:00").getTime * 1000L
    assert(sink.probeCandidates(t9, t9).map(_.batch) === Seq(9L),
      "probe candidate set must shrink to the overlapping batch only")
    // a late duplicate (same event time as the original) is still caught:
    // its range overlaps batch 3, the anti-join drops it
    assert(sink.addBatchMerged(10, batch(Seq("id-3"), 3), "event_id"))
    assert(sink.read(spark).filter(col("event_id") === "id-3").count() === 1)
    // the manifest records an event-time range for every non-empty commit
    // (the all-dup batch 10 commits 0 rows → rangeless, correctly)
    assert(sink.committed().forall(c => c.rows == 0 || c.range.isDefined))
  }

  test("merged-sink probe handles differently-sized per-batch bloom filters") {
    // regression: blooms are sized from batch row counts; merging filters of
    // different bit sizes throws IncompatibleMergeException — the probe must
    // OR across them instead. Batch 0 (2500 rows) and batch 1 (3 rows) get
    // different filter sizes; batch 2 probes both.
    val sink = new LakeSink(tempDir("lakebloom"))
    val ts = Timestamp.valueOf("2024-01-01 05:00:00")
    val big = (0 until 2500).map(i => (s"big-$i", ts)).toDF("event_id", "ts")
    val small = Seq(("s-1", ts), ("s-2", ts), ("s-3", ts)).toDF("event_id", "ts")
    assert(sink.addBatchMerged(0, big, "event_id"))
    assert(sink.addBatchMerged(1, small, "event_id"))
    val probe = Seq(("big-7", ts), ("s-2", ts), ("new-1", ts)).toDF("event_id", "ts")
    assert(sink.addBatchMerged(2, probe, "event_id"))
    assert(sink.read(spark).count() === 2504) // only "new-1" was novel
    assert(sink.read(spark).filter(col("event_id") === "big-7").count() === 1)
  }

  test("tiered compaction: graduated segments are never re-copied, reads unchanged") {
    // ADVICE r2: full-fold compaction on a live stream rewrites every
    // committed byte each run (quadratic I/O over the stream's life). With
    // a tier threshold, a segment that grew past it graduates: its dir
    // must survive later compactions byte-identical.
    val sink = new LakeSink(tempDir("laketier"))
    val ts = Timestamp.valueOf("2024-01-01 05:00:00")
    def batch(n: Int, tag: String) =
      (0 until n).map(i => (s"$tag-$i", ts)).toDF("event_id", "ts")
    (0 until 4).foreach(b => assert(sink.addBatchMerged(b, batch(50, s"b$b"), "event_id")))
    // fold the four 50-row batches → one 200-row segment ≥ tier (150)
    sink.compactInPlace(spark, Some("event_id"), maxFoldRows = 150)
    val afterFirst = sink.committed()
    assert(afterFirst.map(_.rows).sorted === Seq(200L))
    val genDir = java.nio.file.Paths.get(sink.path, s"batch=${afterFirst.head.batch}")
    val mtime = java.nio.file.Files.getLastModifiedTime(genDir)
    // new small batches arrive; compaction folds ONLY them
    (4 until 7).foreach(b => assert(sink.addBatchMerged(b, batch(10, s"b$b"), "event_id")))
    sink.compactInPlace(spark, Some("event_id"), maxFoldRows = 150)
    val afterSecond = sink.committed()
    assert(afterSecond.map(_.rows).sorted === Seq(30L, 200L))
    // the graduated 200-row segment was not rewritten
    assert(java.nio.file.Files.getLastModifiedTime(genDir) === mtime,
      "graduated segment must not be re-copied")
    // reads and replay idempotency unchanged
    assert(sink.read(spark).count() === 230)
    (0 until 7).foreach(b => assert(sink.accountsFor(b)))
    assert(!sink.addBatchMerged(3, batch(5, "replay"), "event_id"))
  }

  test("bloom prefilter is a native codegen expression, not a Scala UDF") {
    // VERDICT r2 wrong-4: the per-microbatch merge prefilter ran as an
    // interpreted per-row udf(). The native expression must (a) agree with
    // the filters bit-for-bit, (b) compile under whole-stage codegen with
    // fallback disabled, (c) plan no ScalaUDF node.
    import org.apache.spark.util.sketch.BloomFilter
    val bf1 = BloomFilter.create(100, 0.01)
    val bf2 = BloomFilter.create(5000, 0.01) // different size: OR, not merge
    bf1.putString("in-first"); bf2.putString("in-second")
    def ser(bf: BloomFilter) = {
      val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
    }
    val probe = graft.functions.BloomProbe
      .mightContainAny(col("id"), Array(ser(bf1), ser(bf2)))
    val df = Seq("in-first", "in-second", "neither").toDF("id")
      .withColumn("hit", probe)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val got = df.as[(String, Boolean)].collect().toMap
      assert(got("in-first") && got("in-second") && !got("neither"))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // plan assertion over a non-local source (a literal Seq collapses into
    // a pre-evaluated LocalTableScan, hiding the expression)
    val planned = spark.range(3).select(concat(lit("id-"), col("id")).as("id"))
      .withColumn("hit", graft.functions.BloomProbe
        .mightContainAny(col("id"), Array(ser(bf1))))
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain_any"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("*(1)"), s"probe not inside WholeStageCodegen:\n$plan")
  }

  test("in-place compaction folds the manifest to one segment, reads unchanged") {
    val sink = new LakeSink(tempDir("lakecompact"))
    def batch(ids: Seq[String], hour: Int) =
      ids.map(id => (id, Timestamp.valueOf(f"2024-01-01 $hour%02d:00:00")))
        .toDF("event_id", "ts")
    (0 until 6).foreach { h =>
      assert(sink.addBatchMerged(h, batch(Seq(s"id-$h", s"id2-$h"), h), "event_id"))
    }
    val before = sink.read(spark).select("event_id", "_batch_id")
      .as[(String, Long)].collect().toSet
    sink.compactInPlace(spark, idCol = Some("event_id"))
    assert(sink.committed().map(_.batch) === Seq(-1L)) // one compacted segment
    val after = sink.read(spark).select("event_id", "_batch_id")
      .as[(String, Long)].collect().toSet
    assert(after === before) // identical rows, lineage preserved
    // merged event-time range survives: a late dup of batch 3 is still caught
    assert(sink.addBatchMerged(6, batch(Seq("id-3"), 3), "event_id"))
    assert(sink.read(spark).filter(col("event_id") === "id-3").count() === 1)
    // second generation: compacting again (segment + new batch) also works
    assert(sink.addBatchMerged(7, batch(Seq("id-7"), 7), "event_id"))
    sink.compactInPlace(spark, idCol = Some("event_id"))
    assert(sink.committed().map(_.batch) === Seq(-2L))
    assert(sink.read(spark).select("event_id").as[String].collect().toSet
      === (before.map(_._1) + "id-7"))
    // folded dirs stay on disk as time-travel snapshots until vacuum; with
    // zero retained snapshots vacuum reclaims every superseded generation
    val beforeVac = new java.io.File(sink.path).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(beforeVac.contains("batch=-1"), beforeVac.toString) // still readable pre-vacuum
    sink.vacuum()
    val dirs = new java.io.File(sink.path).listFiles().map(_.getName)
      .filter(_.startsWith("batch=")).toSet
    assert(dirs === Set("batch=-2"))
  }

  test("scheduled compaction keeps the manifest bounded on a live stream") {
    // toLake(compactEvery=2) folds committed segments as the stream runs;
    // data completeness must be unaffected and entry count stays O(1)
    // instead of O(batches)
    val sink = new LakeSink(tempDir("lakesched"))
    val cp = tempDir("cpsched")
    val stream = MemoryStream[InputRow]
    val statements = Pipeline.validateConvert(stream.toDF())
    val q = StreamPipeline
      .toLake(statements, sink, cp,
        trigger = Trigger.ProcessingTime(0), compactEvery = 2)
      .start()
    Seq((0L, 150L), (150L, 300L), (300L, 450L)).foreach { case (a, b) =>
      stream.addData(inputRows(a, b): _*)
      q.processAllAvailable() // one microbatch per add → batchIds 0,1,2
    }
    q.stop()
    val expected = (0L until 450L)
      .filter(Synth.isConvertible)
      .map(i => graft.functions.Uuid5.uuid5(Synth.UuidNamespace, Synth.edxJson(i)))
      .distinct
    assert(sink.read(spark).select("event_id").as[String].collect().toSet
      === expected.toSet)
    // at least one compaction ran (negative segment id) and the manifest is
    // smaller than the number of microbatches processed
    assert(sink.committed().exists(_.batch < 0))
    assert(sink.committed().length < 3)
  }

  test("compaction composes with checkpoint resume: restart after fold, still exactly-once") {
    // kill the stream after batches are folded into a compacted segment,
    // then resume from the checkpoint with overlapping + new data: replayed
    // ids must still dedup against the COMPACTED manifest
    val sink = new LakeSink(tempDir("lakecr"))
    val cp = tempDir("cpcr")
    val stream = MemoryStream[InputRow]
    def start() = StreamPipeline
      .toLake(Pipeline.validateConvert(stream.toDF()), sink, cp,
        trigger = Trigger.ProcessingTime(0))
      .start()
    val q1 = start()
    stream.addData(inputRows(0, 100): _*)
    q1.processAllAvailable()
    stream.addData(inputRows(100, 200): _*)
    q1.processAllAvailable(); q1.stop() // "crash" after two committed batches
    sink.compactInPlace(spark, idCol = Some("event_id")) // maintenance while down
    assert(sink.committed().forall(_.batch < 0))
    stream.addData(inputRows(100, 350): _*) // 100-200 are re-sends
    val q2 = start()
    q2.processAllAvailable(); q2.stop()
    val got = sink.read(spark).select("event_id").as[String].collect()
    val expected = (0L until 350L)
      .filter(Synth.isConvertible)
      .map(i => graft.functions.Uuid5.uuid5(Synth.UuidNamespace, Synth.edxJson(i)))
      .distinct
    assert(got.length === got.distinct.length, "duplicates after compact+resume")
    assert(got.toSet === expected.toSet, "loss after compact+resume")
  }

  test("non-merged sink: replay of a FOLDED batch is still a no-op after compaction") {
    // regression (review): compaction used to erase positive batch ids from
    // the manifest — the only replay guard addBatch (mergeById=false) has.
    // The compacted entry now records folded ids, so the replay check holds.
    val sink = new LakeSink(tempDir("lakefold"))
    assert(sink.addBatch(0, Seq(("a", 1)).toDF("event_id", "v")))
    assert(sink.addBatch(1, Seq(("b", 2)).toDF("event_id", "v")))
    sink.compactInPlace(spark)
    assert(sink.committed().map(_.batch) === Seq(-1L))
    assert(sink.committedBatches() === Set(-1L, 0L, 1L)) // folded ids visible
    // foreachBatch replay of batch 1 after a crash-before-checkpoint
    assert(!sink.addBatch(1, Seq(("b", 2)).toDF("event_id", "v")), "replay must no-op")
    assert(sink.read(spark).count() === 2) // no duplicates
    // second generation carries the folded set transitively
    assert(sink.addBatch(2, Seq(("c", 3)).toDF("event_id", "v")))
    sink.compactInPlace(spark)
    assert(sink.committedBatches() === Set(-2L, 0L, 1L, 2L))
    assert(!sink.addBatch(0, Seq(("a", 1)).toDF("event_id", "v")))
  }

  test("reconcile heals across INDEPENDENT compactions (streaming-id diff, not segment ids)") {
    // review regression: both sinks compact → each gets gen -1; a diff on
    // segment ids would treat them as the same content and skip the heal
    val primary = new LakeSink(tempDir("recp2"))
    val forward = new LakeSink(tempDir("recf2"))
    val ts = Timestamp.valueOf("2024-01-01 05:00:00")
    def batch(ids: Seq[String]) = ids.map(id => (id, ts)).toDF("event_id", "ts")
    Seq(0, 1, 2).foreach(b =>
      assert(primary.addBatchMerged(b, batch(Seq(s"id-$b")), "event_id")))
    Seq(0, 2).foreach(b => // forward missed batch 1
      assert(forward.addBatchMerged(b, batch(Seq(s"id-$b")), "event_id")))
    primary.compactInPlace(spark, Some("event_id"))
    forward.compactInPlace(spark, Some("event_id"))
    val healed = StreamPipeline.reconcileForward(spark, primary, forward)
    assert(healed === Seq(1L))
    assert(forward.read(spark).select("event_id").as[String].collect().toSet
      === Set("id-0", "id-1", "id-2"))
    assert(forward.read(spark).count() === 3) // heal never duplicates
    // the healed commit covers id 1: a second reconcile is a true no-op
    assert(StreamPipeline.reconcileForward(spark, primary, forward).isEmpty)
  }

  test("range algebra: merge and subtract cover the reconcile edge cases") {
    import graft.streaming.LakeSink.{mergeRanges, subtractRanges}
    assert(mergeRanges(Seq((3L, 5L), (1L, 2L), (7L, 9L))) === Seq((1L, 5L), (7L, 9L)))
    assert(subtractRanges(Seq((5L, 10L)), Seq((1L, 6L), (8L, 9L)))
      === Seq((7L, 7L), (10L, 10L)))
    assert(subtractRanges(Seq((1L, 4L)), Seq((1L, 4L))).isEmpty)
    assert(subtractRanges(Seq((1L, 4L)), Seq.empty) === Seq((1L, 4L)))
    assert(subtractRanges(Seq((1L, 3L), (10L, 12L)), Seq((2L, 11L)))
      === Seq((1L, 1L), (12L, 12L)))
  }

  test("folded ranges stay O(gaps): contiguous batches compress to one range") {
    val sink = new LakeSink(tempDir("lakeranges"))
    (0 until 6).foreach(b =>
      assert(sink.addBatch(b, Seq((s"x$b", b)).toDF("event_id", "v"))))
    sink.compactInPlace(spark)
    val entry = sink.committed().head
    assert(entry.folded === Seq((0L, 5L))) // one range, not six ids
    assert((0L to 5L).forall(sink.accountsFor))
    assert(!sink.accountsFor(6L))
    // second generation folds the range + the new id into one range again
    assert(sink.addBatch(6, Seq(("y", 1)).toDF("event_id", "v")))
    sink.compactInPlace(spark)
    assert(sink.committed().head.folded === Seq((0L, 6L)))
  }

  test("lake read tolerates schema evolution across committed batches") {
    // a long-running sink WILL see columns added mid-stream; readers must
    // union old and new batches with nulls for the missing columns
    val sink = new LakeSink(tempDir("lakeevo"))
    assert(sink.addBatch(0, Seq(("a", 1)).toDF("event_id", "v")))
    assert(sink.addBatch(1, Seq(("b", 2, "extra")).toDF("event_id", "v", "w")))
    // the fingerprints differ, so the read takes the mergeSchema fallback
    assert(sink.committed().map(_.schema).distinct.size === 2)
    val got = sink.read(spark)
    assert(got.columns.contains("w"))
    assert(got.count() === 2)
    val byId = got.select("event_id", "w").as[(String, Option[String])]
      .collect().toMap
    assert(byId("a").isEmpty && byId("b").contains("extra"))
    // compaction must also merge schemas — it DELETES the source dirs, so
    // a dropped column there would be unrecoverable
    sink.compactInPlace(spark)
    val afterCompact = sink.read(spark)
    assert(afterCompact.columns.contains("w"))
    assert(afterCompact.select("event_id", "w").as[(String, Option[String])]
      .collect().toMap === byId)
  }

  test("vacuum reclaims orphan dirs/blooms, never committed ones") {
    val sink = new LakeSink(tempDir("lakevac"))
    assert(sink.addBatchMerged(0, Seq(("a", Timestamp.valueOf("2024-01-01 05:00:00")))
      .toDF("event_id", "ts"), "event_id"))
    // simulate a crash between compaction's manifest swap and dir delete:
    // an orphan segment dir + bloom not referenced by the manifest
    val orphan = new java.io.File(s"${sink.path}/batch=99"); orphan.mkdirs()
    java.nio.file.Files.write(orphan.toPath.resolve("junk"), "x".getBytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sink.path, "_bloom", "batch-99.bin"), "x".getBytes)
    // messy non-segment names must be ignored, not crash the cleanup
    val weird = new java.io.File(s"${sink.path}/batch=5.bak"); weird.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sink.path, "_bloom", "batch-7.bin.tmp"), "x".getBytes)
    val reclaimed = sink.vacuum()
    assert(reclaimed === Seq("_bloom/batch-99.bin", "batch=99"))
    assert(!orphan.exists)
    assert(weird.exists) // not ours to judge — left alone
    assert(sink.read(spark).count() === 1) // committed data untouched
    assert(sink.vacuum().isEmpty) // idempotent
  }

  test("forward reconcile heals batches missing from the downstream manifest") {
    val primary = new LakeSink(tempDir("recp"))
    val forward = new LakeSink(tempDir("recf"))
    val t = Timestamp.valueOf("2024-01-01 10:00:00")
    val b0 = Seq(("a", t)).toDF("event_id", "ts")
    val b1 = Seq(("b", t)).toDF("event_id", "ts")
    primary.addBatchMerged(0, b0, "event_id")
    forward.addBatchMerged(0, b0, "event_id")
    primary.addBatchMerged(1, b1, "event_id") // forward write "failed" here
    val healed = StreamPipeline.reconcileForward(spark, primary, forward)
    assert(healed === Seq(1L))
    assert(forward.read(spark).select("event_id").as[String].collect().toSet
      === Set("a", "b"))
    // idempotent: nothing left to heal
    assert(StreamPipeline.reconcileForward(spark, primary, forward).isEmpty)
  }

  test("sessionize: gap timeout closes sessions deterministically by event time") {
    val mem = MemoryStream[Sessionize.Event]
    def ev(actor: String, minute: Int, verb: String = "v1") =
      Sessionize.Event(actor, "browser", Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"), verb)

    val stmts = mem.toDF().withWatermark("ts", "1 minute")
      .as[Sessionize.Event]
    val out = Sessionize(stmts, gapMs = 10 * 60 * 1000) // 10-minute gap
    val q = out.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()

    // actor A: events at 10:00, 10:05 (one session), then 10:30 (new session)
    mem.addData(ev("A", 0), ev("A", 5, "v2"), ev("A", 5, "v2"), ev("B", 1))
    q.processAllAvailable()
    mem.addData(ev("A", 30)) // closes A's first session (gap exceeded)
    q.processAllAvailable()
    // push the watermark far ahead so remaining sessions time out
    mem.addData(ev("Z", 59))
    q.processAllAvailable()
    mem.addData(Sessionize.Event("Z2", "browser",
      Timestamp.valueOf("2024-01-01 12:00:00"), "v1"))
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("sessions_out")
      .select("actor_key", "session_start", "session_end", "n_events", "n_verbs", "top_verb")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3), r.getInt(4), r.getString(5)))
      .sortBy(x => (x._1, x._2))
    val a = sessions.filter(_._1 == "A")
    assert(a.length === 2)
    assert(a(0) === ("A", "2024-01-01 10:00:00.0", "2024-01-01 10:05:00.0", 3L, 2, "v2"))
    assert(a(1)._4 === 1L) // the 10:30 session closed by timeout
    assert(sessions.count(_._1 == "B") === 1)
  }

  // ---- The fused dedup + sessionizer under sessions(deduped(…)) ------------

  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val Minute = 60L * 1000

  /** Seeded random statement batches: fresh rows around a moving clock,
    * copies of earlier ids (same actor, ts and verb) re-sent from the same
    * or another source in this or a later batch, rows at or below the
    * watermark, and clock jumps wider than the gap plus the delay. */
  private def stmtBatches(seed: Long, batches: Int, delayMs: Long): Seq[Seq[SessionStmt]] = {
    val rnd = new scala.util.Random(seed)
    val sources = Seq("browser", "server", "mobile")
    val sent = scala.collection.mutable.ArrayBuffer.empty[SessionStmt]
    var now = T0
    var maxTs = Long.MinValue
    var nextId = 0
    def fresh(ts: Long) = {
      nextId += 1
      SessionStmt(s"id-$seed-$nextId", s"actor${rnd.nextInt(4)}", sources(rnd.nextInt(3)),
        new Timestamp(ts), s"verb${rnd.nextInt(3)}")
    }
    (0 until batches).map { _ =>
      now += (if (rnd.nextDouble() < 0.25) (45 + rnd.nextInt(90)) * Minute else rnd.nextInt(15) * Minute)
      val wm = if (maxTs == Long.MinValue) 0L else maxTs - delayMs
      val batch = (0 until 10 + rnd.nextInt(15)).map { _ =>
        rnd.nextInt(10) match {
          case 0 if wm > T0 => fresh(wm - rnd.nextInt(60) * Minute) // late: ts <= watermark
          case 1 | 2 if sent.nonEmpty =>
            val s = sent(rnd.nextInt(sent.size))
            if (rnd.nextBoolean()) s else s.copy(source = sources(rnd.nextInt(3)))
          case _ =>
            val s = fresh(now + (rnd.nextInt(11) - 5) * Minute)
            sent += s
            s
        }
      }
      maxTs = math.max(maxTs, batch.map(_.ts.getTime).max)
      batch
    }
  }

  private def sessionRows(table: String): Seq[(String, String, Long, Long, Long, Int, String)] =
    spark.table(table).collect().toSeq.map(r => (r.getAs[String]("actor_key"),
      r.getAs[String]("source"), r.getAs[Timestamp]("session_start").getTime,
      r.getAs[Timestamp]("session_end").getTime, r.getAs[Long]("n_events"),
      r.getAs[Int]("n_verbs"), r.getAs[String]("top_verb"))).sorted

  test("sessions(deduped(…)) equals Spark's dedup then the (actor, source) sessionizer after every batch") {
    Seq(11L, 12L, 13L).foreach { seed =>
      val mem = MemoryStream[SessionStmt]
      val stmts = mem.toDF().withWatermark("ts", "7 minutes")
      val fused = StreamPipeline.sessions(StreamPipeline.deduped(stmts))
      val reference = SessionizeReference(stmts.dropDuplicatesWithinWatermark("id")
        .select("actor_key", "source", "ts", "verb_id").as[Sessionize.Event])
      val qf = fused.writeStream.format("memory").queryName(s"fused_$seed")
        .outputMode("append").option("checkpointLocation", tempDir("cpfused")).start()
      val qr = reference.writeStream.format("memory").queryName(s"reference_$seed")
        .outputMode("append").option("checkpointLocation", tempDir("cpref")).start()
      try {
        stmtBatches(seed, 8, 7 * Minute).zipWithIndex.foreach { case (batch, b) =>
          mem.addData(batch: _*)
          qf.processAllAvailable(); qr.processAllAvailable()
          assert(sessionRows(s"fused_$seed") === sessionRows(s"reference_$seed"),
            s"seed $seed, after batch $b")
        }
        assert(sessionRows(s"fused_$seed").nonEmpty, s"seed $seed closed no session")
        assert(qf.lastProgress.stateOperators.map(_.operatorName).toSeq === Seq("flatMapGroupsWithState"))
      } finally { qf.stop(); qr.stop() }
    }
  }

  test("fused sessions: a restart from the checkpoint equals an uninterrupted run") {
    val mem = MemoryStream[SessionStmt]
    val sessions = StreamPipeline.sessions(StreamPipeline.deduped(
      mem.toDF().withWatermark("ts", "10 minutes"))).toDF()
    def start(sink: LakeSink, cp: String) = sessions.writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) => sink.addBatch(id, b); () }
      .start()
    val whole = new LakeSink(tempDir("sesswhole"))
    val restarted = new LakeSink(tempDir("sessrestart"))
    val cpWhole = tempDir("cpwhole")
    val cpRestart = tempDir("cprestart")
    val qw = start(whole, cpWhole)
    var qr = start(restarted, cpRestart)
    try {
      stmtBatches(21L, 8, 10 * Minute).zipWithIndex.foreach { case (batch, b) =>
        if (b == 4) { qr.stop(); qr = start(restarted, cpRestart) }
        mem.addData(batch: _*)
        qw.processAllAvailable(); qr.processAllAvailable()
      }
    } finally { qw.stop(); qr.stop() }
    def rows(sink: LakeSink) = sink.read(spark)
      .select("actor_key", "source", "session_start", "session_end", "n_events", "n_verbs", "top_verb")
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
    assert(rows(whole).nonEmpty)
    assert(rows(restarted) === rows(whole))
  }

  test("sessions(deduped(statements)) runs one state operator that drops and counts late rows") {
    def run(name: String, dedup: Boolean) = {
      val mem = MemoryStream[InputRow]
      val stmts = StreamPipeline.statements(mem.toDF())
      val q = StreamPipeline.sessions(if (dedup) StreamPipeline.deduped(stmts) else stmts)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tempDir("cpsesscensus"))
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        mem.addData(inputRows(100000, 100050): _*) // advances the watermark past rows 0..49
        q.processAllAvailable()
        mem.addData(inputRows(0, 50): _*) // late
        q.processAllAvailable()
        mem.addData(inputRows(200000, 200001): _*) // closes the sessions of rows 100000..100049
        q.processAllAvailable()
        val ops = q.lastProgress.stateOperators.toSeq
        val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
        val events = spark.table(name).agg(sum("n_events")).collect().head.getLong(0)
        (ops.map(_.operatorName), dropped, events)
      } finally q.stop()
    }
    val late = (0L until 50L).filter(Synth.isConvertible)
    val onTime = (100000L until 100050L).filter(Synth.isConvertible)
    val distinctIds = onTime.map(i => graft.functions.Uuid5.uuid5(Synth.UuidNamespace, Synth.edxJson(i))).distinct
    assert(distinctIds.size < onTime.size, "the input must carry duplicate ids")
    val (ops, dropped, events) = run("sess_fused_census", dedup = true)
    assert(ops === Seq("flatMapGroupsWithState"))
    assert(dropped === late.size.toLong)
    assert(events === distinctIds.size.toLong)
    // without deduped the sessionizer keeps every copy of an id
    val (plainOps, _, plainEvents) = run("sess_plain_census", dedup = false)
    assert(plainOps === Seq("flatMapGroupsWithState"))
    assert(plainEvents === onTime.size.toLong)
  }

  test("fused sessions: a data batch whose watermark passed ts + gap closes that session in the batch") {
    // with no-data batches off, batch 1 evicts and times out at the
    // watermark batch 0 set (11:50) but filters late rows by the one batch
    // 0 ran at (none): the row at 10:05 is kept, and its session's
    // end + gap (10:35) is already below 11:50
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val mem = MemoryStream[SessionStmt]
    def at(hm: String) = Timestamp.valueOf(s"2024-01-01 $hm:00")
    spark.conf.set(key, "false")
    val q = try StreamPipeline.sessions(StreamPipeline.deduped(mem.toDF().withWatermark("ts", "10 minutes")))
      .writeStream.format("memory").queryName("sess_jump").outputMode("append")
      .option("checkpointLocation", tempDir("cpsessjump")).start()
    finally spark.conf.unset(key)
    try {
      mem.addData(SessionStmt("a1", "A", "browser", at("10:00"), "v1"),
        SessionStmt("b1", "B", "browser", at("12:00"), "v1"))
      q.processAllAvailable()
      mem.addData(SessionStmt("a2", "A", "browser", at("10:05"), "v2"),
        SessionStmt("a1", "A", "server", at("10:00"), "v1")) // a re-send of a1
      q.processAllAvailable()
      assert(sessionRows("sess_jump") === Seq(("A", "browser", at("10:00").getTime,
        at("10:05").getTime, 2L, 2, "v1")))
    } finally q.stop()
  }

  test("fused sessions: an actor times out at its sessions' end + gap, not at each id's expiry") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import Sessionize.{ActorState, IdEvent}
    def at(hms: String) = Timestamp.valueOf(s"2024-01-01 $hms")
    val delayUs = 10 * Minute * 1000
    def call(gapMs: Long, prior: Option[ActorState], wm: String, rows: IdEvent*) = {
      val state = TestGroupState.create[ActorState](
        prior.fold(Optional.empty[ActorState]())(Optional.of(_)), GroupStateTimeout.EventTimeTimeout,
        0L, Optional.of(at(wm).getTime), prior.nonEmpty && rows.isEmpty)
      val out = Sessionize.process(gapMs, delayUs)("A", rows.iterator, state).toSeq
      (out.map(s => (s.source, s.n_events)), state)
    }
    // delay 10 min < gap 30 min: the ids expire before the sessions that hold them end
    val (none, s1) = call(30 * Minute, None, "09:00:00",
      IdEvent("A", "a1", "browser", at("10:00:00"), "v1"), IdEvent("A", "a2", "server", at("10:04:00"), "v1"))
    assert(none.isEmpty && s1.get.ids.keySet === Set("a1", "a2"))
    assert(s1.getTimeoutTimestampMs.get === at("10:30:00").getTime)
    val (first, s2) = call(30 * Minute, Some(s1.get), "10:31:00")
    assert(first === Seq(("browser", 1L)))
    assert(s2.get.ids.isEmpty && s2.get.open.map(_.source) === Seq("server"))
    assert(s2.getTimeoutTimestampMs.get === at("10:34:00").getTime)
    val (second, s3) = call(30 * Minute, Some(s2.get), "10:35:00")
    assert(second === Seq(("server", 1L)) && s3.isRemoved)
    // delay 10 min > gap 5 min: with its session closed, the actor waits for the last id to expire
    val (_, t1) = call(5 * Minute, None, "09:00:00", IdEvent("A", "a1", "browser", at("10:00:00"), "v1"))
    assert(t1.getTimeoutTimestampMs.get === at("10:05:00").getTime)
    val (closed, t2) = call(5 * Minute, Some(t1.get), "10:06:00")
    assert(closed === Seq(("browser", 1L)) && t2.get.ids.keySet === Set("a1") && t2.get.open.isEmpty)
    assert(t2.getTimeoutTimestampMs.get === at("10:10:00").getTime - 1)
    val (_, t3) = call(5 * Minute, Some(t2.get), "10:10:00")
    assert(t3.isRemoved)
  }

  test("sessions(deduped(…)) over a stream watermarked on another column is not fused") {
    // the fused path reads the dedup's delay from ts; without a watermark on
    // ts the dedup stays Spark's own operator, and the query fails at start
    // as it does over Spark's dedup: event-time timeouts need ts watermarked
    val mem = MemoryStream[SessionStmt]
    val stmts = mem.toDF().withColumn("arrival", col("ts")).withWatermark("arrival", "7 minutes")
    def error(plan: => org.apache.spark.sql.Dataset[Sessionize.Session]) =
      intercept[org.apache.spark.sql.AnalysisException](plan.writeStream.format("memory")
        .queryName("arrival").option("checkpointLocation", tempDir("cparrival")).start()).getCondition
    assert(error(StreamPipeline.sessions(StreamPipeline.deduped(stmts))) ===
      error(SessionizeReference(stmts.dropDuplicatesWithinWatermark("id")
        .select("actor_key", "source", "ts", "verb_id").as[Sessionize.Event])))
  }

  test("tumbling stream counts equal the batch aggregation on the same data") {
    val mem = MemoryStream[InputRow]
    val stmts = StreamPipeline.statements(mem.toDF())
    val counts = StreamPipeline.tumblingCounts(stmts, "1 minute")
      .select(col("window.start").as("w"), col("verb_id"), col("source"), col("n"))
    val q = counts.writeStream.format("memory").queryName("tumbling_out")
      .outputMode("append").start()
    mem.addData(inputRows(0, 300): _*)
    q.processAllAvailable()
    // close all windows by pushing the watermark with one far-future row
    mem.addData(inputRows(100000, 100001): _*)
    q.processAllAvailable()
    q.stop()

    val batch = Pipeline.validateConvert(Synth.inputTable(spark, 300))
      .groupBy(window(col("ts"), "1 minute"), col("verb_id"), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("verb_id"), col("source"), col("n"))
    val got = spark.table("tumbling_out").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val want = batch.collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got === want)
  }

  test("salted counts merge to the unsalted result") {
    val mem = MemoryStream[InputRow]
    val stmts = StreamPipeline.statements(mem.toDF())
    val salted = StreamPipeline.tumblingCounts(stmts, "1 minute", saltBuckets = 8)
    val q = salted.writeStream.format("memory").queryName("salted_out")
      .outputMode("append").start()
    mem.addData(inputRows(0, 300): _*)
    q.processAllAvailable()
    mem.addData(inputRows(100000, 100001): _*)
    q.processAllAvailable()
    q.stop()
    val merged = StreamPipeline.mergeSalted(spark.table("salted_out"))
      .select(col("window.start"), col("verb_id"), col("source"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    val want = Pipeline.validateConvert(Synth.inputTable(spark, 300))
      .groupBy(window(col("ts"), "1 minute"), col("verb_id"), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("verb_id"), col("source"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(merged === want)
  }

  test("stream-stream join binds the latest-hour profile (J3)") {
    val stmtMem = MemoryStream[Sessionize.Event]
    val profMem = MemoryStream[(String, String, String, Timestamp)]
    val stmts = stmtMem.toDF().withWatermark("ts", "1 minute")
    val profs = profMem.toDF()
      .toDF("actor_key", "p_name", "cohort", "updated_at")
    val joined = StreamPipeline.withProfiles(stmts, profs)
      .select("actor_key", "verb_id", "cohort")
    val q = joined.writeStream.format("memory").queryName("joined_out")
      .outputMode("append").start()

    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    profMem.addData(("A", "alice", "c1", Timestamp.valueOf("2024-01-01 09:30:00")),
      ("B", "bob", "c2", Timestamp.valueOf("2024-01-01 05:00:00"))) // stale (>1h before)
    stmtMem.addData(Sessionize.Event("A", "browser", t0, "v1"),
      Sessionize.Event("B", "browser", t0, "v2"))
    q.processAllAvailable()
    // advance both watermarks so the outer join emits unmatched rows
    stmtMem.addData(Sessionize.Event("Z", "browser",
      Timestamp.valueOf("2024-01-01 13:00:00"), "vz"))
    profMem.addData(("Z", "z", "cz", Timestamp.valueOf("2024-01-01 13:00:00")))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("joined_out").collect()
      .map(r => (r.getString(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(rows.contains(("A", "v1", Some("c1")))) // fresh profile joined
    assert(rows.contains(("B", "v2", None))) // stale profile NOT joined (left outer)
  }

  // ---- Incremental near-dup cluster maintenance (VERDICT r3 #5) -----------

  // 30 distinct base words; a doc = base with some positions swapped. With
  // k=3 shingles a changed middle position kills exactly 3 shingles, so m
  // disjoint changes give jaccard (28-3m)/(28+3m): m=1 → 0.806, 2 → 0.647,
  // 3 → 0.514 (all dups at 0.5), 4 → 0.400, 5 → 0.291 (non-dups).
  private val dedupBase = (0 until 30).map(i => s"base$i")
  private def dedupDoc(changes: (Int, String)*): String = {
    val m = changes.toMap
    dedupBase.indices.map(i => m.getOrElse(i, dedupBase(i))).mkString(" ")
  }
  private def saltedDoc(salt: String, changes: (Int, String)*): String = {
    val m = changes.toMap
    (0 until 30).map(i => m.getOrElse(i, s"$salt$i")).mkString(" ")
  }

  test("incremental dedup: batch-sized cluster merges, parity with full recompute") {
    val bChanges = Seq(3 -> "b3", 7 -> "b7", 11 -> "b11", 15 -> "b15", 19 -> "b19")
    val batch1: Seq[(Long, String)] = Seq(
      0L -> dedupDoc(),                          // cluster A
      1L -> dedupDoc(25 -> "a1x"),               // A: jac 0.806 vs A0
      2L -> dedupDoc(bChanges: _*),              // cluster B: jac 0.291 vs A0
      3L -> dedupDoc(bChanges :+ (23 -> "b23"): _*), // B: 0.806 vs B0
      4L -> saltedDoc("s0w"),                    // singleton (for now)
      5L -> saltedDoc("s1w"))                    // singleton forever
    val batch2: Seq[(Long, String)] = Seq(
      6L -> dedupDoc(21 -> "a2x"),               // joins cluster A
      7L -> saltedDoc("s0w", 25 -> "d0x"),       // pairs the old singleton 4
      8L -> saltedDoc("e0w"),                    // intra-batch new-new pair
      9L -> saltedDoc("e0w", 25 -> "e1x"),
      10L -> saltedDoc("fw"))                    // singleton forever
    // bridge: 2 of B's changes → jac 0.647 vs A0 AND 0.514 vs B0 — merges
    // clusters A and B into one component
    val batch3: Seq[(Long, String)] =
      Seq(11L -> dedupDoc(3 -> "b3", 7 -> "b7"))

    val inc = new graft.streaming.IncrementalDedup(threshold = 0.5)
    val stats = scala.collection.mutable.ArrayBuffer
      .empty[graft.streaming.IncrementalDedup.BatchStats]
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .outputMode("append")
      .option("checkpointLocation", tempDir("inccp"))
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        stats += inc.addBatch(b); ()
      }
      .start()
    def feed(rows: Seq[(Long, String)]): Unit = {
      mem.addData(rows: _*); q.processAllAvailable()
    }
    feed(batch1)
    assert(inc.labels.as[(Long, Long)].collect().toSet ===
      Set(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L))
    assert(stats(0).nGraphNodes === 4)

    feed(batch2)
    assert(inc.labels.as[(Long, Long)].collect().toSet ===
      Set(0L -> 0L, 1L -> 0L, 6L -> 0L, 2L -> 2L, 3L -> 2L,
        4L -> 4L, 7L -> 4L, 8L -> 8L, 9L -> 8L))
    // the merge graph touched (new docs ∪ touched reps), never the corpus:
    // nodes {0, 6, 4, 7, 8, 9}, of which one (0) was an existing cluster rep
    assert(stats(1).nGraphNodes === 6 && stats(1).nTouchedReps === 1)

    feed(batch3)
    // clusters A and B merged through the bridge; reps re-pointed at min 0
    assert(inc.labels.as[(Long, Long)].collect().toSet ===
      Set(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 6L -> 0L, 11L -> 0L,
        4L -> 4L, 7L -> 4L, 8L -> 8L, 9L -> 8L))
    // ONE new doc + the two touched reps — the contraction never saw the
    // other 9 documents (this is the no-full-recompute evidence)
    assert(stats(2).nGraphNodes === 3 && stats(2).nTouchedReps === 2)
    q.stop()

    // oracle parity: from-scratch LSH pair graph + connected components over
    // the union corpus produces the identical label set
    val all = (batch1 ++ batch2 ++ batch3).toDF("doc_id", "text")
      .select(col("doc_id"), graft.operators.TextOps.shingleArr(col("text")).as("sh"))
    val fullPairs = graft.operators.TextOps.minhashLshPairsOn(all, 0.5)
      .select("id_a", "id_b")
    val want = graft.operators.CorpusOps.connectedComponents(fullPairs)
      .as[(Long, Long)].collect().toSet
    assert(inc.labels.as[(Long, Long)].collect().toSet === want)
  }

  test("incremental dedup: pair-less and empty batches are no-ops with stable state") {
    val inc = new graft.streaming.IncrementalDedup(threshold = 0.5)
    val s1 = inc.addBatch(Seq(1L -> saltedDoc("aw"), 2L -> saltedDoc("bw"))
      .toDF("doc_id", "text"))
    assert(s1.nVerifiedPairs === 0 && inc.labels.isEmpty)
    val s2 = inc.addBatch(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(s2.nNewDocs === 0 && inc.labels.isEmpty)
    // a later dup of doc 1 still finds it through the band index
    val s3 = inc.addBatch(Seq(3L -> saltedDoc("aw", 25 -> "zz"))
      .toDF("doc_id", "text"))
    assert(s3.nVerifiedPairs === 1)
    assert(inc.labels.as[(Long, Long)].collect().toSet ===
      Set(1L -> 1L, 3L -> 1L))
  }

  test("durable incremental dedup: restart rebuilds from the lake with label parity, replay exactly-once") {
    import graft.streaming.{DurableIncrementalDedup, IncrementalDedup}
    val bChanges = Seq(3 -> "b3", 7 -> "b7", 11 -> "b11", 15 -> "b15", 19 -> "b19")
    val batch1: Seq[(Long, String)] = Seq(
      0L -> dedupDoc(), 1L -> dedupDoc(25 -> "a1x"),
      2L -> dedupDoc(bChanges: _*), 3L -> dedupDoc(bChanges :+ (23 -> "b23"): _*),
      4L -> saltedDoc("s0w"), 5L -> saltedDoc("s1w"))
    val batch2: Seq[(Long, String)] = Seq(
      6L -> dedupDoc(21 -> "a2x"), 7L -> saltedDoc("s0w", 25 -> "d0x"),
      8L -> saltedDoc("e0w"), 9L -> saltedDoc("e0w", 25 -> "e1x"),
      10L -> saltedDoc("fw"))
    val batch3: Seq[(Long, String)] = Seq(11L -> dedupDoc(3 -> "b3", 7 -> "b7"))
    val lake = tempDir("declake")

    val d1 = new DurableIncrementalDedup(spark, lake, threshold = 0.5)
    d1.addBatch(0L, batch1.toDF("doc_id", "text"))
    d1.addBatch(1L, batch2.toDF("doc_id", "text"))
    val afterTwo = Set(0L -> 0L, 1L -> 0L, 6L -> 0L, 2L -> 2L, 3L -> 2L,
      4L -> 4L, 7L -> 4L, 8L -> 8L, 9L -> 8L)
    assert(d1.labels.as[(Long, Long)].collect().toSet === afterTwo)

    // "kill" the driver: drop the instance, rebuild over the same lake —
    // the manifests are the only state that matters
    val d2 = new DurableIncrementalDedup(spark, lake, threshold = 0.5)
    assert(d2.labels.as[(Long, Long)].collect().toSet === afterTwo,
      "restart lost committed state")
    val s3 = d2.addBatch(2L, batch3.toDF("doc_id", "text"))
    assert(s3.nVerifiedPairs > 0)
    val want = Set(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 6L -> 0L, 11L -> 0L,
      4L -> 4L, 7L -> 4L, 8L -> 8L, 9L -> 8L)
    assert(d2.labels.as[(Long, Long)].collect().toSet === want)

    // parity with an UNINTERRUPTED in-memory run over the same batches
    val mem = new IncrementalDedup(threshold = 0.5)
    Seq(batch1, batch2, batch3).foreach(b => mem.addBatch(b.toDF("doc_id", "text")))
    assert(mem.labels.as[(Long, Long)].collect().toSet === want)

    // crash-redelivery of an already-committed batch: exactly-once no-op
    val replay = d2.addBatch(2L, batch3.toDF("doc_id", "text"))
    assert(replay.nNewDocs === 0L && replay.nVerifiedPairs === 0L)
    assert(d2.labels.as[(Long, Long)].collect().toSet === want)

    // a third instance after the replay still reads the same table
    assert(new DurableIncrementalDedup(spark, lake, threshold = 0.5)
      .labels.as[(Long, Long)].collect().toSet === want)

    // and the lake-backed oracle driver converges to the recursive-CTE
    // answer on real data, like the in-memory one (the optional
    // q_dup_clusters_incremental path): spot-check at sf0.001
    val viaLake = IncrementalDedup.replayClustersDurable(
      spark, sf("sf0.001"), tempDir("declake2"))
    val viaMem = IncrementalDedup.replayClusters(spark, sf("sf0.001"))
    assert(viaLake.as[(Long, Long)].collect().toSet ===
      viaMem.as[(Long, Long)].collect().toSet)
  }

  test("durable incremental dedup: both partial-commit crash windows replay to the uncrashed run") {
    import graft.streaming.DurableIncrementalDedup
    import scala.jdk.CollectionConverters._
    val founding = Seq(0L -> dedupDoc(), 1L -> dedupDoc(25 -> "a1x"), 4L -> saltedDoc("s0w"))
    // changes labels: 6 joins cluster 0, 7 pairs the singleton 4
    val merging = Seq(6L -> dedupDoc(21 -> "a2x"), 7L -> saltedDoc("s0w", 25 -> "d0x"))
    // no verified pair, but a candidate (jaccard 0.400): a replay's stats
    // carry a nonzero candidate count to compare
    val pairless = Seq(20L -> saltedDoc("pw"),
      21L -> saltedDoc("pw", 3 -> "q3", 7 -> "q7", 11 -> "q11", 15 -> "q15"))
    val later = Seq(22L -> saltedDoc("pw", 25 -> "px")) // near-dup of 20
    val batches = Seq(founding, merging, pairless, later)
    def open(lake: String) = new DurableIncrementalDedup(spark, lake, threshold = 0.5)
    def labelsOf(lake: String) = open(lake).labels.as[(Long, Long)].collect().toSet
    // a crash between two commits: the last manifest entry never landed
    def dropLastCommit(sink: String): Unit = {
      val p = java.nio.file.Paths.get(sink, "_manifest.jsonl")
      val lines = Files.readAllLines(p).asScala.filter(_.nonEmpty)
      Files.write(p, lines.init.asJava); ()
    }

    val ref = tempDir("crashref")
    val want = batches.zipWithIndex.map { case (b, i) =>
      open(ref).addBatch(i.toLong, b.toDF("doc_id", "text")) }
    assert(want(1).nVerifiedPairs > 0 && want(2).nVerifiedPairs === 0L &&
      want(2).nCandidatePairs > 0 && want(3).nVerifiedPairs > 0)

    val lake = tempDir("crashlake")
    open(lake).addBatch(0L, founding.toDF("doc_id", "text"))
    open(lake).addBatch(1L, merging.toDF("doc_id", "text"))
    val afterMerge = labelsOf(lake)
    // (a) labels committed, docs not: the label recompute is skipped and
    // only the docs delta lands
    dropLastCommit(s"$lake/docs")
    val a = open(lake).addBatch(1L, merging.toDF("doc_id", "text"))
    assert(a.nVerifiedPairs === 0L && a.nNewDocs === want(1).nNewDocs)
    assert(labelsOf(lake) === afterMerge)

    // (b) docs commit lost on a pairless batch, which commits no label
    // generation: replay recomputes, with stats exactly as uncrashed
    open(lake).addBatch(2L, pairless.toDF("doc_id", "text"))
    dropLastCommit(s"$lake/docs")
    assert(open(lake).addBatch(2L, pairless.toDF("doc_id", "text")) === want(2))

    // the replayed state serves the next batch like the uncrashed one
    assert(open(lake).addBatch(3L, later.toDF("doc_id", "text")) === want(3))
    assert(labelsOf(lake) === labelsOf(ref))
  }

  test("durable incremental dedup fails at once on a lake in the old three-table layout") {
    import graft.streaming.DurableIncrementalDedup
    val old = tempDir("oldlayout")
    new LakeSink(s"$old/bands").addBatch(0L, Seq((0L, 0, 7L)).toDF("doc_id", "band", "bkey"))
    new LakeSink(s"$old/shingles").addBatch(0L,
      Seq((0L, Seq("a b c"))).toDF("doc_id", "sh"))
    val e = intercept[IllegalStateException](new DurableIncrementalDedup(spark, old))
    assert(e.getMessage.contains("old three-table layout (bands/, shingles/, labels/)"),
      e.getMessage)
    assert(!Files.exists(java.nio.file.Paths.get(old, "docs")), "opening wrote a docs table")
    // a lake in the current layout reopens
    val lake = tempDir("newlayout")
    new DurableIncrementalDedup(spark, lake).addBatch(0L,
      Seq(1L -> saltedDoc("aw"), 2L -> saltedDoc("aw", 25 -> "zz")).toDF("doc_id", "text"))
    assert(new DurableIncrementalDedup(spark, lake).labels.as[(Long, Long)].collect().toSet ===
      Set(1L -> 1L, 2L -> 1L))
  }

  test("incremental dedup job census: pinned per-batch job counts, in-memory and durable") {
    import graft.streaming.{DurableIncrementalDedup, IncrementalDedup}
    val bChanges = Seq(3 -> "b3", 7 -> "b7", 11 -> "b11", 15 -> "b15", 19 -> "b19")
    // batch 0 founds clusters A and B; batch 1 merges into A (and adds new
    // clusters); batch 2 bridges A and B — both later batches collapse
    // endpoints onto existing reps
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(0L -> dedupDoc(), 1L -> dedupDoc(25 -> "a1x"),
        2L -> dedupDoc(bChanges: _*), 3L -> dedupDoc(bChanges :+ (23 -> "b23"): _*),
        4L -> saltedDoc("s0w"), 5L -> saltedDoc("s1w")),
      Seq(6L -> dedupDoc(21 -> "a2x"), 7L -> saltedDoc("s0w", 25 -> "d0x"),
        8L -> saltedDoc("e0w"), 9L -> saltedDoc("e0w", 25 -> "e1x"),
        10L -> saltedDoc("fw")),
      Seq(11L -> dedupDoc(3 -> "b3", 7 -> "b7")))

    val mem = new IncrementalDedup(threshold = 0.5)
    val memStats = scala.collection.mutable.ArrayBuffer.empty[IncrementalDedup.BatchStats]
    val memJobs = batches.map(b =>
      jobsByDescription { memStats += mem.addBatch(b.toDF("doc_id", "text")) })
    val dur = new DurableIncrementalDedup(spark, tempDir("censuslake"), threshold = 0.5)
    val durStats = scala.collection.mutable.ArrayBuffer.empty[IncrementalDedup.BatchStats]
    val durJobs = batches.zipWithIndex.map { case (b, i) =>
      jobsByDescription { durStats += dur.addBatch(i.toLong, b.toDF("doc_id", "text")) } }
    // the fixture exercises what the counts cover: merges into existing
    // clusters on both later batches, on the local union-find path
    assert(memStats.map(_.nTouchedReps) === Seq(0L, 1L, 2L))
    assert(durStats === memStats)
    assert(memJobs.map(_.values.sum) === Seq(8L, 10L, 11L), "in-memory jobs per batch")
    // each LakeSink commit is its write alone: docs 1 per batch; labels 1
    // on batch 0 and 2 on the merging batches, whose label frame joins the
    // contraction's components (under AQE that stage runs as a job of the
    // write)
    assert(durJobs.map(_.values.sum) === Seq(9L, 11L, 12L), "durable jobs per batch")
    // per phase, so a regression names its phase: the docs pass is one
    // tally job (two when Par.fanOut repartitions batch 2's single row);
    // candidate+verify is its AQE stages plus the tally; label merge is
    // its AQE stages plus the one bounded collect
    def phases(prefix: String, sv: Long, lm: Long, cl: Long) =
      Map(s"${prefix}shingle batch" -> sv, s"${prefix}candidate+verify" -> 4L,
        s"${prefix}label merge" -> lm, s"${prefix}commit labels" -> cl)
    val memWant = Seq(phases("dedup: ", 1L, 2L, 1L), phases("dedup: ", 1L, 3L, 2L),
      phases("dedup: ", 2L, 3L, 2L))
    assert(memJobs === memWant, "in-memory jobs per phase")
    assert(durJobs === memWant.map(_.map { case (p, n) => p.replace("dedup: ", "durdedup: ") -> n } +
      ("durdedup: commit shingles" -> 1L)), "durable jobs per phase")
  }

  test("incremental dedup: touched-rep count from the collapsed edges equals the label join") {
    import graft.streaming.IncrementalDedup
    // clusters {10, 11, 12} (rep 10) and {20, 21} (rep 20); verified pairs
    // reach cluster 10 through non-rep members (11, 12) AND through the rep
    // itself (10), cluster 20 through a non-rep (21) only; one pair is
    // internal to cluster 10 and one joins two new docs
    val labels = Seq(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
      .toDF("doc_id", "rep")
    val verified = Seq(11L -> 30L, 10L -> 31L, 12L -> 21L, 21L -> 32L,
      11L -> 12L, 33L -> 34L).toDF("id_a", "id_b")
    val m = IncrementalDedup.labelMerge(verified, Some(labels)).get
    try {
      assert(m.ccRounds === 0, "expected the local union-find path")
      assert(m.nTouchedReps === IncrementalDedup.touchedReps(m.comp, Some(labels)))
      assert(m.nTouchedReps === 2L)
      assert(m.nNodes === 7L) // 10, 20, 30, 31, 32, 33, 34
      // no label table yet: nothing can be a touched rep
      val first = IncrementalDedup.labelMerge(verified, None).get
      assert(first.nTouchedReps === 0L &&
        IncrementalDedup.touchedReps(first.comp, None) === 0L)
      first.scratch.foreach(IncrementalDedup.release)
    } finally m.scratch.foreach(IncrementalDedup.release)
  }

  test("readGeneration reads exactly one segment and fails loudly after compaction") {
    import graft.streaming.LakeSink
    import spark.implicits._
    val sink = new LakeSink(tempDir("gensink"))
    sink.addBatch(0L, Seq((1L, "a")).toDF("doc_id", "rep"))
    sink.addBatch(1L, Seq((1L, "a"), (2L, "b")).toDF("doc_id", "rep"))
    // generation-snapshot read: ONLY the requested segment's rows
    assert(sink.readGeneration(spark, 1L).count() === 2L)
    assert(sink.readGeneration(spark, 0L).count() === 1L)
    intercept[IllegalArgumentException](sink.readGeneration(spark, 7L))
    // compaction folds segments → generation reads must fail loudly, not
    // serve a unioned (or empty) table as if it were one generation
    sink.compactInPlace(spark)
    intercept[IllegalArgumentException](sink.readGeneration(spark, 1L))
  }

  test("streaming CEP funnel: buffered-until-watermark machine ≡ the batch windowed machine") {
    import graft.streaming.Funnel
    val dir = sf("sf0.001")
    val batchConv = graft.operators.EventOps.cepStagedDefault(spark, dir)
      .filter(col("conv")).select("user_id", "event_id")
      .as[(Long, Long)].collect().toSet
    assert(batchConv.nonEmpty)

    val evs = graft.operators.EventOps.events(spark, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"))
      .as[Funnel.Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Funnel.Ev]
    val out = Funnel(mem.toDS().withWatermark("ts", "30 minutes"))
    val cp = tempDir("cpfunnel")
    val q = out.writeStream.format("memory").queryName("cep_conv")
      .option("checkpointLocation", cp).outputMode("append").start()
    // three time-contiguous chunks, each delivered in REVERSED arrival
    // order (within the watermark horizon arrival order must not matter),
    // then REDELIVERED (at-least-once upstream): in-horizon duplicates
    // collapse in the Horizon buffer, behind-frontier ones drop as
    // stragglers — each purchase must convert exactly once
    evs.grouped(evs.length / 3 + 1).foreach { c =>
      mem.addData(c.reverse.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(c.toIndexedSeq: _*); q.processAllAvailable()
    }
    // far-future sentinel pushes the watermark past every real event so the
    // per-key buffers drain through the event-time timeout path
    mem.addData(Funnel.Ev(-1L,
      new Timestamp(evs.last.ts.getTime + 48L * 3600 * 1000), -1L, "view"))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("cep_conv").select("user_id", "event_id")
      .as[(Long, Long)].collect()
    // no double-fire: the sink must hold each conversion ONCE (a set
    // compare alone would collapse duplicate emissions)
    assert(rows.length === rows.toSet.size)
    assert(rows.toSet === batchConv)
  }

  test("streaming CEP funnel generalizes: 4-stage pattern with a repeated type ≡ batch") {
    // r6 (VERDICT r5 Next #4): the stage list is now a parameter — prove
    // batch ≡ stream on view→click→view→purchase, a pattern where one TYPE
    // matches two stages, so the pre-event-snapshot rule (an event never
    // qualifies itself) is load-bearing on both twins; redelivery coverage
    // rides the same reversed+redelivered chunk protocol as the default
    import graft.streaming.Funnel
    import org.apache.spark.sql.expressions.Window
    val dir = sf("sf0.001")
    val pattern = Seq("view", "click", "view", "purchase")
    val batchConv = graft.operators.EventOps.cepFunnelStagedPattern(
        graft.operators.EventOps.events(spark, dir),
        Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1),
        expr("INTERVAL 12 HOURS"), pattern)
      .filter(col("conv")).select("user_id", "event_id")
      .as[(Long, Long)].collect().toSet
    assert(batchConv.nonEmpty)
    // the 4-stage funnel must actually be stricter than the 3-stage one on
    // this fixture, or the test proves nothing new
    val threeStage = graft.operators.EventOps.cepStagedDefault(spark, dir)
      .filter(col("conv")).select("user_id", "event_id")
      .as[(Long, Long)].collect().toSet
    assert(batchConv.subsetOf(threeStage) && batchConv != threeStage)

    val evs = graft.operators.EventOps.events(spark, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"), col("event_type"))
      .as[Funnel.Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Funnel.Ev]
    val out = Funnel(mem.toDS().withWatermark("ts", "30 minutes"),
      pattern = pattern)
    val q = out.writeStream.format("memory").queryName("cep_conv4")
      .option("checkpointLocation", tempDir("cpfunnel4")).outputMode("append").start()
    evs.grouped(evs.length / 3 + 1).foreach { c =>
      mem.addData(c.reverse.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(c.toIndexedSeq: _*); q.processAllAvailable()
    }
    mem.addData(Funnel.Ev(-1L,
      new Timestamp(evs.last.ts.getTime + 48L * 3600 * 1000), -1L, "view"))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("cep_conv4").select("user_id", "event_id")
      .as[(Long, Long)].collect()
    assert(rows.length === rows.toSet.size)
    assert(rows.toSet === batchConv)
  }

test("streaming quota: buffered-until-watermark admission ≡ the batch window rank") {
    import graft.streaming.Quota
    val dir = sf("sf0.001")
    val batchAdmit = graft.operators.EventOps.rateQuota(spark, dir)
      .select("user_id", "event_id").as[(Long, Long)].collect().toSet
    assert(batchAdmit.nonEmpty)
    // the quota actually bites at n=5 on this fixture (some rows dropped)
    assert(batchAdmit.size <
      graft.operators.EventOps.events(spark, dir).count())

    val evs = graft.operators.EventOps.events(spark, dir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("event_id"))
      .as[Quota.Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[Quota.Ev]
    val out = Quota(mem.toDS().withWatermark("ts", "30 minutes"))
    val q = out.writeStream.format("memory").queryName("quota_admit")
      .option("checkpointLocation", tempDir("cpquota")).outputMode("append").start()
    // time-contiguous chunks delivered in REVERSED arrival order: within
    // the watermark horizon, arrival order must not change who wins.
    // Every chunk is then REDELIVERED (at-least-once upstream): in-horizon
    // duplicates must collapse in the buffer, behind-frontier ones must
    // drop as stragglers — admission still happens exactly once
    evs.grouped(evs.length / 3 + 1).foreach { c =>
      mem.addData(c.reverse.toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(c.toIndexedSeq: _*); q.processAllAvailable()
    }
    // far-future sentinel drains the buffers through the timeout path
    mem.addData(Quota.Ev(-1L,
      new Timestamp(evs.last.ts.getTime + 48L * 3600 * 1000), -1L))
    q.processAllAvailable(); q.stop()

    val rows = spark.table("quota_admit").select("user_id", "event_id")
      .as[(Long, Long)].collect()
    // exactly-once emission: duplicate admissions would hide in a set
    assert(rows.length === rows.toSet.size)
    // the sentinel's own admission is the only expected extra
    assert(rows.toSet - ((-1L, -1L)) === batchAdmit)
  }

test("time travel: snapshots read the pre-compaction table; vacuum honors retention") {
    val sink = new LakeSink(tempDir("laketravel"))
    val ts = Timestamp.valueOf("2024-01-01 05:00:00")
    def batch(n: Int, tag: String) =
      (0 until n).map(i => (s"$tag-$i", ts)).toDF("event_id", "ts")
    (0 until 4).foreach(b => assert(sink.addBatchMerged(b, batch(10, s"b$b"), "event_id")))
    val headIds = sink.read(spark).select("event_id").as[String].collect().sorted

    // as-of a mid-stream commit, pre-compaction: batches 0..1 only
    val asOf1 = sink.readAsOf(spark, 1L)
    assert(asOf1.isDefined)
    assert(asOf1.get.select("event_id").as[String].collect().sorted ===
      headIds.filter(id => id.startsWith("b0") || id.startsWith("b1")))

    sink.compactInPlace(spark, Some("event_id"))
    assert(sink.snapshotVersions() === Seq(1L))
    // head read is the compacted generation; snapshot v1 is the old one —
    // identical rows, different segment layout
    assert(sink.read(spark).select("event_id").as[String].collect().sorted === headIds)
    assert(sink.readSnapshot(spark, 1L).select("event_id").as[String]
      .collect().sorted === headIds)
    // the fold straddles every boundary < 3, so as-of 1 must fall back to
    // the snapshot source and still answer exactly
    assert(sink.readAsOf(spark, 1L).get.select("event_id").as[String]
      .collect().sorted === headIds.filter(id => id.startsWith("b0") || id.startsWith("b1")))

    // retention: vacuum(1) keeps the snapshot readable
    sink.vacuum(retainSnapshots = 1)
    assert(sink.readSnapshot(spark, 1L).count() === 40)
    // expiry: vacuum(0) reclaims the snapshot AND its now-unreachable dirs
    val reclaimed = sink.vacuum()
    assert(reclaimed.exists(_.startsWith("_snapshots/")), reclaimed.toString)
    assert(reclaimed.exists(_.startsWith("batch=")), reclaimed.toString)
    intercept[IllegalArgumentException](sink.readSnapshot(spark, 1L))
    assert(sink.readAsOf(spark, 1L).isEmpty) // honest: history gone
    // head unaffected; replay idempotency intact
    assert(sink.read(spark).select("event_id").as[String].collect().sorted === headIds)
    (0 until 4).foreach(b => assert(sink.accountsFor(b)))
    assert(!sink.addBatchMerged(2, batch(3, "replay"), "event_id"))
  }

  test("SpaceSaving sketch aggregates in a streaming groupBy (bounded per-group state)") {
    // the heavy-hitters Aggregator as STREAMING state: partial sketches
    // live in the state store per group (capacity-bounded), update across
    // microbatches, and at capacity >= distinct the final sketch is the
    // exact count map — proved against a batch recount of the same rows
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.functions.udaf
    val mem = MemoryStream[InputRow]
    val agg = udaf(new graft.functions.SpaceSaving(1024, 5), Encoders.STRING)
    val counts = mem.toDF()
      .groupBy(col("source"))
      .agg(agg(col("doc_id")).as("hh"))
    val q = counts.writeStream.outputMode("complete")
      .format("memory").queryName("ss_stream")
      .option("checkpointLocation", tempDir("ss_cp"))
      .start()
    // two microbatches: the sketch must merge state across them
    mem.addData(inputRows(0, 200): _*); q.processAllAvailable()
    mem.addData(inputRows(200, 400): _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_stream").collect().map { r =>
      r.getString(0) -> r.getAs[collection.Seq[org.apache.spark.sql.Row]](1)
        .map(h => (h.getString(0), h.getLong(1))).toSeq
    }.toMap
    val expect = inputRows(0, 400).groupBy(_.source).map { case (src, rows) =>
      src -> rows.groupBy(_.doc_id).map { case (d, g) => (d, g.size.toLong) }
        .toSeq.sortBy { case (d, n) => (-n, d) }.take(5)
    }
    assert(got.keySet === expect.keySet)
    expect.foreach { case (src, top) => assert(got(src) === top, s"source $src") }
  }
}

/** A statement row as the sessions path reads it. */
case class SessionStmt(id: String, actor_key: String, source: String, ts: Timestamp, verb_id: String)

/** The sessionizer as it ran before the id dedup was fused into it: one
  * `flatMapGroupsWithState` keyed by (actor, source), fed by Spark's own
  * `dropDuplicatesWithinWatermark`. The differential reference of
  * [[Sessionize]]. */
object SessionizeReference {
  import org.apache.spark.sql.Dataset
  import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
  import Sessionize.{Event, Session}

  case class SessionState(start: Long, end: Long, n: Long, verbs: Map[String, Long])

  private def toSession(key: (String, String), s: SessionState): Session = {
    val top = s.verbs.toSeq.sortBy { case (v, n) => (-n, v) }.head._1
    Session(key._1, key._2, new Timestamp(s.start), new Timestamp(s.end),
      s.n, s.verbs.size, top)
  }

  def process(gapMs: Long)(
      key: (String, String),
      rows: Iterator[Event],
      state: GroupState[SessionState]): Iterator[Session] = {
    if (state.hasTimedOut) {
      val out = state.getOption.map(toSession(key, _)).iterator
      state.remove()
      return out
    }
    val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.verb_id))
    var cur = state.getOption
    val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur match {
        case Some(s) if t - s.end <= gapMs =>
          cur = Some(SessionState(math.min(s.start, t), math.max(s.end, t), s.n + 1,
            s.verbs.updated(e.verb_id, s.verbs.getOrElse(e.verb_id, 0L) + 1)))
        case Some(s) =>
          closed += toSession(key, s)
          cur = Some(SessionState(t, t, 1, Map(e.verb_id -> 1L)))
        case None =>
          cur = Some(SessionState(t, t, 1, Map(e.verb_id -> 1L)))
      }
    }
    cur.foreach { s =>
      state.update(s)
      state.setTimeoutTimestamp(s.end + gapMs)
    }
    closed.iterator
  }

  def apply(events: Dataset[Event], gapMs: Long = Sessionize.DefaultGapMs): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.actor_key, e.source))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(process(gapMs))
  }
}
