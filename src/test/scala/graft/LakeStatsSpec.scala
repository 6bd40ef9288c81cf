package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.streaming.LakeSink

class LakeStatsSpec extends SparkSuite with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def freshLake(): (String, LakeSink) = {
    val dir = tempDir("graft-lakestats")
    (dir, new LakeSink(dir))
  }

  /** The files (`batch=N/name`) the scan of `df` read, once `df` has run:
    * the file splits of the executed plan's parquet scans. */
  private def scanned(df: DataFrame): Seq[String] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .flatMap(_.inputRDD.partitions.toSeq.collect { case p: FilePartition => p.files.toSeq })
      .flatten.map { f =>
        val p = f.toPath
        s"${p.getParent.getName}/${p.getName}"
      }.distinct.sorted
  }

  /** The segment ids the scan of `df` read. */
  private def segments(df: DataFrame): Set[Long] =
    scanned(df).map(_.takeWhile(_ != '/').stripPrefix("batch=").toLong).toSet

  /** Rows and `event_id` sum of `pred` over `df`. */
  private def exact(df: DataFrame, pred: org.apache.spark.sql.Column) =
    df.filter(pred).agg(count(lit(1)), coalesce(sum("event_id"), lit(0L)))
      .as[(Long, Long)].head()

  private def batch(ids: Range, uLo: Long, uHi: Long) = {
    val span = math.max(1L, uHi - uLo)
    ids.map(i => (i.toLong, uLo + (i.toLong * 7919L) % span,
      s"2024-01-0${1 + i % 5}T0${i % 10}:00:00")).toDF("event_id", "user_id", "ts")
      .withColumn("ts", col("ts").cast("timestamp_ntz"))
  }

  test("zone stats recorded per commit; pruned read skips disjoint segments, loses nothing") {
    val (dir, sink) = freshLake()
    try {
      assert(sink.addBatchStats(0L, batch(0 until 100, 0L, 1000L), Seq("user_id")))
      assert(sink.addBatchStats(1L, batch(100 until 200, 5000L, 6000L), Seq("user_id")))
      assert(sink.addBatchStats(2L, batch(200 until 300, 9000L, 9500L), Seq("user_id")))
      val es = sink.committed()
      assert(es.forall(_.stats.contains("user_id")))
      // a range inside segment 1's stats only
      val box = col("user_id").between(5200L, 5800L)
      assert(segments(sink.read(spark).filter(box)) === Set(1L))
      // correctness: pruned+exact == full+exact
      assert(exact(sink.read(spark), box) === exact(mergeRead(dir, Seq(0L, 1L, 2L)), box))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("all-pruned box keeps the table schema; empty and old-format entries behave") {
    val (dir, sink) = freshLake()
    try {
      sink.addBatchStats(0L, batch(0 until 50, 0L, 100L), Seq("user_id"))
      // zero-row commit: never a candidate
      sink.addBatchStats(1L, batch(0 until 0, 0L, 1L), Seq("user_id"))
      // old-format entry (no stats, rows recorded): ALWAYS a candidate
      Files.write(Paths.get(dir, "_manifest.jsonl"),
        "{\"batch\": 7, \"rows\": -1}\n".getBytes, StandardOpenOption.APPEND)
      Files.createDirectories(Paths.get(dir, "batch=7"))
      batch(50 until 60, 77777L, 77800L).withColumn("_batch_id", lit(7L))
        .withColumn("_part_id", lit(0))
        .write.mode("overwrite").parquet(s"$dir/batch=7")
      val boxMiss = sink.read(spark).filter(col("user_id").between(900000L, 900001L))
      // old-format entry survives pruning (no stats → candidate)
      assert(segments(boxMiss) === Set(7L))
      assert(boxMiss.count() === 0L)
      assert(boxMiss.columns.contains("user_id"))
      // a box that hits batch 0 AND keeps the un-statted candidate
      assert(segments(sink.read(spark).filter(col("user_id").between(0L, 50L))) === Set(0L, 7L))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("zero-row-only lake: pruned read keeps the schema (review r6 finding #1)") {
    val (dir, sink) = freshLake()
    try {
      // the all-dup microbatch shape: a commit with 0 rows (explicitly
      // supported — it gets an empty bloom); the lake has NO data-bearing
      // segment, yet a pruned read must still resolve caller predicates
      assert(sink.addBatchStats(0L, batch(0 until 0, 0L, 1L), Seq("user_id")))
      val df = sink.read(spark).filter(col("user_id").between(5L, 9L))
      assert(df.columns.contains("user_id"), s"schema lost: ${df.columns.toSeq}")
      assert(df.count() === 0L)
      assert(scanned(df).isEmpty)
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("non-integral stat column fails loudly; absent column is skipped") {
    val (dir, sink) = freshLake()
    try {
      intercept[IllegalArgumentException] {
        sink.addBatchStats(0L, batch(0 until 5, 0L, 10L), Seq("ts")) }
      // the require fires BEFORE the batch write — no stranded segment dir,
      // no wasted write I/O on every streaming retry (review r6 finding #3)
      assert(!Files.exists(Paths.get(dir, "batch=0")))
      // a column the frame doesn't have: ignored, commit succeeds un-statted
      assert(sink.addBatchStats(1L, batch(0 until 5, 0L, 10L), Seq("nope")))
      assert(sink.committed().find(_.batch == 1L).get.stats.isEmpty)
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("compaction folds stats as the union; a missing stat drops the column") {
    val (dir, sink) = freshLake()
    try {
      sink.addBatchStats(0L, batch(0 until 40, 0L, 100L), Seq("user_id"))
      sink.addBatchStats(1L, batch(40 until 80, 200L, 300L), Seq("user_id"))
      sink.compactInPlace(spark)
      val fold = sink.committed()
      assert(fold.size === 1 && fold.head.batch < 0)
      val s = fold.head.stats("user_id")
      assert(s._1 >= 0L && s._1 < 100L && s._2 >= 200L && s._2 < 300L)
      // pruning still correct through the fold
      assert(segments(sink.read(spark).filter(col("user_id").between(150L, 160L))) ===
        Set(fold.head.batch))
      assert(sink.read(spark).filter(col("user_id").between(0L, 99L)).count() ===
        mergeRead(dir, Seq(fold.head.batch)).filter(col("user_id").between(0L, 99L)).count())

      // second lake: one statted + one UN-statted commit → fold must DROP
      // the column (a kept union would under-cover the un-statted rows)
      val (dir2, sink2) = freshLake()
      try {
        sink2.addBatchStats(0L, batch(0 until 40, 0L, 100L), Seq("user_id"))
        sink2.addBatch(1L, batch(40 until 80, 200L, 300L))
        sink2.compactInPlace(spark)
        assert(sink2.committed().head.stats.isEmpty)
        // and the fold is therefore always a candidate
        assert(segments(sink2.read(spark).filter(col("user_id").between(900000L, 900001L))) ===
          Set(sink2.committed().head.batch))
      } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir2))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("streaming ingest records stats per microbatch; pruned read after the run") {
    // the 100-TB shape: foreachBatch commits carry zone stats for free (from
    // the written files' footers), and a later analytical read skips cold
    // segments
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.SQLContext]
    val (dir, sink) = freshLake()
    try {
      val mem = MemoryStream[(Long, Long)]
      val q = mem.toDF().toDF("event_id", "user_id").writeStream
        .outputMode("append")
        .option("checkpointLocation",
          tempDir("graft-lscp"))
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          sink.addBatchStats(id, b, Seq("user_id"), tsCol = "none"); ()
        }
        .start()
      def feed(rows: Seq[(Long, Long)]): Unit = {
        mem.addData(rows: _*); q.processAllAvailable()
      }
      feed((0L until 50L).map(i => (i, i % 100L)))
      feed((50L until 100L).map(i => (i, 5000L + i % 100L)))
      feed((100L until 150L).map(i => (i, 90000L + i % 100L)))
      q.stop()
      assert(sink.committed().count(_.stats.contains("user_id")) === 3)
      val pruned = sink.read(spark).filter(col("user_id").between(5000L, 5099L))
      assert(segments(pruned).size === 1)
      val got = pruned.select("event_id").as[Long].collect().sorted
      assert(got === (50L until 100L).toArray)
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("manifest json round-trips stats (incl. a quoted column name)") {
    val e = LakeSink.Committed(3L, 10L, Some((5L, 9L)), Seq((0L, 2L)),
      Map("user_id" -> ((1L, 99L)), "we\"ird" -> ((-5L, 5L))))
    val line = LakeSink.entryJson(e)
    assert(LakeSink.Committed.parse(line) === e)
    // the pruning columns round-trip too, and are absent when unset
    val cols = e.copy(tsCol = Some("ts"), idCol = Some("i\\d"))
    assert(LakeSink.Committed.parse(LakeSink.entryJson(cols)) === cols)
    assert(!line.contains("ts_col") && !line.contains("id_col"))
  }

  test("schema fingerprint: erases nullability, tells column sets apart, round-trips the manifest") {
    val s = batch(0 until 1, 0L, 1L).schema
    assert(s.exists(!_.nullable)) // the written frame has non-null columns
    val fp = LakeSink.schemaFingerprint(s)
    assert(fp.matches("[0-9a-f]{16}"), fp)
    assert(fp === LakeSink.schemaFingerprint(org.apache.spark.sql.graftbridge.Bridge.asNullable(s)))
    assert(fp !== LakeSink.schemaFingerprint(s.add("extra", "string")))
    val e = LakeSink.Committed(3L, 10L, Some((5L, 9L)), schema = Some(fp))
    assert(LakeSink.Committed.parse(LakeSink.entryJson(e)) === e)
    // no fingerprint → no field, as in manifests written before it existed
    assert(!LakeSink.entryJson(e.copy(schema = None)).contains("schema"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("event_id", "user_id", "ts", "_batch_id").as[(Long, Long, java.time.LocalDateTime, Long)]
      .collect().sortBy(_._1).toSeq

  /** Today's inference read of the segments, for comparison. */
  private def mergeRead(dir: String, batches: Seq[Long]) =
    spark.read.option("mergeSchema", "true").parquet(batches.map(b => s"$dir/batch=$b"): _*)

  test("uniform-schema lake: plain and filtered reads plan without a Spark job") {
    val (dir, sink) = freshLake()
    try {
      sink.addBatchStats(0L, batch(0 until 100, 0L, 1000L), Seq("user_id"))
      sink.addBatchStats(1L, batch(100 until 200, 5000L, 6000L), Seq("user_id"))
      sink.addBatchStats(2L, batch(0 until 0, 0L, 1L), Seq("user_id")) // zero-row commit
      val fps = sink.committed().map(_.schema)
      assert(fps.forall(_.isDefined) && fps.distinct.size == 1, fps)
      val box = col("user_id").between(5200L, 5800L)
      val reads = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "read" -> (() => sink.read(spark)),
        "readGeneration" -> (() => sink.readGeneration(spark, 1L)),
        "filtered read" -> (() => sink.read(spark).filter(box)),
        "filtered readGeneration" -> (() => sink.readGeneration(spark, 0L).filter(box)),
        "keyset read" -> (() => sink.read(spark).filter(col("user_id") < 5300L ||
          (col("user_id") === 5300L && col("event_id") < 150L))))
      reads.foreach { case (name, r) =>
        val jobs = jobsIn(r().filter(col("user_id") > 0L).queryExecution.executedPlan)
        assert(jobs === 0L, s"$name scheduled $jobs jobs before execution")
      }
      // the footer schema is the one inference derives, and the rows agree
      val want = mergeRead(dir, Seq(0L, 1L, 2L))
      assert(sink.read(spark).schema === want.schema)
      assert(rows(sink.read(spark)) === rows(want))
      assert(rows(sink.read(spark).filter(box)) === rows(want.filter(box)))
      assert(segments(sink.read(spark).filter(box)) === Set(1L))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("schema resolves once per fingerprint: a second read of an unchanged manifest decodes no footer") {
    val (dir, sink) = freshLake()
    try {
      sink.addBatchStats(0L, batch(0 until 100, 0L, 1000L), Seq("user_id"))
      sink.addBatchStats(1L, batch(100 until 200, 5000L, 6000L), Seq("user_id"))
      val want = sink.read(spark).schema
      // break every footer's magic: a read that decoded one would find no
      // schema there and fall back to mergeSchema inference, a Spark job
      val files = Seq(0L, 1L).flatMap(b => scala.util.Using.resource(
        Files.list(Paths.get(dir, s"batch=$b")))(_.iterator().asScala
          .filter(f => f.getFileName.toString.matches("part-.*\\.parquet")).toList))
      assert(files.nonEmpty)
      val kept = files.map(f => f -> Files.readAllBytes(f))
      kept.foreach { case (f, bytes) =>
        Files.write(f, bytes.dropRight(4) ++ "XXXX".getBytes, StandardOpenOption.TRUNCATE_EXISTING)
      }
      try {
        assert(jobsIn(assert(sink.read(spark).schema === want)) === 0L)
        // a fresh instance has resolved nothing: it decodes, fails, infers
        assert(jobsIn(scala.util.Try(new LakeSink(dir).read(spark))) >= 1L)
      } finally kept.foreach { case (f, bytes) => Files.write(f, bytes) }
      assert(rows(sink.read(spark)) === rows(mergeRead(dir, Seq(0L, 1L))))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("manifest without schema fingerprints reads today's rows through mergeSchema") {
    val (dir, sink) = freshLake()
    try {
      sink.addBatchStats(0L, batch(0 until 50, 0L, 100L), Seq("user_id"))
      sink.addBatchStats(1L, batch(50 until 120, 200L, 300L), Seq("user_id"))
      val m = Paths.get(dir, "_manifest.jsonl")
      val old = Files.readAllLines(m).asScala.filter(_.nonEmpty)
        .map(l => LakeSink.entryJson(LakeSink.Committed.parse(l).copy(schema = None)))
      Files.write(m, old.mkString("", "\n", "\n").getBytes)
      assert(sink.committed().forall(_.schema.isEmpty))
      val got = sink.read(spark)
      val want = mergeRead(dir, Seq(0L, 1L))
      assert(got.schema === want.schema)
      assert(rows(got) === rows(want))
      // the fallback is the inference path: its job runs at resolution
      assert(jobsIn(sink.read(spark)) >= 1L)
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("compaction keeps the job-free read: the fold and later appends share a fingerprint") {
    val (dir, sink) = freshLake()
    try {
      (0 until 3).foreach(b => sink.addBatchStats(b.toLong,
        batch(b * 40 until (b + 1) * 40, b * 1000L, b * 1000L + 500L), Seq("user_id")))
      sink.compactInPlace(spark)
      assert(sink.committed().map(_.batch) === Seq(-1L))
      sink.addBatchStats(3L, batch(120 until 160, 3000L, 3500L), Seq("user_id"))
      val fps = sink.committed().map(_.schema)
      assert(fps.forall(_.isDefined) && fps.distinct.size == 1, fps)
      assert(jobsIn(sink.read(spark).queryExecution.executedPlan) === 0L)
      assert(rows(sink.read(spark)) === rows(mergeRead(dir, Seq(-1L, 3L))))
      assert(sink.read(spark).count() === 160L)
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  /** A batch whose `ts` is a (UTC-adjusted) timestamp, which the engine
    * session stores as INT64 TIMESTAMP_MICROS; every 9th ts is null. */
  private def tsBatch(ids: Range, uLo: Long, uHi: Long) =
    batch(ids, uLo, uHi).withColumn("ts",
      when(col("event_id") % 9 =!= 4, col("ts").cast("timestamp")))
      .withColumn("bucket", (col("event_id") % 7).cast("int"))

  /** What a commit of segment `b` must record, by the aggregate rule over a
    * plain read of the segment: its manifest entry, its `_metrics` line and,
    * for an id column, its bloom bytes. */
  private def oracle(dir: String, b: Long, ts: Option[String], zcols: Seq[String],
                     idCol: Option[String] = None) = {
    val seg = spark.read.parquet(s"$dir/batch=$b")
    val parts = seg.groupBy("_part_id").count().as[(Int, Long)].collect().sortBy(_._1)
    val rows = parts.map(_._2).sum
    def span(c: org.apache.spark.sql.Column): Option[(Long, Long)] = {
      val r = seg.agg(min(c), max(c)).head()
      if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
    }
    val entry = LakeSink.Committed(b, rows,
      ts.flatMap(c => span(unix_micros(col(c).cast("timestamp")))), Seq.empty,
      zcols.flatMap(c => span(col(c).cast("long")).map(c -> _)).toMap,
      Some(LakeSink.schemaFingerprint(seg.schema)), ts, idCol)
    val metrics = parts.map { case (p, n) => s"""{"part": $p, "rows": $n}""" }
      .mkString(s"""{"batch": $b, "partitions": [""", ",", "]}")
    val bloom = idCol.map { c =>
      val bf =
        if (rows == 0) org.apache.spark.util.sketch.BloomFilter.create(1000L, 0.01)
        else seg.stat.bloomFilter(c, math.max(1000L, rows), 0.01)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos); bos.toByteArray.toSeq
    }
    (entry, metrics, bloom)
  }

  /** Asserts that commit `b` recorded exactly what [[oracle]] derives. */
  private def assertParity(dir: String, sink: LakeSink, b: Long, ts: Option[String],
                           zcols: Seq[String], idCol: Option[String] = None): Unit = {
    val (entry, metrics, bloom) = oracle(dir, b, ts, zcols, idCol)
    assert(sink.committed().find(_.batch == b) === Some(entry))
    assert(Files.readString(Paths.get(dir, "_metrics", s"batch-$b.json")).trim === metrics)
    bloom.foreach(want => assert(
      Files.readAllBytes(Paths.get(dir, "_bloom", s"batch-$b.bin")).toSeq === want))
  }

  private def segmentFiles(dir: String, b: Long) =
    Files.list(Paths.get(dir, s"batch=$b")).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq

  test("footer stats: a multi-partition frame commits in ONE job, as the aggregate rule") {
    val (dir, sink) = freshLake()
    try {
      val df = tsBatch(0 until 400, 0L, 100000L).repartition(4, col("event_id"))
        .localCheckpoint()
      assert(jobsIn(sink.addBatchStats(0L, df, Seq("user_id", "bucket"))) === 1L)
      assert(segmentFiles(dir, 0L).size === 4)
      assertParity(dir, sink, 0L, Some("ts"), Seq("user_id", "bucket"))
      val e = sink.committed().head
      assert(e.rows === 400L && e.range.isDefined && e.stats.keySet === Set("user_id", "bucket"))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("footer stats: a LocalRelation frame writes _part_id 0 from two files") {
    val (dir, sink) = freshLake()
    try {
      // Catalyst folds the lineage projection into the LocalRelation, so
      // spark_partition_id() is 0 on every row although two tasks write it
      assert(sink.addBatchStats(0L, tsBatch(0 until 2, 0L, 10L), Seq("user_id")))
      assert(segmentFiles(dir, 0L).size === 2)
      assert(spark.read.parquet(s"$dir/batch=0").select("_part_id").distinct()
        .as[Int].collect().toSeq === Seq(0))
      assertParity(dir, sink, 0L, Some("ts"), Seq("user_id"))
      assert(Files.readString(Paths.get(dir, "_metrics", "batch-0.json")).trim ===
        """{"batch": 0, "partitions": [{"part": 0, "rows": 2}]}""")
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("footer stats: an empty batch, an all-null zone column, a ts range under TIMESTAMP_MICROS") {
    val (dir, sink) = freshLake()
    try {
      // empty batch: one empty file, 0 rows, no range, no stats, no parts
      assert(sink.addBatchStats(0L, tsBatch(0 until 0, 0L, 1L), Seq("user_id")))
      assertParity(dir, sink, 0L, Some("ts"), Seq("user_id"))
      val e0 = sink.committed().head
      assert(e0.rows === 0L && e0.range.isEmpty && e0.stats.isEmpty)
      // all-null zone column: no stat for it, the other column keeps one
      val nulls = tsBatch(0 until 60, 0L, 100L).repartition(2)
        .withColumn("user_id", lit(null).cast("long"))
      assert(sink.addBatchStats(1L, nulls, Seq("user_id", "bucket")))
      assertParity(dir, sink, 1L, Some("ts"), Seq("user_id", "bucket"))
      assert(sink.committed().find(_.batch == 1L).get.stats.keySet === Set("bucket"))
      // ts under TIMESTAMP_MICROS, spread over three partitions
      val ranged = tsBatch(60 until 150, 0L, 100L).repartition(3)
      assert(sink.addBatchStats(2L, ranged, Seq("user_id")))
      assertParity(dir, sink, 2L, Some("ts"), Seq("user_id"))
      val want = ranged.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .as[(Long, Long)].head()
      assert(sink.committed().find(_.batch == 2L).get.range === Some(want))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("footer stats: INT96 timestamps fall back to one aggregate over the written files") {
    val (dir, sink) = freshLake()
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try {
      val df = tsBatch(0 until 200, 0L, 5000L).repartition(3).localCheckpoint()
      // the write, then the aggregate's two jobs (shuffle map + result)
      assert(jobsIn(sink.addBatchStats(0L, df, Seq("user_id"))) === 3L)
      assertParity(dir, sink, 0L, Some("ts"), Seq("user_id"))
      assert(sink.committed().head.range.isDefined)
    } finally {
      spark.conf.set(key, before)
      graft.operators.LayoutOps.deleteTree(Paths.get(dir))
    }
  }

  test("footer stats: addBatchMerged records the aggregate rule's entry, metrics and bloom") {
    val (dir, sink) = freshLake()
    try {
      // the merge path probes string ids (statement ids)
      assert(sink.addBatchMerged(0L, stmts(0 until 120).repartition(2), "id"))
      assertParity(dir, sink, 0L, Some("ts"), Seq.empty, Some("id"))
      // half the ids already committed: only the novel part lands
      assert(sink.addBatchMerged(1L, stmts(60 until 200).repartition(3), "id"))
      assertParity(dir, sink, 1L, Some("ts"), Seq.empty, Some("id"))
      assert(sink.committed().map(_.rows) === Seq(120L, 80L))
      // all-dup batch: 0 rows and the explicit empty bloom
      assert(sink.addBatchMerged(2L, stmts(0 until 50), "id"))
      assertParity(dir, sink, 2L, Some("ts"), Seq.empty, Some("id"))
      assert(sink.committed().last.rows === 0L)
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  /** `body` with AQE off: the session a streaming `foreachBatch` runs in. */
  private def withoutAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, before)
  }

  private def stmts(ids: Range) =
    tsBatch(ids, 0L, 1000L).withColumn("id", format_string("s-%d", col("event_id")))

  test("right-sized merge commit: a ts-bearing batch writes one file in 3 jobs, as the aggregate rule") {
    val (dir, sink) = freshLake()
    try withoutAqe {
      // probe aggregate (fills the cache) + write + bloom; the size comes
      // from the filled cache's statistics, not from a job
      assert(jobsIn(sink.addBatchMerged(0L, stmts(0 until 300).repartition(3), "id")) === 3L)
      assert(segmentFiles(dir, 0L).size === 1)
      assertParity(dir, sink, 0L, Some("ts"), Seq.empty, Some("id"))
      // a probing commit (half its ids already committed) is right-sized too
      assert(sink.addBatchMerged(1L, stmts(150 until 450).repartition(3), "id"))
      assert(segmentFiles(dir, 1L).size === 1)
      assertParity(dir, sink, 1L, Some("ts"), Seq.empty, Some("id"))
      assert(sink.committed().map(_.rows) === Seq(300L, 150L))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("right-sized merge commit: a ts-less batch keeps its partitioning") {
    val (dir, sink) = freshLake()
    try withoutAqe {
      // no ts column → no probe aggregate → the size is unknown before the
      // write, so the commit writes one file per shuffle partition of the
      // intra-batch dedup, as before
      val df = stmts(0 until 300).drop("ts").repartition(3)
      assert(sink.addBatchMerged(0L, df, "id"))
      val shuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
      assert(segmentFiles(dir, 0L).size === shuffle)
      assert(sink.read(spark).count() === 300L)
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("reads skip zero-row segments; the mergeSchema fallback still sees their columns") {
    val (dir, sink) = freshLake()
    try {
      sink.addBatchStats(0L, batch(0 until 50, 0L, 100L), Seq("user_id"))
      sink.addBatchStats(1L, batch(0 until 0, 0L, 1L), Seq("user_id")) // zero-row commit
      sink.addBatchStats(2L, batch(50 until 90, 200L, 300L), Seq("user_id"))
      val files = sink.read(spark).inputFiles.toSeq
      assert(files.nonEmpty && !files.exists(_.contains("/batch=1/")), files)
      assert(files.count(_.contains("/batch=0/")) >= 1 && files.count(_.contains("/batch=2/")) >= 1)
      assert(sink.read(spark).count() === 90L)
      assert(sink.readAsOf(spark, 1L).get.inputFiles.forall(!_.contains("/batch=1/")))
      // a column only an empty segment added: fingerprints disagree, so the
      // read falls back to mergeSchema over every segment and keeps it
      sink.addBatchStats(3L, batch(0 until 0, 0L, 1L).withColumn("extra", lit(1L)), Seq("user_id"))
      val evolved = sink.read(spark)
      assert(evolved.columns.contains("extra"), evolved.columns.toSeq)
      assert(evolved.count() === 90L)
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("a lake of zero-row segments reads with the table schema; so does an empty generation") {
    val (dir, sink) = freshLake()
    try {
      sink.addBatchStats(0L, batch(0 until 0, 0L, 1L), Seq("user_id"))
      sink.addBatchStats(1L, batch(0 until 0, 0L, 1L), Seq("user_id"))
      val want = mergeRead(dir, Seq(0L, 1L)).schema
      val all = sink.read(spark)
      assert(all.schema === want)
      assert(all.count() === 0L)
      val gen = sink.readGeneration(spark, 1L)
      assert(gen.schema === want)
      assert(gen.count() === 0L)
      // one schema-bearing segment is scanned, not every empty one
      assert(all.inputFiles.forall(_.contains("/batch=0/")))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("addBatch of a checkpointed frame runs exactly one Spark job") {
    val (dir, sink) = freshLake()
    try {
      val df = tsBatch(0 until 300, 0L, 1000L).repartition(3).localCheckpoint()
      assert(jobsIn(sink.addBatch(0L, df)) === 1L)
      assert(sink.committed().map(_.rows) === Seq(300L))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  /** Statements `ids` on day `day` of 2024-02 (UTC), a minute apart, with
    * string ids `s-<n>`. */
  private def dayStmts(ids: Range, day: Int) =
    ids.map(i => (i.toLong, s"s-$i", i % 17L)).toDF("event_id", "id", "user_id")
      .withColumn("ts", timestamp_seconds(lit(1706659200L + day * 86400L) + col("event_id") * 60L))

  /** Three merged commits, one a day (Feb 1-3), ids s-0 … s-299. */
  private def dayLake(): (String, LakeSink) = {
    val (dir, sink) = freshLake()
    (0 until 3).foreach(d => assert(sink.addBatchMerged(d.toLong,
      dayStmts(d * 100 until (d + 1) * 100, d + 1), "id")))
    (dir, sink)
  }

  private def ts(s: String) = lit(s).cast("timestamp")

  /** The ids `pred` keeps, through the lake and through a plain read. */
  private def idsBoth(dir: String, sink: LakeSink, pred: org.apache.spark.sql.Column) = {
    def ids(df: DataFrame) = df.filter(pred).select("id").as[String].collect().sorted.toSeq
    val got = ids(sink.read(spark))
    assert(got === ids(mergeRead(dir, sink.committed().map(_.batch))))
    got
  }

  test("filtered reads drop segments by event-time range and id bloom, keeping every row") {
    val (dir, sink) = dayLake()
    try {
      assert(sink.committed().map(e => (e.tsCol, e.idCol)) === Seq.fill(3)((Some("ts"), Some("id"))))
      val day2 = col("ts") >= ts("2024-02-02 00:00:00") && col("ts") < ts("2024-02-03 00:00:00")
      assert(segments(sink.read(spark).filter(day2)) === Set(1L))
      assert(idsBoth(dir, sink, day2).size === 100)
      // the keyset disjunction of a descending page: ts < c OR (ts = c AND id < i)
      val c = ts("2024-02-02 02:30:00") // s-150
      val keyset = col("ts") < c || (col("ts") === c && col("id") < "s-150")
      assert(segments(sink.read(spark).filter(keyset)) === Set(0L, 1L))
      assert(idsBoth(dir, sink, keyset).size === 150)
      // id = v and id IN (…) through the string blooms
      assert(segments(sink.read(spark).filter(col("id") === "s-250")) === Set(2L))
      assert(idsBoth(dir, sink, col("id") === "s-250") === Seq("s-250"))
      val in = col("id").isin("s-5", "s-250", "nope")
      assert(segments(sink.read(spark).filter(in)) === Set(0L, 2L))
      assert(idsBoth(dir, sink, in) === Seq("s-250", "s-5"))
      // an IN list long enough to plan as InSet
      val many = col("id").isin((250 until 270).map(i => s"s-$i"): _*)
      assert(segments(sink.read(spark).filter(many)) === Set(2L))
      assert(idsBoth(dir, sink, many).size === 20)
      // a contradiction reads nothing
      val never = col("ts") > ts("2024-02-03 00:00:00") && col("ts") < ts("2024-02-01 12:00:00")
      assert(scanned(sink.read(spark).filter(never)).isEmpty)
      // no id matches anywhere: nothing is read, the schema stays
      val none = sink.read(spark).filter(col("id") === "nope" && col("ts") > ts("2024-02-01 00:00:00"))
      assert(scanned(none).isEmpty && none.count() === 0L && none.columns.contains("id"))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("a compacted fold's integral-id bloom prunes event_id IN (…); an entry without one is kept") {
    val (dir, sink) = freshLake()
    try {
      sink.addBatch(0L, dayStmts(0 until 100, 1))
      sink.addBatch(1L, dayStmts(100 until 200, 2))
      sink.compactInPlace(spark, idCol = Some("event_id"))
      sink.addBatch(2L, dayStmts(200 until 300, 3)) // no bloom, no id_col
      val fold = sink.committed().head
      assert(fold.batch < 0 && fold.idCol === Some("event_id") && sink.committed()(1).idCol.isEmpty)
      val late = col("event_id").isin(250L, 260L)
      assert(segments(sink.read(spark).filter(late)) === Set(2L))
      assert(idsBoth(dir, sink, late) === Seq("s-250", "s-260"))
      assert(segments(sink.read(spark).filter(col("event_id") === 5L)) === Set(fold.batch, 2L))
      assert(idsBoth(dir, sink, col("event_id") === 5L) === Seq("s-5"))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
  }

  test("filtered reads keep what they cannot judge: old-format entries, timestamp_ntz, non-literal and null comparisons") {
    val (dir, sink) = dayLake()
    try {
      val all = Set(0L, 1L, 2L)
      val day2 = col("ts") >= ts("2024-02-02 00:00:00") && col("ts") < ts("2024-02-03 00:00:00")
      // a ts compared with a non-literal, and a function of ts
      val nonLit = col("ts") > timestamp_seconds(col("user_id"))
      assert(segments(sink.read(spark).filter(nonLit)) === all)
      assert(idsBoth(dir, sink, nonLit).size === 300)
      val fn = unix_micros(col("ts")) < 1706832000000000L // before Feb 2
      assert(segments(sink.read(spark).filter(fn)) === all)
      assert(idsBoth(dir, sink, fn).size === 100)
      // an Or with a side that bounds neither ts nor id
      val either = col("ts") < ts("2024-02-02 00:00:00") || col("id") === "s-250"
      assert(segments(sink.read(spark).filter(either)) === all)
      assert(idsBoth(dir, sink, either).size === 101)
      // null literals, straight to the index (the optimizer folds them
      // out of a DataFrame filter before any scan is planned)
      import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThan, In, Literal}
      val read = sink.read(spark)
      val plan = read.queryExecution.analyzed
      val index = plan.collectFirst { case l: LogicalRelation => l.relation }
        .collect { case r: HadoopFsRelation => r.location }.get
      def attr(n: String) = plan.output.find(_.name == n).get
      def files(f: org.apache.spark.sql.catalyst.expressions.Expression) =
        index.listFiles(Nil, Seq(f)).flatMap(_.files).size
      val total = files(Literal(true))
      assert(total === read.inputFiles.length && total >= 3)
      assert(files(GreaterThan(attr("ts"), Literal(null, org.apache.spark.sql.types.TimestampType))) === total)
      assert(files(EqualTo(attr("id"), Literal(null, org.apache.spark.sql.types.StringType))) === total)
      assert(files(In(attr("id"), Seq(Literal("s-5"), Literal(null, org.apache.spark.sql.types.StringType)))) === total)
      assert(files(EqualTo(attr("id"), Literal("s-250"))) < total) // the same index does prune
      // old format: entries without the column fields are never range- or
      // bloom-pruned, though they still carry a range and a bloom …
      val m = Paths.get(dir, "_manifest.jsonl")
      def rewrite(f: LakeSink.Committed => LakeSink.Committed): Unit =
        Files.write(m, sink.committed().map(e => LakeSink.entryJson(f(e)))
          .mkString("", "\n", "\n").getBytes)
      rewrite(_.copy(tsCol = None, idCol = None))
      assert(sink.committed().forall(e => e.range.isDefined && e.tsCol.isEmpty))
      assert(segments(sink.read(spark).filter(day2)) === all)
      assert(segments(sink.read(spark).filter(col("id") === "s-250")) === all)
      // … nor when they carry no stats, range or bloom either
      rewrite(e => LakeSink.Committed(e.batch, e.rows, None, schema = e.schema))
      graft.operators.LayoutOps.deleteTree(Paths.get(dir, "_bloom"))
      assert(segments(sink.read(spark).filter(day2 && col("id") === "s-150")) === all)
      assert(idsBoth(dir, sink, day2 && col("id") === "s-150") === Seq("s-150"))
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir))
    // timestamp_ntz ts: the manifest range is unix_micros(ts.cast("timestamp")),
    // which is not the column's value, so it is never range-pruned
    val (dir2, sink2) = freshLake()
    try {
      sink2.addBatchStats(0L, batch(0 until 50, 0L, 100L), Seq("user_id"))
      sink2.addBatchStats(1L, batch(50 until 100, 0L, 100L), Seq("user_id"))
      assert(sink2.committed().forall(e => e.range.isDefined && e.tsCol === Some("ts")))
      val late = col("ts") > lit("2030-01-01 00:00:00").cast("timestamp_ntz")
      assert(segments(sink2.read(spark).filter(late)) === Set(0L, 1L))
      assert(sink2.read(spark).filter(late).count() === 0L)
      val early = col("ts") < lit("2024-01-02 00:00:00").cast("timestamp_ntz")
      assert(sink2.read(spark).filter(early).count() ===
        mergeRead(dir2, Seq(0L, 1L)).filter(early).count())
    } finally graft.operators.LayoutOps.deleteTree(Paths.get(dir2))
  }
}
