package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Lrs
import graft.streaming.{DurableIncrementalDedup, LakeSink, StreamPipeline}

object Workloads {
  /** The workloads BENCHMARK.json lists; `ingest_lake` is runnable by name
    * but outside the benchmark's time budget (see README.md). */
  val Benchmarked: Seq[String] = Seq("ingest_sessions", "lrs_read", "dedup_maint")

  def apply(name: String): Workload = name match {
    case "ingest_lake" => new IngestLake
    case "ingest_sessions" => new IngestSessions
    case "lrs_read" => new LrsRead
    case "dedup_maint" => new DedupMaint
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Shared shape of the two statement-ingest workloads: a seeded Synth
  * backlog drained by one AvailableNow query per round into a fresh lake
  * and checkpoint. */
abstract class StatementIngest extends Workload {
  val rows = 9000L
  val files = 6

  protected var layout: Inputs.Layout = _
  protected val batches = mutable.ArrayBuffer.empty[BatchRec]
  protected val sinkRecs = mutable.ArrayBuffer.empty[SinkRec]
  protected val lakes = mutable.LinkedHashMap.empty[Int, String]
  /** Event-time watermark reported by the last trigger of each round. */
  protected val lastWatermark = mutable.HashMap.empty[Int, Option[String]]

  protected def start(ctx: Ctx, sink: ProbeSink, cp: String, filesPerTrigger: Int,
                      traced: Boolean): org.apache.spark.sql.streaming.StreamingQuery

  def setup(ctx: Ctx): Unit = {
    layout = Inputs.writeStatements(ctx.spark, ctx.fresh("input"), ctx.opts.seed, rows, files)
    ctx.res.detail("input_digest") = Inputs.statementDigest(layout)
    ctx.res.detail("input_rows") = layout.rows
  }

  /** One untimed drain of the input in two microbatches (the second runs
    * against existing state), so the timed rounds run compiled code. */
  def warmup(ctx: Ctx): Unit = {
    val lake = ctx.fresh("warmup-lake")
    val cp = ctx.fresh("warmup-cp")
    Streams.drain(ctx, -1, start(ctx, new ProbeSink(lake, ctx, -1, false, mutable.ArrayBuffer.empty),
      cp, files / 2, traced = false))
    Harness.rm(lake); Harness.rm(cp)
  }

  def round(ctx: Ctx, round: Int, traced: Boolean): RoundOut = {
    val lake = ctx.fresh("lake")
    val cp = ctx.fresh("cp")
    lakes(round) = lake
    val (wallMs, recs) = ctx.tracer.anchored("round") {
      Streams.drain(ctx, round, start(ctx, new ProbeSink(lake, ctx, round, traced, sinkRecs), cp, 1, traced))
    }
    if (traced) batches ++= recs
    lastWatermark(round) = recs.lastOption.flatMap(_.watermark)
    RoundOut(round, traced, wallMs, layout.rows,
      recs.filter(_.rowsIn > 0).map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
  }

  def storedBytesPerRecord: Double = Harness.dirBytes(lakes.values.last).toDouble / layout.rows

  protected def reportLayers(ctx: Ctx, rounds: Seq[RoundOut]): Unit = {
    val traced = rounds.filter(_.traced).map(_.round).toSet
    if (traced.nonEmpty) {
      Streams.reportTriggerLoop(ctx, batches.toSeq, traced.size)
      Streams.reportMapPath(ctx, batches.toSeq, traced.size)
      Streams.reportState(ctx, batches.toSeq, "dedupeWithinWatermark", "dedup_state")
      Streams.reportSink(ctx, sinkRecs.filter(r => traced(r.round)).toSeq, traced.size)
    }
  }
}

/** Backlog → validate → convert → watermarked dedup → merge-by-id lake,
  * exactly `StreamPipeline.toLake(deduped(statements(src)), sink)`. */
final class IngestLake extends StatementIngest {
  val name = "ingest_lake"

  protected def start(ctx: Ctx, sink: ProbeSink, cp: String, filesPerTrigger: Int, traced: Boolean) =
    StreamPipeline.toLake(StreamPipeline.deduped(Streams.mapPath(ctx, layout.dir, filesPerTrigger, traced)),
      sink, cp, trigger = Trigger.AvailableNow(), mergeById = true).start()

  def finish(ctx: Ctx, rounds: Seq[RoundOut]): Unit = {
    val expected = Checks.expectedIds(layout)
    lakes.values.foreach { lake =>
      val ids = new LakeSink(lake).read(ctx.spark).select("event_id").collect().map(_.getString(0)).toSeq
      ctx.res.check(Checks.lakeIds(expected, ids))
    }
    reportLayers(ctx, rounds)
  }
}

/** The same input and map path, then per-actor sessionization
  * (`flatMapGroupsWithState`, RocksDB) into `LakeSink.addBatch` — the shape
  * of `graft.Bench.streamingRun`. */
final class IngestSessions extends StatementIngest {
  val name = "ingest_sessions"

  protected def start(ctx: Ctx, sink: ProbeSink, cp: String, filesPerTrigger: Int, traced: Boolean) = {
    val sessions = StreamPipeline.sessions(StreamPipeline.deduped(
      Streams.mapPath(ctx, layout.dir, filesPerTrigger, traced)))
    sessions.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) => sink.addBatch(id, b); () }
      .start()
  }

  def finish(ctx: Ctx, rounds: Seq[RoundOut]): Unit = {
    val evs = Checks.expectedEvents(layout)
    lakes.foreach { case (r, lake) =>
      val got = new LakeSink(lake).read(ctx.spark)
        .select(col("actor_key"), col("source"), col("session_start"), col("session_end"),
          col("n_events"), col("n_verbs"), col("top_verb")).collect().toSeq.map { row =>
          Checks.Sess(row.getString(0), row.getString(1), row.getTimestamp(2).getTime,
            row.getTimestamp(3).getTime, row.getLong(4), row.getInt(5), row.getString(6))
        }
      // the watermark of the round's last trigger decides which sessions
      // the event-time timeout has closed
      val wmMs = lastWatermark.get(r).flatten.map(java.time.Instant.parse(_).toEpochMilli)
      wmMs match {
        case Some(w) =>
          ctx.res.check(Checks.sessions(Checks.sessionize(evs, graft.streaming.Sessionize.DefaultGapMs, w), got))
        case None => ctx.res.check(Seq(s"ingest_sessions: round $r reported no watermark"))
      }
    }
    reportLayers(ctx, rounds)
    val traced = rounds.filter(_.traced).map(_.round).toSet
    if (traced.nonEmpty) {
      Streams.reportState(ctx, batches.toSeq, "flatMapGroupsWithState", "sessionize")
      ctx.res.layer("sessionize.rows_out") = (ctx.res.layer("lakesink.rows_in")._1, "count")
    }
  }
}

/** One `GET /statements` page as the client saw it. */
final case class QueryRec(round: Int, seq: Long, kind: String, buildMs: Double, execMs: Double,
                          rows: Seq[(Long, String)], q: Lrs.Query, filesRead: Long,
                          bytesRead: Long, rowsScanned: Long) {
  def ms: Double = buildMs + execMs
}

/** Closed loop, one client: passes over a seeded query mix against
  * `LakeSink.read` of a lake built in setup by the ingest_lake code path. */
final class LrsRead extends Workload {
  val name = "lrs_read"
  val rows = 6000L
  val files = 2

  private var lake: LakeSink = _
  private var layout: Inputs.Layout = _
  private var table: IndexedSeq[Checks.Row] = _
  private var steps: Seq[Queries.Step] = _
  private val recs = mutable.ArrayBuffer.empty[QueryRec]
  private val sinkRecs = mutable.ArrayBuffer.empty[SinkRec]
  private var seq = 0L

  def setup(ctx: Ctx): Unit = {
    layout = Inputs.writeStatements(ctx.spark, ctx.fresh("input"), ctx.opts.seed, rows, files)
    ctx.res.detail("input_digest") = Inputs.statementDigest(layout)
    ctx.res.detail("input_rows") = layout.rows
  }

  /** Build the lake with the ingest_lake code path (merge by id, one file
    * per microbatch), collect the oracle's columns, and send one query of
    * each kind. In a traced run the build's store writes give the
    * `lakesink.*` metrics of the merge path. */
  def warmup(ctx: Ctx): Unit = {
    lake = new ProbeSink(ctx.fresh("lake"), ctx, -1, ctx.opts.trace, sinkRecs)
    val cp = ctx.fresh("cp")
    val t0 = System.nanoTime()
    Streams.drain(ctx, -1, StreamPipeline.toLake(
      StreamPipeline.deduped(Streams.mapPath(ctx, layout.dir, 1, traced = false)), lake, cp,
      mergeById = true).start())
    ctx.res.detail("lake_build_s") = (System.nanoTime() - t0) / 1e9
    Harness.rm(cp)
    // the oracle's copy of the lake columns the GET filters read
    val ca = col("stmt.context.contextActivities")
    def ids(f: String) = coalesce(transform(ca.getField(f), x => x.getField("id")), typedLit(Seq.empty[String]))
    val sub = when(col("stmt.object.objectType") === "SubStatement", array(col("stmt.object.object.id")))
      .otherwise(typedLit(Seq.empty[String]))
    table = lake.read(ctx.spark).select(col("event_id"), unix_micros(col("ts")), col("verb_id"),
      col("stmt.actor.account.name"), col("stmt.actor.account.homePage"),
      concat(array(col("stmt.object.id")), ids("parent"), ids("grouping"), ids("category"), ids("other"), sub))
      .collect().map(r => Checks.Row(r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4), r.getSeq[String](5))).toIndexedSeq
    steps = Queries.pass(ctx.opts.seed, table)
    pass(ctx, -1, traced = false, steps.groupBy(_.kind).values.map(_.head).toSeq)
  }

  private def pass(ctx: Ctx, round: Int, traced: Boolean,
                   steps: Seq[Queries.Step] = steps): Seq[QueryRec] = ctx.inRound(round) {
    ctx.inScope("lrs") {
      steps.flatMap { st =>
        var q = st.q
        (1 to st.pages).iterator.map { _ =>
          val r = query(ctx, round, st.kind, q, traced)
          Lrs.nextCursor(r._2, q.limit).foreach(c => q = q.copy(searchAfter = Some(c)))
          r._1
        }.toSeq
      }
    }
  }

  private def query(ctx: Ctx, round: Int, kind: String, q: Lrs.Query,
                    traced: Boolean): (QueryRec, Array[(java.sql.Timestamp, String)]) = {
    seq += 1
    ctx.inBatch(seq) {
      ctx.tracer.span("lrs.query") {
        val t0 = System.nanoTime()
        val df = ctx.tracer.span("lrs.build") {
          val df = Lrs.statements(lake.read(ctx.spark), q).select("ts", "event_id", "event")
          df.queryExecution.executedPlan
          df
        }
        val t1 = System.nanoTime()
        val got = ctx.tracer.span("lrs.exec")(df.collect())
        val t2 = System.nanoTime()
        val page = got.map(r => (r.getTimestamp(0), r.getString(1)))
        val (files, bytes, scanned) = if (traced) Plans.scanMetrics(df) else (0L, 0L, 0L)
        (QueryRec(round, seq, kind, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
          page.toSeq.map { case (ts, id) => (Queries.micros(ts), id) }, q, files, bytes, scanned), page)
      }
    }
  }

  def round(ctx: Ctx, round: Int, traced: Boolean): RoundOut = {
    val t0 = System.nanoTime()
    val out = ctx.tracer.anchored("round")(pass(ctx, round, traced))
    val wallMs = (System.nanoTime() - t0) / 1e6
    recs ++= out
    ctx.res.ops(out.size.toLong)
    RoundOut(round, traced, wallMs, out.size.toLong, out.map(_.ms))
  }

  def storedBytesPerRecord: Double = Harness.dirBytes(lake.path).toDouble / layout.rows

  def finish(ctx: Ctx, rounds: Seq[RoundOut]): Unit = {
    recs.groupBy(_.round).toSeq.sortBy(_._1).foreach { case (r, qs) =>
      ctx.res.check(qs.toSeq.flatMap(x => Checks.pages(s"round $r query ${x.seq} (${x.kind})",
        Checks.page(table, x.q, Queries.parse), x.rows)))
    }
    val plain = recs.filter(r => !rounds.find(_.round == r.round).exists(_.traced)).toSeq
    val d = ctx.res.detail
    d("queries_per_s") = Stats.median(rounds.filterNot(_.traced).map(r => recs.count(_.round == r.round) / (r.wallMs / 1000)))
    d("query_p50_ms") = Stats.median(plain.map(_.ms))
    Stats.percentile(plain.map(_.ms), 0.9).foreach(d("query_p90_ms") = _)
    d("query_samples") = plain.size
    val traced = rounds.filter(_.traced).map(_.round).toSet
    if (traced.nonEmpty) {
      Streams.reportSink(ctx, sinkRecs.toSeq, 1)
      val t = recs.filter(r => traced(r.round)).toSeq
      val jobs = ctx.census.allJobs.filter(j => j.scope == "lrs" && traced(j.round))
      val l = ctx.res.layer
      l("lrs.jobs_per_query") = (jobs.size.toDouble / t.size, "count")
      l("lrs.files_read") = (t.map(_.filesRead).sum.toDouble / t.size, "count")
      l("lrs.bytes_read") = (t.map(_.bytesRead).sum.toDouble / t.size, "B")
      l("lrs.rows_scanned_per_row_returned") =
        (t.map(_.rowsScanned).sum.toDouble / math.max(1L, t.map(_.rows.size.toLong).sum), "ratio")
      d("lrs.build_ms") = Stats.median(t.map(_.buildMs))
      d("lrs.exec_ms") = Stats.median(t.map(_.execMs))
      Queries.Kinds.foreach { k =>
        val ks = t.filter(_.kind == k)
        if (ks.nonEmpty) d(s"lrs.${k}_p50_ms") = Stats.median(ks.map(_.ms))
      }
    }
  }
}

/** The `graft.Bench.maintRun` shape: replicated documents with planted
  * near-duplicates streamed in two microbatches (the second probes the
  * state the first committed) into `DurableIncrementalDedup.addBatch`, a
  * fresh state lake per round. */
final class DedupMaint extends Workload {
  val name = "dedup_maint"
  val baseDocs = 125
  val reps = 16
  val files = 8
  val perTrigger = 4

  final case class DRec(round: Int, batch: Long, ms: Double, stats: graft.streaming.IncrementalDedup.BatchStats,
                        span: Int)

  private var dir: String = _
  private val recs = mutable.ArrayBuffer.empty[DRec]
  private val lakes = mutable.LinkedHashMap.empty[Int, String]

  def setup(ctx: Ctx): Unit = {
    dir = ctx.fresh("docs")
    Inputs.writeDocs(ctx.spark, dir, ctx.opts.seed, baseDocs, reps, files)
    ctx.res.detail("input_digest") = Inputs.docDigest(ctx.opts.seed, baseDocs, reps, files)
    ctx.res.detail("input_rows") = baseDocs * reps
  }

  /** One untimed drain in two microbatches (the second probes existing
    * state), so the timed rounds run compiled code. */
  def warmup(ctx: Ctx): Unit = {
    val lake = ctx.fresh("warmup-state")
    drain(ctx, -1, lake, files / 2)
    Harness.rm(lake)
  }

  private def drain(ctx: Ctx, round: Int, lake: String, filesPerTrigger: Int): (Double, Seq[BatchRec]) = {
    val cp = ctx.fresh("cp")
    val maint = new DurableIncrementalDedup(ctx.spark, lake)
    val docs = ctx.spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", filesPerTrigger.toLong).parquet(dir)
    val out = Streams.drain(ctx, round, docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        ctx.inBatch(id)(ctx.inScope("dedup")(ctx.tracer.span("dedup.add_batch") {
          val span = ctx.tracer.current
          val t0 = System.nanoTime()
          val st = maint.addBatch(id, b)
          recs.synchronized(recs += DRec(round, id, (System.nanoTime() - t0) / 1e6, st, span))
        }))
        ()
      }
      .start())
    Harness.rm(cp)
    out
  }

  def round(ctx: Ctx, round: Int, traced: Boolean): RoundOut = {
    val lake = ctx.fresh("state")
    lakes(round) = lake
    val (wallMs, batches) = ctx.tracer.anchored("round")(drain(ctx, round, lake, perTrigger))
    if (traced) traceBatches ++= batches
    RoundOut(round, traced, wallMs, baseDocs.toLong * reps,
      batches.filter(_.rowsIn > 0).map(_.durations.getOrElse("triggerExecution", 0L).toDouble))
  }

  private val traceBatches = mutable.ArrayBuffer.empty[BatchRec]

  def storedBytesPerRecord: Double = Harness.dirBytes(lakes.values.last).toDouble / (baseDocs * reps)

  val PhaseOf: Map[String, String] = Map(
    "durdedup: shingle batch" -> "shingle", "durdedup: band batch" -> "band",
    "durdedup: candidate+verify" -> "candidate_verify", "durdedup: label merge" -> "label_merge",
    "durdedup: commit labels" -> "commit_labels", "durdedup: commit bands" -> "commit_bands",
    "durdedup: commit shingles" -> "commit_shingles")

  def finish(ctx: Ctx, rounds: Seq[RoundOut]): Unit = {
    val groups = Inputs.baseIds(ctx.opts.seed, baseDocs).map(b => (0 until reps).map(b + _ * Inputs.ReplicaStride))
    lakes.values.foreach { lake =>
      val labels = new DurableIncrementalDedup(ctx.spark, lake).labels.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      ctx.res.check(Checks.replicaGroups(groups, labels))
    }
    val traced = rounds.filter(_.traced).map(_.round).toSet
    if (traced.isEmpty) return
    val n = traced.size.toDouble
    val l = ctx.res.layer
    val d = ctx.res.detail
    val t = recs.filter(r => traced(r.round)).toSeq
    val jobs = ctx.census.allJobs.filter(j => j.scope == "dedup" && traced(j.round))
    val phase = (j: JobRec) => PhaseOf.getOrElse(j.desc, "other")
    (PhaseOf.values.toSeq :+ "other").foreach { p =>
      val js = jobs.filter(phase(_) == p)
      l(s"dedup.${p}_jobs") = (js.size / n, "count")
      d(s"dedup.${p}_ms") = js.map(j => (j.endMs - j.startMs).toDouble).sum / n
    }
    // phase spans rebuilt from the job events, under their batch's span
    t.foreach { r =>
      jobs.filter(j => j.round == r.round && j.batch == r.batch && phase(j) != "other").groupBy(phase)
        .foreach { case (p, js) =>
        ctx.tracer.add(s"dedup.$p", r.span, js.map(_.startMs).min * 1000000L + ctx.clockOffsetNs,
          js.map(_.endMs).max * 1000000L + ctx.clockOffsetNs)
      }
    }
    l("dedup.jobs_per_batch") = (jobs.size.toDouble / math.max(1, t.size), "count")
    l("dedup.state_bytes_read") = (ctx.census.work(jobs).inputBytes / n, "B")
    l("dedup.candidate_pairs") = (t.map(_.stats.nCandidatePairs).sum / n, "count")
    l("dedup.verified_pairs") = (t.map(_.stats.nVerifiedPairs).sum / n, "count")
    l("dedup.verify_yield") = (t.map(_.stats.nVerifiedPairs).sum.toDouble /
      math.max(1L, t.map(_.stats.nCandidatePairs).sum), "ratio")
    l("dedup.graph_nodes") = (t.map(_.stats.nGraphNodes).sum / n, "count")
    l("dedup.touched_reps") = (t.map(_.stats.nTouchedReps).sum / n, "count")
    t.groupBy(_.batch).toSeq.sortBy(_._1).foreach { case (b, rs) =>
      d(s"dedup.add_batch_ms.b$b") = Stats.median(rs.map(_.ms))
    }
    d("census.dedup_jobs_per_batch") = t.sortBy(r => (r.round, r.batch)).map { r =>
      PhaseOf.values.toSeq.sorted.map(p => p -> jobs.count(j => j.round == r.round && j.batch == r.batch && phase(j) == p)).toMap
    }
    Streams.reportTriggerLoop(ctx, traceBatches.toSeq, traced.size)
  }
}
