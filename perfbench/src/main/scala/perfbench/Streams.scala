package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.storage.StorageLevel

import graft.model.Schemas
import graft.streaming.{LakeSink, StreamPipeline}

/** One store-write call as the instrumented sink saw it. */
final case class SinkRec(round: Int, batch: Long, addMs: Double, rowsIn: Long, rowsCommitted: Long,
                         probeCandidates: Long, filesWritten: Long, bytesWritten: Long,
                         manifestEntries: Long, mapMs: Double)

/** A [[LakeSink]] seen from outside: it tags the jobs of each store-write
  * call for the census, times the call, and reads what the commit left
  * behind. In a traced round it first materializes its input, so the work
  * upstream of the sink (source, validate, convert, stream state) is timed
  * apart from the store write. */
final class ProbeSink(path: String, @transient ctx: Ctx, round: Int, traced: Boolean,
                      @transient recs: mutable.ArrayBuffer[SinkRec]) extends LakeSink(path) {

  private def instrumented(batchId: Long, df: DataFrame, merged: Boolean)
                          (call: DataFrame => Boolean): Boolean =
    ctx.inBatch(batchId) {
      ctx.tracer.span("microbatch") {
        var mapMs = 0.0
        var rowsIn = -1L
        var cands = -1L
        val in =
          if (!traced) df
          else {
            val m = df.persist(StorageLevel.MEMORY_AND_DISK)
            ctx.inScope("map") {
              val t0 = System.nanoTime()
              rowsIn = ctx.tracer.span("upstream")(m.count())
              mapMs = (System.nanoTime() - t0) / 1e6
              if (merged) {
                val r = m.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
                if (!r.isNullAt(0)) cands = probeCandidates(r.getLong(0), r.getLong(1)).size.toLong
              }
            }
            m
          }
        try {
          val t0 = System.nanoTime()
          val ok = ctx.inScope("lakesink")(ctx.tracer.span("lakesink.add_batch")(call(in)))
          val addMs = (System.nanoTime() - t0) / 1e6
          val entries = committed()
          val dir = Paths.get(path, s"batch=$batchId")
          val files =
            if (!Files.exists(dir)) Seq.empty
            else {
              val s = Files.list(dir)
              try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
              finally s.close()
            }
          val bloom = Paths.get(path, "_bloom", s"batch-$batchId.bin")
          val bytes = files.map(Files.size).sum + (if (Files.exists(bloom)) Files.size(bloom) else 0L)
          recs.synchronized {
            recs += SinkRec(round, batchId, addMs, rowsIn,
              entries.find(_.batch == batchId).map(_.rows).getOrElse(0L), cands,
              files.size.toLong, bytes, entries.size.toLong, mapMs)
          }
          ok
        } finally if (traced) in.unpersist()
      }
    }

  override def addBatchMerged(batchId: Long, df: DataFrame, idCol: String, tsCol: String,
                              covering: Seq[(Long, Long)]): Boolean =
    instrumented(batchId, df, merged = true)(super.addBatchMerged(batchId, _, idCol, tsCol, covering))

  override def addBatch(batchId: Long, df: DataFrame): Boolean =
    instrumented(batchId, df, merged = false)(super.addBatch(batchId, _))
}

/** Per-microbatch facts read from Spark's public `StreamingQueryProgress`.
  * `mapOut` is the map path's output row count, observed in traced rounds
  * only (-1 otherwise). */
final case class BatchRec(round: Int, batch: Long, rowsIn: Long, durations: Map[String, Long],
                          state: Map[String, StateRec], invalid: Long, mapOut: Long,
                          watermark: Option[String])

/** One stateful operator's progress in one microbatch. `taskMs` sums the
  * operator's update, removal and commit time over its tasks. */
final case class StateRec(rowsTotal: Long, memoryBytes: Long, commitMs: Long, droppedLate: Long,
                          rowsUpdated: Long, taskMs: Long)

object Streams {

  /** The trigger-loop phases of `durationMs`, as per-layer names. */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "latest_offset", "getBatch" -> "get_batch", "queryPlanning" -> "planning",
    "addBatch" -> "add_batch", "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")

  /** Name of the observation that counts the map path's output rows. */
  val MapOut = "perfbench_map_out"

  /** `StreamPipeline.statements` (validate + convert) over the statement
    * input files; when `traced`, the rows it emits are counted. */
  def mapPath(ctx: Ctx, dir: String, filesPerTrigger: Int, traced: Boolean): DataFrame = {
    val s = StreamPipeline.statements(ctx.spark.readStream.schema(Schemas.inputTable)
      .option("maxFilesPerTrigger", filesPerTrigger.toLong).parquet(dir))
    if (traced) s.observe(MapOut, count(lit(1))) else s
  }

  def records(round: Int, q: StreamingQuery): Seq[BatchRec] =
    q.recentProgress.toSeq.map(p => record(round, p))

  def record(round: Int, p: StreamingQueryProgress): BatchRec = {
    val state = p.stateOperators.toSeq.map { s =>
      s.operatorName -> StateRec(s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs,
        s.numRowsDroppedByWatermark, s.numRowsUpdated,
        s.allUpdatesTimeMs + s.allRemovalsTimeMs + s.commitTimeMs)
    }.toMap
    def observed(name: String, col: Int): Option[Long] =
      Option(p.observedMetrics).flatMap(m => Option(m.get(name)))
        .map(r => if (r.isNullAt(col)) 0L else r.getLong(col))
    BatchRec(round, p.batchId, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, state,
      observed("validate_metrics", 1).getOrElse(0L), observed(MapOut, 0).getOrElse(-1L),
      Option(p.eventTime).flatMap(m => Option(m.get("watermark"))))
  }

  /** Run one AvailableNow query to its end; a failure counts once. */
  def drain(ctx: Ctx, round: Int, start: => StreamingQuery): (Double, Seq[BatchRec]) = {
    val t0 = System.nanoTime()
    val q = ctx.inRound(round)(ctx.inScope("stream")(start))
    try q.awaitTermination()
    catch { case e: Exception => ctx.res.ops(1); ctx.res.fail(s"round $round: query failed: $e") }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val recs = records(round, q)
    ctx.res.ops(recs.size.toLong)
    (wallMs, recs)
  }

  /** Per-layer metrics of the trigger loop: batches per round, and per
    * phase the median over the data microbatches of the traced rounds. */
  def reportTriggerLoop(ctx: Ctx, batches: Seq[BatchRec], rounds: Int): Unit = {
    val data = batches.filter(_.rowsIn > 0)
    val l = ctx.res.layer
    l("stream.batches") = (batches.size.toDouble / rounds, "count")
    val d = ctx.res.detail
    Phases.foreach { case (k, n) =>
      d(s"stream.${n}_ms") = Stats.median(data.map(_.durations.getOrElse(k, 0L).toDouble))
    }
  }

  /** Rows entering and leaving the statement map path, and the
    * validator's rejects (its `validate_metrics` observation), per round. */
  def reportMapPath(ctx: Ctx, batches: Seq[BatchRec], rounds: Int): Unit = {
    val l = ctx.res.layer
    l("map.rows_in") = (batches.map(_.rowsIn).sum.toDouble / rounds, "count")
    l("map.rows_out") = (batches.map(b => math.max(0L, b.mapOut)).sum.toDouble / rounds, "count")
    l("validate.invalid") = (batches.map(_.invalid).sum.toDouble / rounds, "count")
    l("map.useful_ratio") = (l("map.rows_out")._1 / l("map.rows_in")._1, "ratio")
  }

  /** Per-layer metrics of one stateful operator: per-round totals and
    * medians over the data microbatches of the traced rounds. */
  def reportState(ctx: Ctx, batches: Seq[BatchRec], op: String, prefix: String): Unit = {
    val data = batches.filter(_.rowsIn > 0).flatMap(b => b.state.get(op).map(b -> _))
    val l = ctx.res.layer
    val rounds = math.max(1, batches.map(_.round).distinct.size)
    def last(f: StateRec => Long) =
      Stats.median(batches.groupBy(_.round).values.toSeq
        .map(bs => bs.sortBy(_.batch).flatMap(_.state.get(op)).lastOption.map(f).getOrElse(0L).toDouble))
    prefix match {
      case "dedup_state" =>
        l("dedup_state.rows_total") = (last(_.rowsTotal), "count")
        l("dedup_state.memory_bytes") = (last(_.memoryBytes), "B")
        l("dedup_state.rows_dropped_late") =
          (batches.flatMap(_.state.get(op)).map(_.droppedLate).sum.toDouble / rounds, "count")
        // rows the watermarked dedup keeps: each statement id once
        l("dedup_state.rows_kept") =
          (batches.flatMap(_.state.get(op)).map(_.rowsUpdated).sum.toDouble / rounds, "count")
      case _ =>
        l("sessionize.state_rows") = (last(_.rowsTotal), "count")
        l("sessionize.state_bytes") = (last(_.memoryBytes), "B")
    }
    if (data.nonEmpty) ctx.res.detail(s"$prefix.commit_ms") = Stats.median(data.map(_._2.commitMs.toDouble))
    ctx.res.detail(s"$prefix.task_ms") = batches.flatMap(_.state.get(op)).map(_.taskMs).sum.toDouble / rounds
  }

  /** Per-layer metrics of the store write, from the traced rounds. */
  def reportSink(ctx: Ctx, recs: Seq[SinkRec], rounds: Int): Unit = {
    val l = ctx.res.layer
    val jobs = ctx.census.allJobs.filter(j => j.scope == "lakesink" && recs.exists(_.round == j.round))
    l("lakesink.jobs") = (jobs.size.toDouble / rounds, "count")
    l("lakesink.probe_candidates") = (recs.map(_.probeCandidates).filter(_ >= 0).sum.toDouble / rounds, "count")
    val in = recs.map(_.rowsIn).sum.toDouble
    val committed = recs.map(_.rowsCommitted).sum.toDouble
    l("lakesink.rows_in") = (in / rounds, "count")
    l("lakesink.rows_committed") = (committed / rounds, "count")
    l("lakesink.novel_ratio") = (if (in > 0) committed / in else 0.0, "ratio")
    l("lakesink.files_written") = (recs.map(_.filesWritten).sum.toDouble / rounds, "count")
    l("lakesink.bytes_written") = (recs.map(_.bytesWritten).sum.toDouble / rounds, "B")
    l("lakesink.manifest_entries") = (Stats.median(recs.groupBy(_.round).values.toSeq
      .map(_.map(_.manifestEntries).max.toDouble)), "count")
    val d = ctx.res.detail
    if (recs.nonEmpty) {
      d("lakesink.add_batch_ms") = Stats.median(recs.map(_.addMs))
      d("map.ms") = Stats.median(recs.map(_.mapMs))
    }
    // job census per microbatch: the counts a later change claims against
    d("census.lakesink_jobs_per_batch") = recs.sortBy(r => (r.round, r.batch)).map { r =>
      jobs.count(j => j.round == r.round && j.batch == r.batch)
    }
  }
}
