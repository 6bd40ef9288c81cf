package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, out: String)

/** What a run reports. `attempted`/`failed` count operations: microbatches,
  * queries and output checks. */
final class Result {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def ops(n: Long): Unit = synchronized { attempted += n }

  def fail(msg: String): Unit = synchronized { failed += 1; failures += msg; () }

  /** One output check: passes when it returns no messages. */
  def check(msgs: Seq[String]): Unit = synchronized {
    attempted += 1
    if (msgs.nonEmpty) { failed += 1; failures ++= msgs }
  }
}

/** Everything a workload needs: the session, the run's options, the
  * tracer, the job census and the result being filled in. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer,
                val census: Census, val res: Result) {
  def sc = spark.sparkContext
  private var n = 0
  def fresh(tag: String): String = synchronized { n += 1; s"${opts.work}/$tag-$n" }

  /** Offset that maps listener wall-clock milliseconds onto nanoTime. */
  val clockOffsetNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def inScope[T](scope: String)(body: => T): T = Census.withProp(sc, Census.Scope, scope)(body)
  def inRound[T](round: Int)(body: => T): T = Census.withProp(sc, Census.Round, round.toString)(body)
  def inBatch[T](batch: Long)(body: => T): T = Census.withProp(sc, Census.Batch, batch.toString)(body)
}

/** One timed unit of a workload: a full AvailableNow drain, or one pass
  * over the query list. `records` are input rows (or GET requests
  * answered); `opMs` are microbatch or query latencies. */
final case class RoundOut(round: Int, traced: Boolean, wallMs: Double, records: Long,
                          opMs: Seq[Double]) {
  def recordsPerS: Double = records / (wallMs / 1000.0)
}

trait Workload {
  def name: String
  /** Untimed input preparation. */
  def setup(ctx: Ctx): Unit
  /** Untimed, once after set-up: the warm-up drain or lake build. */
  def warmup(ctx: Ctx): Unit
  def round(ctx: Ctx, round: Int, traced: Boolean): RoundOut
  /** Output checks (untimed) and the workload's own metrics. */
  def finish(ctx: Ctx, rounds: Seq[RoundOut]): Unit
  /** Bytes the workload left committed, per input record. */
  def storedBytesPerRecord: Double
}

object Harness {

  def session(work: String): SparkSession = {
    Files.createDirectories(Paths.get(work, "local"))
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-perfbench")
      // two partitions per core, fixed: the state partition count is part of
      // the streaming shape being measured (graft.Bench pins 32 so that it
      // can compare local[2/8/32]; at local[2] that makes every microbatch
      // pay 32 state-store commits per stateful operator)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.json.enablePartialResults", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.codegen.methodSplitThreshold", "512")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def rm(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  /** `VmHWM` of this process, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(-1.0)

  /** Facts that make runs from different hosts distinguishable. */
  def host(work: String): Seq[(String, Any)] = {
    val mounts = Files.readAllLines(Paths.get("/proc/mounts")).asScala.map(_.split(" "))
      .filter(_.length > 2)
    val real = Paths.get(work).toRealPath().toString
    val fs = mounts.filter(m => real == m(1) || real.startsWith(m(1).stripSuffix("/") + "/"))
      .sortBy(-_(1).length).headOption.map(_(2)).getOrElse("unknown")
    val memKb = Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    Seq("nproc" -> Runtime.getRuntime.availableProcessors(),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "master" -> "local[2]",
      "lake_dir" -> real, "lake_fs" -> fs,
      "mem_total_mb" -> memKb / 1024,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024))
  }

  def progress(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Set up, run the timed rounds, check and report. `setup_s` is the
    * elapsed time from JVM start to the start of the first timed round. */
  def run(ctx: Ctx, w: Workload, sessionReadyMs: Long): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val ti = System.nanoTime()
    w.setup(ctx)
    val inputS = (System.nanoTime() - ti) / 1e9
    val tw = System.nanoTime()
    w.warmup(ctx)
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    progress(f"${w.name}: input took $inputS%.2f s, warm-up $warmS%.2f s, set-up $setupS%.2f s")
    ctx.res.detail("setup") = Map("session_s" -> (sessionReadyMs - jvmStart) / 1000.0,
      "input_s" -> inputS, "warmup_s" -> warmS, "setup_s" -> setupS)

    val trace = ctx.opts.trace
    val rounds = mutable.ArrayBuffer.empty[RoundOut]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // at least one round; a traced run alternates untraced and traced rounds
    while (rounds.size < (if (trace) 2 else 1) || elapsed < ctx.opts.seconds) {
      val traced = trace && rounds.size % 2 == 1
      ctx.tracer.on = traced
      try rounds += w.round(ctx, rounds.size, traced)
      finally ctx.tracer.on = false
      val r = rounds.last
      progress(f"${w.name}: round ${r.round}${if (traced) " (traced)" else ""} took ${r.wallMs / 1000}%.2f s, " +
        f"${r.recordsPerS}%.0f records/s, ${r.opMs.size} ops")
    }
    ctx.res.detail("timed_s") = elapsed
    ctx.res.detail("rounds") = rounds.size
    ctx.census.drain(ctx.sc)
    val tf = System.nanoTime()
    w.finish(ctx, rounds.toSeq)
    progress(f"${w.name}: checks and report took ${(System.nanoTime() - tf) / 1e9}%.2f s")

    val plain = rounds.filterNot(_.traced).toSeq
    if (!trace) {
      val e = ctx.res.e2e
      e("setup_s") = (setupS, "s")
      e("records_per_s") = (Stats.median(plain.map(_.recordsPerS)), "records/s")
      e("latency_p50_ms") = (Stats.median(plain.flatMap(_.opMs)), "ms")
      e("stored_bytes_per_record") = (w.storedBytesPerRecord, "B")
    } else {
      ctx.res.layer("jvm.peak_rss_mb") = (peakRssMb(), "MB")
      val traced = rounds.filter(_.traced).toSeq
      ctx.res.layer("trace.throughput_ratio") = (
        Stats.median(traced.map(_.recordsPerS)) / Stats.median(plain.map(_.recordsPerS)), "ratio")
      ctx.res.layer("trace.latency_p50_ratio") = (
        Stats.median(traced.flatMap(_.opMs)) / Stats.median(plain.flatMap(_.opMs)), "ratio")
      Engine.report(ctx, rounds.toSeq)
      // share: self time over the traced rounds' wall time
      val spans = ctx.tracer.all
      val roundMs = spans.filter(_.name == "round").map(_.ms).sum
      ctx.res.detail("spans") = Tracer.summary(spans).map { case (n, c, tot, self) =>
        Map("span" -> n, "count" -> c, "total_ms" -> tot, "self_ms" -> self, "share" -> self / roundMs)
      }
    }
  }
}
