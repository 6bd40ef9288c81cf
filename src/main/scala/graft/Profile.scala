package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Per-query profile of the [[SparkEntry.queries]] pass, the layer
  * perfbench does not cover. Prints one JSON line per query and repeat:
  *  - `query`, `repeat` (1 to [[Repeats]]), `rows`, and `wall_ms`: building
  *    the frame (which runs jobs for index builds and trainers) plus
  *    counting it;
  *  - `jobs`, `stages`, `tasks`, `executor_run_ms`, `executor_cpu_ms`,
  *    `shuffle_read_bytes`, `shuffle_write_bytes` over every job the query
  *    ran, its build included;
  *  - `analysis_ms`, `optimization_ms`, `planning_ms`: the
  *    `QueryExecution.tracker` phases of the counting action;
  *  - `error`: null, or what a failing query threw (its line is still
  *    printed).
  * Each repeat is a full pass in name order, so repeat 1 is the cold pass
  * (first plan, codegen, index builds, the first member of a cache family)
  * and repeats 2-3 are warm. The session is Bench's query-pass shape:
  * `local[$SPARK_GRAFT_CPUS]` (default 4), shuffle partitions = CPUs.
  * Args: <sfDir, default $SPARK_GRAFT_SF_DIR> [substring filter |
  * comma-separated name list].
  */
object Profile {

  val Repeats = 3

  private final class Census extends SparkListener {
    val jobs, stages, tasks, runMs, cpuNs, shuffleRead, shuffleWrite = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Build and count query `name` once; its JSON line. Never throws. */
  def line(spark: SparkSession, sfDir: String, name: String, repeat: Int): String = {
    val sc = spark.sparkContext
    val census = new Census
    // listener delivery is asynchronous: drain before and after the count
    Bridge.drainListenerBus(sc)
    sc.addSparkListener(census)
    val t0 = System.nanoTime()
    var rows: java.lang.Long = null
    var phases = Map.empty[String, Long]
    var error: String = null
    try {
      val counted = SparkEntry.queries(name)(spark, sfDir).groupBy().count()
      rows = counted.collect().head.getLong(0)
      phases = counted.queryExecution.tracker.phases.map { case (k, p) => k -> p.durationMs }
    } catch { case e: Throwable => error = e.toString }
    val wallMs = (System.nanoTime() - t0) / 1000000L
    Bridge.drainListenerBus(sc)
    sc.removeSparkListener(census)
    val out = new java.util.LinkedHashMap[String, Any]
    out.put("query", name)
    out.put("repeat", repeat)
    out.put("wall_ms", wallMs)
    out.put("rows", rows)
    out.put("jobs", census.jobs.get)
    out.put("stages", census.stages.get)
    out.put("tasks", census.tasks.get)
    out.put("executor_run_ms", census.runMs.get)
    out.put("executor_cpu_ms", census.cpuNs.get / 1000000L)
    out.put("shuffle_read_bytes", census.shuffleRead.get)
    out.put("shuffle_write_bytes", census.shuffleWrite.get)
    Seq("analysis", "optimization", "planning").foreach(p =>
      out.put(s"${p}_ms", phases.getOrElse(p, 0L)))
    out.put("error", error)
    json.writeValueAsString(out)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("usage: graft.Profile <sfDir> [filter]"))
    val only = args.lift(1).map(f => (n: String) => f.split(",").exists(n.contains))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.build(s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: the first query otherwise absorbs the session's
    // one-time cost (codegen infrastructure, parquet reader init, JIT)
    try SparkEntry.queries("q_lrs_by_id")(spark, sfDir).count()
    catch { case _: Throwable => () }
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_(n)))
    for (repeat <- 1 to Repeats; name <- names) println(line(spark, sfDir, name, repeat))
    spark.stop()
  }
}
