package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Engine-level metrics: the job census and task totals per round. */
object Engine {

  /** Medians over the untraced rounds of a traced run, so the counts are
    * those of the plain code path (tracing adds its own jobs). Per-scope
    * counts of the traced rounds go to the detail report. */
  def report(ctx: Ctx, rounds: Seq[RoundOut]): Unit = {
    val jobs = ctx.census.allJobs
    val plain = rounds.filterNot(_.traced)
    def med(f: (Seq[JobRec], Work, RoundOut) => Double): Double = Stats.median(plain.map { r =>
      val js = jobs.filter(_.round == r.round)
      f(js, ctx.census.work(js), r)
    })
    val l = ctx.res.layer
    l("spark.jobs") = (med((js, _, _) => js.size), "count")
    l("spark.stages") = (med((_, w, _) => w.stages), "count")
    l("spark.tasks") = (med((_, w, _) => w.tasks.toDouble), "count")
    l("spark.executor_run_ms") = (med((_, w, _) => w.runMs.toDouble), "ms")
    l("spark.executor_cpu_ms") = (med((_, w, _) => w.cpuMs), "ms")
    l("spark.driver_share") = (med((_, w, r) => math.max(0.0, 1.0 - w.runMs / (r.wallMs * 2))), "ratio")
    l("spark.gc_ms") = (med((_, w, _) => w.gcMs.toDouble), "ms")
    l("spark.shuffle_write_bytes") = (med((_, w, _) => w.shuffleWriteBytes.toDouble), "B")
    l("spark.shuffle_read_bytes") = (med((_, w, _) => w.shuffleReadBytes.toDouble), "B")
    l("spark.spill_bytes") = (med((_, w, _) => w.spillBytes.toDouble), "B")
    val traced = rounds.filter(_.traced).map(_.round).toSet
    ctx.res.detail("census.jobs_per_scope") = jobs.filter(j => traced(j.round)).groupBy(_.scope)
      .map { case (s, js) => s -> js.size.toDouble / traced.size }
  }
}

/** Scan metrics of an executed plan (the public `SQLMetric`s of the file
  * scans), looking through adaptive query stages. */
object Plans {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  /** (files read, bytes read, rows scanned) of a query already executed. */
  def scanMetrics(df: DataFrame): (Long, Long, Long) = {
    val scans = nodes(df.queryExecution.executedPlan).filter(_.metrics.contains("numFiles"))
    def sum(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    (sum("numFiles"), sum("filesSize"), sum("numOutputRows"))
  }
}
