package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the listener saw it, with the benchmark's attribution
  * properties (set as SparkContext local properties by the harness on the
  * thread that submits the job). */
final case class JobRec(id: Int, startMs: Long, var endMs: Long, desc: String,
                        scope: String, round: Int, batch: Long, stages: Seq[Int])

/** Task-metric totals of a set of stages. */
final case class Work(stages: Int, tasks: Long, runMs: Long, cpuMs: Double, gcMs: Long,
                      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
                      inputBytes: Long) {
  def +(o: Work): Work = Work(stages + o.stages, tasks + o.tasks, runMs + o.runMs,
    cpuMs + o.cpuMs, gcMs + o.gcMs, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes, inputBytes + o.inputBytes)
}
object Work { val zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0, 0) }

/** The benchmark's own SparkListener: a job census attributed by scope,
  * round and micro-batch, and per-stage task-metric totals. */
final class Census extends SparkListener {

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, Work]
  private val stageOwner = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = JobRec(e.jobId, e.time, -1L, prop("spark.job.description").getOrElse(""),
      prop(Census.Scope).getOrElse(""), prop(Census.Round).map(_.toInt).getOrElse(-1),
      prop(Census.Batch).map(_.toLong).getOrElse(-1L), e.stageIds)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val w =
      if (m == null) Work(0, 1, 0, 0, 0, 0, 0, 0, 0)
      else Work(0, 1, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead)
    stages(e.stageId) = stages.getOrElse(e.stageId, Work.zero) + w
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stages(id) = stages.getOrElse(id, Work.zero).copy(stages = 1)
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.perfbenchbridge.Bus.drain(sc)

  def allJobs: Seq[JobRec] = synchronized(jobs.values.toList)

  /** Task totals of the stages first submitted by `js`. */
  def work(js: Seq[JobRec]): Work = synchronized {
    val ids = js.map(_.id).toSet
    stageOwner.collect { case (s, j) if ids(j) => stages.getOrElse(s, Work.zero) }
      .foldLeft(Work.zero)(_ + _)
  }
}

object Census {
  val Scope = "perfbench.scope"
  val Round = "perfbench.round"
  val Batch = "perfbench.batch"

  /** Run `body` with a local property set on this thread, restoring it. */
  def withProp[T](sc: SparkContext, k: String, v: String)(body: => T): T = {
    val prev = sc.getLocalProperty(k)
    sc.setLocalProperty(k, v)
    try body finally sc.setLocalProperty(k, prev)
  }
}
