package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-level profile of the ANN query family: per-query job count and
  * summed job wall time vs
  * total wall, isolating driver-side fixed costs (planning, codebook
  * collects, index write commits) from executor work. Args: [sfDir]
  * [comma-separated query names, default the 6 ANN queries]. */
object AnnProfile {

  private final class JobLog extends SparkListener {
    val started = scala.collection.concurrent.TrieMap.empty[Int, Long]
    @volatile var n = 0
    @volatile var sum = 0.0
    override def onJobStart(j: SparkListenerJobStart): Unit =
      started.put(j.jobId, System.nanoTime())
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      started.remove(j.jobId).foreach { t0 =>
        synchronized { n += 1; sum += (System.nanoTime() - t0) / 1e9 }
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq(
      "q_ann_ivf", "q_ann_ivf_incremental", "q_ann_ivfpq", "q_ann_lsh",
      "q_ann_pq", "q_ann_sq8", "q_cos_topk"))
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Sessions.tune(spark)
    SparkEntry.queries("q_lrs_by_id")(spark, sfDir).count() // warmup
    // two passes: pass 2 is plan-warm, isolating codegen/JIT from structure
    (1 to 2).foreach { pass =>
      names.foreach { name =>
        val log = new JobLog
        spark.sparkContext.addSparkListener(log)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.removeSparkListener(log)
        Thread.sleep(200)
        println(f"pass$pass $name%-26s wall $wall%6.2f s  jobs ${log.n}%3d  " +
          f"job-time ${log.sum}%6.2f s  rows=$n")
      }
    }
    spark.stop()
  }
}
