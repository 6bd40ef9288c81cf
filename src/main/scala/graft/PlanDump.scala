package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for declared queries to files — the
  * plan-evidence tool for optimization rounds (plans/rNN/<q>_<tag>.txt).
  * Args: <outDir> <tag> [comma-separated query names | substring filter].
  * Plans only — no query is executed (queries whose build phase runs jobs,
  * e.g. index builds, still run those). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val only = args.drop(2).headOption
      .map(f => (n: String) => f.split(",").exists(n.contains))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.build(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]", 32)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_(q._1))).foreach { case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan)
          println(s"dumped $name")
        } catch { case e: Throwable =>
          System.err.println(s"plan dump $name FAILED: $e")
        }
      }
    spark.stop()
  }
}
