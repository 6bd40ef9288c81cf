package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, UTC, small parallelism. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  // every directory tempDir() made, deleted when the suite ends
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  /** A fresh directory in `java.io.tmpdir`, deleted when the suite ends. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try if (!tempDirs.isEmpty) {
      // a state store keeps writing snapshots of a stopped query in the
      // background, which would recreate a deleted checkpoint dir
      spark.streams.active.foreach(_.stop())
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      tempDirs.forEach(graft.operators.LayoutOps.deleteTree(_))
    } finally super.afterAll()

  /** Spark jobs `body` schedules. */
  def jobsIn(body: => Any): Long = jobsByDescription(body).values.sum

  /** Spark jobs `body` schedules, per job description (`""` for a job
    * without one). Listener delivery is asynchronous, so the bus is
    * drained before the count starts and before it is read. */
  def jobsByDescription(body: => Any): Map[String, Long] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")); ()
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    seen.toArray(Array.empty[String]).groupBy(identity).map { case (d, js) => d -> js.length.toLong }
  }
}

object SparkSuite {
  lazy val session: SparkSession = Sessions.build("local[4]", 4, "graft-test")
}
