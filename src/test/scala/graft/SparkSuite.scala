package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite, UTC, small parallelism. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Spark jobs `body` schedules. Listener delivery is asynchronous, so
    * the bus is drained before the count starts and before it is read. */
  def jobsIn(body: => Any): Long = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc) }
    finally sc.removeSparkListener(listener)
    n.get()
  }
}

object SparkSuite {
  lazy val session: SparkSession = Sessions.build("local[4]", 4, "graft-test")
}
