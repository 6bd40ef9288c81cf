package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4's `Column` wraps a `ColumnNode`
  * rather than an `Expression`; the converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * `private[sql]` — this shim (inside the sql package tree) re-exports the
  * two conversions the graft's native Catalyst expressions need.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly free the executor-storage blocks behind a `localCheckpoint`-ed
    * DataFrame. `df.unpersist()` is NOT enough: checkpoint RDD blocks are
    * reclaimed only via ContextCleaner GC, so a long-lived session that
    * replaces checkpointed generations (IncrementalDedup's label table)
    * leaks storage until the driver GCs the RDD reference. The checkpointed
    * frame's analyzed plan is a `LogicalRDD` leaf wrapping the persisted
    * RDD — unpersist THAT. Safe only when the frame is truly dead:
    * a locally-checkpointed RDD cannot be recomputed after its blocks go. */
  def releaseLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df match {
      case d: org.apache.spark.sql.classic.Dataset[_] =>
        d.queryExecution.analyzed.foreach {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            lr.rdd.unpersist(blocking = false); ()
          case _ => ()
        }
      case _ => ()
    }

  /** Drain the async listener bus. Job-count evidence sampled from a
    * `SparkListener` counter immediately after an action can miss JobEnd
    * events still in flight (delivery is asynchronous) — profilers must
    * drain before reading. `SparkContext.listenerBus` is `private[spark]`,
    * hence the re-export from inside the package tree. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** The in-memory size of a persisted frame's cache, once a job has
    * filled every partition of it (the accumulated size `InMemoryRelation`
    * reports as `sizeInBytes` from then on). None when the frame is not
    * cached or not yet materialized: before that, the statistic is only the
    * planner's estimate. `CacheManager.lookupCachedData` takes the classic
    * `Dataset`, whose cache internals are `private[sql]`. */
  def cachedSizeInBytes(df: org.apache.spark.sql.DataFrame): Option[Long] =
    df match {
      case d: org.apache.spark.sql.classic.Dataset[_] =>
        d.sparkSession.sharedState.cacheManager.lookupCachedData(d)
          .map(_.cachedRepresentation.cacheBuilder)
          .filter(_.isCachedColumnBuffersLoaded)
          .map(_.sizeInBytesStats.value.longValue)
      case _ => None
    }

  /** `spark.sql.files.maxPartitionBytes` as the session resolves it. */
  def filesMaxPartitionBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark match {
      case s: org.apache.spark.sql.classic.SparkSession => s.sessionState.conf.filesMaxPartitionBytes
      case _ => org.apache.spark.sql.internal.SQLConf.get.filesMaxPartitionBytes
    }

  /** The schema with every nullability flag set — what a file-source read
    * applies to its data schema (`DataType.asNullable` is
    * `private[spark]`). */
  def asNullable(s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    s.asNullable

  /** The error a `Divide` by zero raises under ANSI evaluation
    * (`QueryExecutionErrors` is `private[sql]`). */
  def divideByZeroError(): ArithmeticException =
    org.apache.spark.sql.errors.QueryExecutionErrors.divideByZeroError(null)

  /** The key names and the input of a frame whose plan is a top-level
    * `dropDuplicatesWithinWatermark`, or None for any other frame. The
    * input is rebuilt from the analyzed child plan, which keeps the
    * watermark metadata and any `observe` beneath the dedup
    * (`classic.Dataset.ofRows` is `private[sql]`). */
  def withinWatermarkDedup(df: org.apache.spark.sql.DataFrame)
      : Option[(Seq[String], org.apache.spark.sql.DataFrame)] =
    df match {
      case d: org.apache.spark.sql.classic.Dataset[_] =>
        d.queryExecution.analyzed match {
          case org.apache.spark.sql.catalyst.plans.logical.DeduplicateWithinWatermark(keys, child) =>
            Some((keys.map(_.name), org.apache.spark.sql.classic.Dataset.ofRows(d.sparkSession, child)))
          case _ => None
        }
      case _ => None
    }

  /** Never-throwing variant for cleanup paths (iterative operators,
    * streaming state maintenance) — a failed release is a leak, not an
    * error worth failing the job for. */
  def releaseLocalCheckpointQuietly(df: org.apache.spark.sql.DataFrame): Unit =
    try releaseLocalCheckpoint(df) catch { case _: Exception => () }
}
