package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.operators.{Convert, Store, Validate}
import graft.sources.Synth

/** The streaming lift of the batch [[graft.Pipeline]] (north rule): the
  * same validate → convert → dedup stage expressions, incrementalised by
  * Structured Streaming, with
  *
  *  - watermarked dedup (`dropDuplicatesWithinWatermark("id")` — D5; the
  *    store-wide guarantee at 10^12 scale comes from the idempotent sink +
  *    within-watermark dedup, exactly the ES/Mongo id-keyed model),
  *  - per-actor sessionization ([[Sessionize]], RocksDB state keyed by
  *    actor_key); `sessions(deduped(…))` fuses the dedup into the
  *    sessionizer, one stateful operator instead of two,
  *  - tumbling/sliding per-verb/per-source counts (A1/A2) with optional
  *    key salting for hot actors/verbs,
  *  - a watermark-bounded stream-stream join against actor-profile updates
  *    (J3),
  *  - the exactly-once [[LakeSink]] via foreachBatch, and per-microbatch
  *    observe() metrics (validator counters V3).
  */
object StreamPipeline {

  val WatermarkDelay = "10 minutes"

  /** Decode+validate+convert+enrich a stream of input rows
    * (doc_id, tokens, n_tok, source) into watermarked statements. */
  def statements(input: DataFrame,
                 ns: String = Synth.UuidNamespace,
                 url: String = Synth.PlatformUrl): DataFrame = {
    val validated = Validate.observed(Validate(input))
      .filter(col("status") === Validate.StatusOk)
    Convert(validated, ns, url)
      .filter(Convert.convertible(col("model"))) // no conversion set → routed out (V3)
      .select(col("id"), col("actor_key"), col("verb_id"), col("object_id"),
        col("source"), col("ts"), col("xapi"))
      .withWatermark("ts", WatermarkDelay)
  }

  /** D5 streaming dedup: state bounded by the watermark (RocksDB).
    *
    * Late-data contract (SURVEY.md §2.10): a row whose event time is older
    * than the watermark is DROPPED here — dropDuplicatesWithinWatermark
    * filters it before the dedup state and counts it in the operator's
    * `numRowsDroppedByWatermark` progress metric (StreamingSpec pins this).
    * Under [[sessions]] the dedup runs inside the sessionizer: a late row
    * is dropped there and counted in the `flatMapGroupsWithState`
    * operator's `numRowsDroppedByWatermark` instead.
    * A pipeline that must keep late rows writes [[statements]] to the lake
    * without this operator: [[LakeSink.addBatchMerged]] then removes
    * duplicates by id at any lateness. */
  def deduped(statements: DataFrame): DataFrame =
    statements.dropDuplicatesWithinWatermark(Seq("id"))

  /** A1/A2 counts. `saltBuckets > 1` shards hot (verb, source) keys into
    * salted sub-keys; merge with [[mergeSalted]] — two-stage aggregation
    * keeps any single state key's update rate bounded at 10^12 scale. */
  def tumblingCounts(statements: DataFrame, width: String = "1 minute",
                     saltBuckets: Int = 1): DataFrame = {
    if (saltBuckets <= 1)
      statements.groupBy(window(col("ts"), width), col("verb_id"), col("source"))
        .agg(count(lit(1)).as("n"))
    else
      statements
        .withColumn("salt", pmod(xxhash64(col("id")), lit(saltBuckets)))
        .groupBy(window(col("ts"), width), col("verb_id"), col("source"), col("salt"))
        .agg(count(lit(1)).as("n"))
  }

  /** Second-stage merge of salted partial counts (batch job over the sink,
    * or a downstream streaming agg). */
  def mergeSalted(partials: DataFrame): DataFrame =
    partials.groupBy("window", "verb_id", "source").agg(sum("n").as("n"))

  def slidingCounts(statements: DataFrame, width: String = "10 minutes",
                    slide: String = "1 minute"): DataFrame =
    statements.groupBy(window(col("ts"), width, slide), col("verb_id"), col("source"))
      .agg(count(lit(1)).as("n"))

  /** Custom-state sessionization ([[Sessionize]]), one stateful operator
    * keyed by actor_key.
    *
    * When `statements` is exactly [[deduped]]`(s)` (a top-level
    * `dropDuplicatesWithinWatermark("id")`), the dedup is fused into the
    * sessionizer: `s` is sessionized directly by
    * [[Sessionize.deduplicated]], whose per-actor state also holds the ids
    * seen within the watermark. That saves a shuffle and a state-store
    * commit per partition per microbatch. The fusion reads the dedup's
    * delay from the watermark on `ts`; without one the dedup stays Spark's
    * own operator, and the query fails at start, as every sessionizer
    * input without a watermark on `ts` does (event-time timeouts need it).
    * Any other input is sessionized as it is, with no dedup.
    *
    * Precondition of the fused path: every copy of an id carries the same
    * actor_key and ts, as converted statements do (`id = uuid5(raw)`, and
    * actor_key and ts are functions of `raw`). A copy of an id re-sent
    * from another source still counts once, in the source of the copy
    * that arrived first. Its cost: each actor called in a batch rewrites
    * the ids it holds within the watermark ([[Sessionize.process]]), so
    * the fusion pays off while actors hold few ids per watermark window. */
  def sessions(statements: DataFrame): Dataset[Sessionize.Session] =
    Bridge.withinWatermarkDedup(statements) match {
      case Some((Seq("id"), input)) if input.schema.exists(f =>
          f.name == "ts" && f.metadata.contains(EventTimeWatermark.delayKey)) =>
        Sessionize.deduplicated(input)
      case _ =>
        import statements.sparkSession.implicits._
        Sessionize(statements
          .select(col("actor_key"), col("source"), col("ts"), col("verb_id"))
          .as[Sessionize.Event])
    }

  /** J3: watermark-bounded stream-stream join of statements against
    * actor-profile updates `(actor_key, p_name, cohort, updated_at)`:
    * each statement joins profiles updated in the preceding hour
    * (left-outer so unprofiled actors pass through — state on both sides is
    * bounded by the watermarks + interval condition). */
  def withProfiles(statements: DataFrame, profiles: DataFrame): DataFrame = {
    val p = profiles.withWatermark("updated_at", WatermarkDelay)
      .withColumnRenamed("actor_key", "p_actor")
    statements.join(p,
      expr("""actor_key = p_actor AND
              updated_at <= ts AND updated_at > ts - INTERVAL 1 HOUR"""),
      "leftOuter")
  }

  /** Wire a statement stream into the exactly-once lake sink. With
    * `mergeById` the sink drops ids already committed — the reference's own
    * dedup model (id-keyed idempotent writes, es.py:374-404 /
    * mongo.py:326-375) — which, unlike the stateful dedup operator, also
    * covers LATE rows: stateful operators discard input older than the
    * watermark, the merge sink does not. */
  def toLake(statements: DataFrame, sink: LakeSink, checkpoint: String,
             trigger: Trigger = Trigger.AvailableNow(),
             mergeById: Boolean = true,
             compactEvery: Int = 0,
             compactTierRows: Long = 1000000L,
             retainSnapshots: Int = 2): DataStreamWriter[org.apache.spark.sql.Row] =
    statements.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (mergeById) sink.addBatchMerged(batchId, Store.project(batch, "xapi"), "event_id")
        else sink.addBatch(batchId, Store.project(batch, "xapi"))
        // scheduled maintenance: fold the manifest every compactEvery
        // batches so entry count (and probe/read fan-out) stays bounded on
        // a long-running stream — a replayed batch re-triggering compaction
        // is harmless (compaction is idempotent on a compacted manifest).
        // TIERED: segments past compactTierRows graduate and are never
        // re-copied, so a row is rewritten O(tier/batch) times over the
        // stream's life instead of once per compaction run (ADVICE r2)
        if (compactEvery > 0 && batchId % compactEvery == (compactEvery - 1)) {
          sink.compactInPlace(batch.sparkSession,
            idCol = if (mergeById) Some("event_id") else None,
            maxFoldRows = compactTierRows)
          // compaction defers segment reclaim to vacuum (time travel); on a
          // long-running stream storage would otherwise grow by one table
          // copy per compaction. Keep a short snapshot history for
          // operational rollback, reclaim everything older.
          sink.vacuum(retainSnapshots = retainSnapshots)
          ()
        }
        ()
      }

  /** End-to-end job: input stream → validate/convert → within-watermark
    * dedup → merge-by-id lake. The stateful dedup bounds the duplicate rate
    * cheaply in-stream and drops rows older than the watermark (counted in
    * its `numRowsDroppedByWatermark`, see [[deduped]]); the sink merge
    * guarantees store-wide uniqueness. Sessions/counts/join run as sibling
    * queries on the same source. */
  def run(input: DataFrame, sinkPath: String, checkpoint: String): StreamingQuery = {
    val sink = new LakeSink(sinkPath)
    toLake(deduped(statements(input)), sink, checkpoint).start()
  }

  /** Statement forwarding (statements.py:581-585, api/forwarding.py:35-57):
    * after the primary landing, fan statements out to a downstream store.
    * Reference semantics preserved: forwarding runs AFTER the primary write
    * succeeds and a forwarding failure never fails the ingest (the reference
    * uses a background task with retries, api/forwarding.py:46-57).
    *
    * Durability: a forward failure cannot rely on streaming replay — once
    * foreachBatch returns, the checkpoint commits and the batch is never
    * re-delivered. So failures are retried in-batch (`forwardRetries`), and
    * any batch that still fails is healed by [[reconcileForward]], which
    * diffs the two manifests and re-forwards missing batches from the
    * primary's committed files (call it at startup and/or periodically —
    * the manifest diff is the durable record of the backlog). */
  def toLakeWithForward(statements: DataFrame, primary: LakeSink, forward: LakeSink,
                        checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow(),
                        forwardRetries: Int = 2): DataStreamWriter[org.apache.spark.sql.Row] =
    statements.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val projected = Store.project(batch, "xapi").cache()
        try {
          primary.addBatchMerged(batchId, projected, "event_id")
          var attempt = 0
          var done = false
          while (!done && attempt <= forwardRetries) {
            try { forward.addBatchMerged(batchId, projected, "event_id"); done = true }
            catch { case e: Exception =>
              attempt += 1
              if (attempt > forwardRetries)
                org.slf4j.LoggerFactory.getLogger("graft.forwarding")
                  .warn(s"forwarding batch $batchId failed after $forwardRetries retries " +
                    s"(reconcileForward will heal it): $e")
            }
          }
        } finally projected.unpersist()
        ()
      }

  /** Heal the forward store: every STREAMING batch id committed to the
    * primary but unaccounted downstream is re-forwarded from the primary
    * segment that carries it (idempotent — addBatchMerged dedups by id).
    *
    * The diff runs on streaming ids, never on segment ids: compacted
    * generation ids (-1, -2, …) are per-sink counters that collide across
    * sinks without identifying the same content, so comparing them would
    * both skip real gaps (primary -1 "present" because forward compacted
    * too) and re-forward whole histories (primary -N never present
    * downstream). A healed segment commits under its highest missing
    * streaming id and records the REST in the entry's folded ranges
    * (`covering`), so one reconcile accounts for everything it shipped.
    * Returns the streaming ids healed. */
  def reconcileForward(spark: SparkSession, primary: LakeSink, forward: LakeSink): Seq[Long] = {
    // range-level coverage math: a fully-covered month-long segment costs
    // O(ranges), never O(batch ids); the downstream cover merges ONCE
    val downstream = LakeSink.mergeRanges(forward.committed().flatMap(_.streamIdRanges))
    val healed = scala.collection.mutable.ArrayBuffer.empty[Long]
    primary.committed().foreach { e =>
      val missing = LakeSink.subtractMerged(e.streamIdRanges, downstream)
      if (missing.nonEmpty) {
        val batch = spark.read.parquet(s"${primary.path}/batch=${e.batch}")
          .drop("_batch_id", "_part_id")
        forward.addBatchMerged(missing.map(_._2).max, batch, "event_id",
          covering = missing)
        healed ++= missing.flatMap { case (lo, hi) => lo to hi }
      }
    }
    healed.toSeq.sorted
  }
}
