package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the settings this engine assumes everywhere:
  * UTC session time, AQE on, shuffle parallelism sized to the local core
  * count (not the 200 default, which is wrong for local mode), and the
  * RocksDB state store for streaming state (reference delegates state to
  * ES/Mongo/ClickHouse; we keep it in the state store —
  * /root/reference/src/ralph/backends/data/es.py:374-404).
  */
object Sessions {
  def build(master: String, shufflePartitions: Int, appName: String = "graft"): SparkSession =
    tune(SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // commit deltas, not full SST snapshots, per batch per partition —
      // full snapshots make state commit time scale with partition count
      // and dominate microbatch latency at high parallelism
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate())

  /** Apply the engine's standard SQL confs; [[build]] ends here too, and
    * Verify/Bench call it on the sessions they build per the driver
    * contract.
    *  - `json.enablePartialResults=false`: whole-record null on any JSON
    *    parse error — the reference's pydantic all-or-nothing record
    *    validation (validator.py:33-46).
    *  - `ansi.enabled=false`: malformed values are routed to side outputs
    *    (ignore_errors, utils.py:192-246) and never fail the job, so
    *    evaluation is permissive (null-on-error), not ANSI aborts.
    *  - `codegen.methodSplitThreshold=512`: splits generated projection
    *    code below the JIT's huge-method limit. At the default 1024 the
    *    widest validate→convert projection emitted a 19.8KB doConsume that
    *    HotSpot refused to compile (VERDICT r2 #5). Stages fusing a
    *    Generate (shingle explode) with a partial aggregate still emit one
    *    large method, which Spark cannot split (BASELINE.md's codegen note).
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.json.enablePartialResults", "false")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.codegen.methodSplitThreshold", "512")
    spark
  }
}
