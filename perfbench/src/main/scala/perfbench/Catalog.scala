package perfbench

/** Every per-layer metric, tagged with the end-to-end metric it should move
  * and the workload where its layer dominates. `BENCHMARK.json` lists the
  * [[PerLayer]] set; the self-test keeps the two in step. */
object Catalog {

  final case class Metric(name: String, unit: String, layer: String, moves: String, where: String)

  private val stream = ("trigger loop (streaming.StreamPipeline)", "latency_p50_ms",
    "ingest_lake, ingest_sessions, dedup_maint")
  private val map = ("map path (operators.Validate + operators.Convert)", "records_per_s",
    "ingest_sessions (smaller on ingest_lake; absent on lrs_read, dedup_maint)")
  private val dstate = ("dedup state (StreamPipeline.deduped, RocksDB)", "records_per_s",
    "ingest_lake, ingest_sessions")
  private val sess = ("session state (streaming.Sessionize)", "records_per_s", "ingest_sessions")
  private val sink = ("store write (operators.Store + streaming.LakeSink)",
    "records_per_s, stored_bytes_per_record (layout moves latency_p50_ms on lrs_read)",
    "ingest_lake; lrs_read's lake build, the same merge path, in set-up (small on ingest_sessions)")
  private val read = ("read (operators.Lrs over LakeSink.read)", "latency_p50_ms, records_per_s",
    "lrs_read")
  private val dedup = ("near-dup maintenance (streaming.IncrementalDedup)", "records_per_s",
    "dedup_maint")
  private val engine = ("engine (Spark core)", "all", "all")
  private val tracing = ("tracing overhead", "none (traced ÷ untraced rounds of the same run)", "all")
  private val process = ("process (JVM)", "none (VmHWM does not repeat within a tenth)", "all")

  private def m(n: String, u: String, t: (String, String, String)) = Metric(n, u, t._1, t._2, t._3)

  val DedupPhases: Seq[String] = Seq("shingle", "band", "candidate_verify", "label_merge",
    "commit_labels", "commit_bands", "commit_shingles")

  /** Reported by every traced run; 0 where the layer is absent. */
  val PerLayer: Seq[Metric] = Seq(
    m("stream.batches", "count", stream),
    m("map.rows_in", "count", map), m("map.rows_out", "count", map),
    m("validate.invalid", "count", map), m("map.useful_ratio", "ratio", map),
    m("dedup_state.rows_total", "count", dstate), m("dedup_state.memory_bytes", "B", dstate),
    m("dedup_state.rows_dropped_late", "count", dstate), m("dedup_state.rows_kept", "count", dstate),
    m("sessionize.state_rows", "count", sess), m("sessionize.state_bytes", "B", sess),
    m("sessionize.rows_out", "count", sess),
    m("lakesink.jobs", "count", sink), m("lakesink.probe_candidates", "count", sink),
    m("lakesink.rows_in", "count", sink), m("lakesink.rows_committed", "count", sink),
    m("lakesink.novel_ratio", "ratio", sink), m("lakesink.files_written", "count", sink),
    m("lakesink.bytes_written", "B", sink), m("lakesink.manifest_entries", "count", sink),
    m("lrs.jobs_per_query", "count", read), m("lrs.files_read", "count", read),
    m("lrs.bytes_read", "B", read), m("lrs.rows_scanned_per_row_returned", "ratio", read)) ++
    (DedupPhases :+ "other").map(p => m(s"dedup.${p}_jobs", "count", dedup)) ++ Seq(
    m("dedup.jobs_per_batch", "count", dedup), m("dedup.state_bytes_read", "B", dedup),
    m("dedup.candidate_pairs", "count", dedup), m("dedup.verified_pairs", "count", dedup),
    m("dedup.verify_yield", "ratio", dedup), m("dedup.graph_nodes", "count", dedup),
    m("dedup.touched_reps", "count", dedup),
    m("spark.jobs", "count", engine), m("spark.stages", "count", engine),
    m("spark.tasks", "count", engine), m("spark.executor_run_ms", "ms", engine),
    m("spark.executor_cpu_ms", "ms", engine), m("spark.driver_share", "ratio", engine),
    m("spark.gc_ms", "ms", engine), m("spark.shuffle_write_bytes", "B", engine),
    m("spark.shuffle_read_bytes", "B", engine), m("spark.spill_bytes", "B", engine),
    m("trace.throughput_ratio", "ratio", tracing), m("trace.latency_p50_ratio", "ratio", tracing),
    m("jvm.peak_rss_mb", "MB", process))

  /** Layer times, present only on the workloads that run the layer, so they
    * go to the trace report rather than the per-layer line (a constant 0 ms
    * is not a measurement). */
  val LayerTimes: Seq[Metric] =
    Streams.Phases.map { case (_, n) => m(s"stream.${n}_ms", "ms", stream) } ++ Seq(
      m("map.ms", "ms", map), m("dedup_state.commit_ms", "ms", dstate),
      m("dedup_state.task_ms", "ms", dstate), m("sessionize.commit_ms", "ms", sess),
      m("sessionize.task_ms", "ms", sess), m("lakesink.add_batch_ms", "ms", sink),
      m("lrs.build_ms", "ms", read), m("lrs.exec_ms", "ms", read)) ++
      Queries.Kinds.map(k => m(s"lrs.${k}_p50_ms", "ms", read)) ++
      (DedupPhases :+ "other").map(p => m(s"dedup.${p}_ms", "ms", dedup))

  /** Per-layer metrics a workload whose layer is absent reports as 0. */
  def fill(res: Result): Unit =
    PerLayer.foreach(x => if (!res.layer.contains(x.name)) res.layer(x.name) = (0.0, x.unit))

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "records_per_s" -> "records/s",
    "latency_p50_ms" -> "ms", "stored_bytes_per_record" -> "B")
}
