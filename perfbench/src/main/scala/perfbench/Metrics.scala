package perfbench

/** The reported metrics, in BENCHMARK.json order. `agg` says how per-call
  * samples reduce to one figure ("median" or "mean" over the traced calls,
  * "last" for end-of-phase readings); figures the runner derives itself
  * from the trace use "trace". A metric a workload never touches reads 0. */
final case class Metric(name: String, unit: String, better: String, agg: String = "trace")

object Metrics {
  val endToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("op_p50_ms", "ms", "lower"),
    Metric("items_per_s", "1/s", "higher"),
    Metric("retained_heap_mb", "MB", "lower"))

  val DomainStages: Seq[String] =
    Seq("ingest", "spatial", "mention_dedup", "mention_score", "classify", "collections", "trending")
  val CorpusOps: Seq[String] = Seq("minhash", "dup_clusters", "ngram_jaccard", "bm25", "bigram")
  /** The owners of traced wall time. `expr` and `sources` run only inside
    * other layers' calls and Spark tasks, so their time is in those owners. */
  val Layers: Seq[String] =
    Seq("domain", "ops", "plans", "sinks", "streaming", "engine", "harness")

  val perLayer: Seq[Metric] =
    DomainStages.flatMap(s => Seq(
      Metric(s"domain.$s.build_ms", "ms", "lower", "median"),
      Metric(s"domain.$s.exec_ms", "ms", "lower", "median"))) ++
    Seq(Metric("expr.kernel_ns_per_row", "ns/row", "lower", "median"),
      Metric("plans.analysis_ms", "ms", "lower"),
      Metric("plans.optimize_ms", "ms", "lower"),
      Metric("plans.physical_ms", "ms", "lower")) ++
    CorpusOps.flatMap(s => Seq(
      Metric(s"ops.$s.exec_ms", "ms", "lower", "median"),
      Metric(s"ops.$s.persisted_rdds_after", "count", "lower", "last"))) ++
    Seq(
      Metric("sinks.read.call_ms", "ms", "lower", "median"),
      Metric("sinks.read.prune_ms", "ms", "lower", "median"),
      Metric("sinks.read.scan_ms", "ms", "lower", "median"),
      Metric("sinks.read.files_read_ratio", "ratio", "lower", "mean"),
      Metric("sinks.read.footer_reads", "count", "lower", "mean"),
      Metric("sinks.upsert.call_ms", "ms", "lower", "median"),
      Metric("sinks.upsert.rewritten_files", "count", "lower", "mean"),
      Metric("sinks.upsert.reused_files", "count", "higher", "mean"),
      Metric("sinks.upsert.bloom_skipped", "count", "higher", "mean"),
      Metric("sinks.upsert.footer_reads", "count", "lower", "mean"),
      Metric("sinks.delete.call_ms", "ms", "lower", "median"),
      Metric("sinks.delete.rewritten_files", "count", "lower", "mean"),
      Metric("sinks.delete.dropped_files", "count", "higher", "mean"),
      Metric("sinks.delete.footer_reads", "count", "lower", "mean"),
      Metric("sinks.maintain_ms", "ms", "lower", "median"),
      Metric("sinks.table_files_end", "count", "lower", "last"),
      Metric("sinks.write_amp", "ratio", "lower", "last"),
      Metric("sinks.space_amp", "ratio", "lower", "last"),
      Metric("sources.attempts_per_request", "ratio", "lower", "last"),
      Metric("sources.backoff_ms_requested", "ms", "lower", "last"),
      Metric("streaming.trigger_ms", "ms", "lower"),
      Metric("streaming.add_batch_ms", "ms", "lower"),
      Metric("streaming.query_planning_ms", "ms", "lower"),
      Metric("streaming.wal_commit_ms", "ms", "lower"),
      Metric("streaming.commit_offsets_ms", "ms", "lower"),
      Metric("streaming.admitted_share", "ratio", "higher", "last"),
      Metric("engine.actions", "count", "lower"),
      Metric("engine.jobs", "count", "lower"),
      Metric("engine.driver_gap_ms", "ms", "lower"),
      Metric("engine.stages", "count", "lower"),
      Metric("engine.tasks", "count", "lower"),
      Metric("engine.task_ms", "ms", "lower"),
      Metric("engine.task_busy_share", "ratio", "higher"),
      Metric("engine.shuffle_read_bytes", "bytes", "lower"),
      Metric("engine.shuffle_write_bytes", "bytes", "lower"),
      Metric("engine.spill_bytes", "bytes", "lower"),
      Metric("engine.gc_ms", "ms", "lower"),
      Metric("engine.persisted_rdds_end", "count", "lower"),
      Metric("engine.storage_mem_mb_end", "MB", "lower"),
      Metric("engine.probe_drift", "ratio", "lower")) ++
    Layers.map(l => Metric(s"self_ms.$l", "ms", "lower")) ++
    Seq(Metric("trace_overhead.op_p50_ms", "ms", "lower"),
      Metric("trace_overhead.retained_heap_mb", "MB", "lower"),
      Metric("samples.ops", "count", "higher"))
}
