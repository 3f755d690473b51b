package perfbench

/** Every per-layer metric the traced run reports, with its unit. A layer a
  * workload never enters reads 0 (the Streams layer on corpus_dedup, the
  * kernels on event_analytics), which is how the traced run shows each
  * bypass. */
object PerLayer {
  val catalogue: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.cold_pass_s" -> "s", "trace.overhead_s" -> "s",
    "mem.peak_rss_mb" -> "MB", "mem.peak_heap_mb" -> "MB", "mem.retained_heap_mb" -> "MB",
    "Tables.scan_rows" -> "count", "Tables.scan_mb" -> "MB",
    "Tables.events.scan_rows" -> "count", "Tables.orders.scan_rows" -> "count",
    "Tables.documents.scan_rows" -> "count", "Tables.embeddings.scan_rows" -> "count") ++
    Seq("LogAnalytics", "Windows", "NearDup", "LlmSimilarity").flatMap(m =>
      Seq(s"$m.build_s" -> "s", s"$m.exec_s" -> "s")) ++
    Kernels.names.map(k => s"functions.${k}_s" -> "s") ++ Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "exchange.shuffle_write_mb" -> "MB", "exchange.shuffle_read_mb" -> "MB",
    "exchange.task_skew" -> "ratio",
    "exec.tasks" -> "count", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.spill_mb" -> "MB",
    "driver.self_s" -> "s", "scheduler.job_self_s" -> "s", "cache.mb" -> "MB") ++
    Seq("Streams.cold_replay_s" -> "s", "Streams.replay_s" -> "s",
      "Streams.events_per_s" -> "1/s", "Streams.batch_p50_s" -> "s",
      "Streams.driver_self_s" -> "s") ++
    StreamReplay.jobs.flatMap(j => Seq(
      s"Streams.$j.add_batch_s" -> "s", s"Streams.$j.wal_commit_s" -> "s",
      s"Streams.$j.commit_offsets_s" -> "s", s"Streams.$j.query_planning_s" -> "s",
      s"Streams.$j.idle_s" -> "s", s"Streams.$j.state_rows" -> "count",
      s"Streams.$j.state_mb" -> "MB", s"Streams.$j.rows_updated" -> "count",
      s"Streams.$j.rows_dropped_by_watermark" -> "count")) ++ Seq(
    "sink.write_s" -> "s",
    "Streams.local1.replay_s" -> "s", "Streams.local1.events_per_s" -> "1/s")

  def complete(m: Map[String, Double]): Seq[Metric] =
    catalogue.map { case (n, u) => Metric(n, u, m.getOrElse(n, 0.0)) }
}
