package graftbench

/** The per-layer metric set printed by a traced run. Every traced run
  * prints every name; a layer the workload bypasses did no work and
  * reads 0. */
object Layers {

  val names: Seq[(String, String)] = Seq(
    "gen.events" -> "count", "gen.lag_p99_ms" -> "ms",
    "sources.decode_ms" -> "ms", "sources.malformed_rows" -> "count",
    "streaming.batches" -> "count", "streaming.trigger_p50_ms" -> "ms",
    "streaming.trigger_p99_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.latest_offset_ms" -> "ms",
    "streaming.protocol_ms" -> "ms", "streaming.backlog_max_events" -> "count",
    "streaming.state.update_ms" -> "ms", "streaming.state.commit_ms" -> "ms",
    "streaming.state.rows" -> "count", "streaming.state.memory_bytes" -> "bytes",
    "streaming.state.dropped_late_rows" -> "count",
    "streaming.state.restore_first_batch_ms" -> "ms",
    "streaming.state.snapshot_read_ms" -> "ms",
    "streaming.state.changefeed_read_ms" -> "ms",
    "streaming.state.read_rows" -> "count",
    "functions.band_keys_ms" -> "ms", "functions.ngram_frac_ms" -> "ms",
    "operators.gopher_keep_ms" -> "ms", "operators.gopher_kept" -> "count",
    "operators.lsh_ms" -> "ms", "operators.lsh_candidate_pairs" -> "count",
    "operators.lsh_verified_pairs" -> "count", "operators.lsh_yield" -> "share",
    "operators.lsh_recall" -> "share",
    "operators.clusters_ms" -> "ms", "operators.clusters_jobs" -> "count",
    "operators.clusters" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_ms" -> "ms", "spark.busy_share" -> "share",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms", "spark.failed_tasks" -> "count",
    "jvm.heap_live_mb" -> "MB", "error_rate" -> "share")

  /** The traced run's copies of the end-to-end metrics: set against an
    * untraced run they give the tracing overhead. */
  val traced: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "events_per_s" -> "events/s", "emit_p50_ms" -> "ms",
    "emit_p99_ms" -> "ms", "restore_s" -> "s", "state_read_s" -> "s",
    "result_s" -> "s").map { case (n, u) => s"traced.$n" -> u }

  /** Every per-layer name in order, measured or 0. */
  def all(measured: Seq[(String, Metric)], e2e: Seq[(String, Metric)],
      attempted: Long, failed: Long): Seq[(String, Metric)] = {
    val m = measured.toMap ++ e2e.map { case (k, v) => s"traced.$k" -> v } +
      ("error_rate" -> Metric(failed.toDouble / math.max(1L, attempted), "share"))
    (names ++ traced).map { case (n, u) => n -> m.getOrElse(n, Metric(0, u)) }
  }

  /** Used heap after a forced collection, in MB. */
  def heapLiveMb(): Double = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / (1024.0 * 1024.0)
  }
}
