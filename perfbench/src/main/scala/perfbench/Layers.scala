package perfbench

/** Every per-layer metric a traced run reports, with its unit and which
  * direction is better. A traced run reports all of them; a layer its
  * workload does not exercise reads 0 (README.md, "Per-layer metrics"). */
object Layers {
  val Families: Seq[String] = Seq("a", "e", "f", "g", "j", "k", "l", "m",
    "p", "r", "s", "sc", "t", "ts", "v", "w", "z")

  private def lo(n: String, u: String) = (n, u, "lower")
  private def hi(n: String, u: String) = (n, u, "higher")

  val All: Seq[(String, String, String)] = Seq(
    // ts: capture_scan, each layer alone over materialized input
    lo("ts.decode.s", "s"), lo("ts.decode.cpu_s", "s"),
    hi("ts.decode.pkts_per_s", "1/s"),
    lo("ts.cc_audit.s", "s"), lo("ts.cc_audit.shuffle_write_bytes", "B"),
    lo("ts.psi_sections.s", "s"),
    lo("ts.psi_sections.shuffle_write_bytes", "B"),
    hi("ts.psi_sections.sections_out", "count"),
    lo("ts.latest_tables.s", "s"), lo("ts.summary_join.s", "s"),
    lo("ts.doc_json.s", "s"),
    lo("ts.composed.stages", "count"), lo("ts.composed.tasks", "count"),
    lo("ts.composed.gc_ms", "ms"), lo("ts.composed.spill_bytes", "B"),
    hi("ts.single_core.pkts_per_s", "1/s"),
    // sources: live_mux
    hi("sources.udp.records_sent", "count"),
    hi("sources.udp.records_received", "count"),
    lo("sources.udp.loss_ratio", "ratio"),
    lo("sources.udp.backlog_records_max", "count"),
    lo("sources.udp.backlog_slope_records_per_s", "1/s"),
    lo("gen.late_ms_max", "ms"),
    // streaming: live_mux, from StreamingQueryProgress
    hi("streaming.batch.batches", "count"),
    hi("streaming.batch.input_rows_p50", "count"),
    lo("streaming.batch.trigger_ms_p50", "ms"),
    lo("streaming.batch.add_batch_ms_p50", "ms"),
    lo("streaming.batch.query_planning_ms_p50", "ms"),
    lo("streaming.batch.wal_commit_ms_p50", "ms"),
    lo("streaming.batch.commit_offsets_ms_p50", "ms"),
    lo("streaming.batch.latest_offset_ms_p50", "ms"),
    lo("streaming.batch.get_batch_ms_p50", "ms")) ++
    Seq("sections", "tables").flatMap(op => Seq(
      lo(s"streaming.state.$op.rows_total", "count"),
      lo(s"streaming.state.$op.memory_bytes", "B"),
      lo(s"streaming.state.$op.commit_ms_p50", "ms"),
      lo(s"streaming.state.$op.all_updates_ms_p50", "ms"))) ++ Seq(
    // http / sinks: live_mux
    hi("http.gets", "count"),
    lo("http.get_ms_p50", "ms"),
    lo("http.get_ms_unchanged_p50", "ms"),
    lo("http.get_ms_changed_p50", "ms")) ++
    // operators / SessionMemo / Spark: the query sample capture_scan's
    // traced run makes (QuerySweep)
    Families.flatMap(f => Seq(lo(s"operators.$f.wall_s", "s"),
      lo(s"operators.$f.cpu_s", "s"))) ++ Seq(
    lo("sweep.planning_s", "s"), lo("sweep.job_s", "s"),
    lo("sweep.unattributed_s", "s"),
    lo("sweep.stages", "count"), lo("sweep.tasks", "count"),
    lo("sweep.shuffle_write_bytes", "B"), lo("sweep.spill_bytes", "B"),
    lo("sweep.gc_s", "s"), lo("sweep.cache_builds", "count"),
    lo("sweep.storage_mem_bytes_peak", "B"),
    // tracing overhead: traced minus untraced, on the headline figure of
    // the capture passes, the live ladder and the query sample
    lo("trace.overhead.capture_pass_s", "s"),
    lo("trace.overhead.visible_ms_p50", "ms"),
    lo("trace.overhead.sweep_wall_s", "s"))
}
