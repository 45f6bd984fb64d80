package graft.perfbench

/** The metric catalog: every name and unit a run can emit. BENCHMARK.json
  * lists the same names and units (the self-tests hold the two equal). */
object Metrics {

  /** Emitted by every workload's untraced run. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "docs_per_s" -> "docs/s",
    "index_bytes_per_text_byte" -> "ratio",
    "query_qps" -> "1/s",
    "query_p50_ms" -> "ms",
    "query_p75_ms" -> "ms")

  /** Emitted by every workload's traced run; a layer the workload does not
    * exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "index.docs_s" -> "s",
    "index.corpusstats_s" -> "s",
    "index.blocks_s" -> "s",
    "index.termstats_s" -> "s",
    "index.docs_rows" -> "count",
    "index.blocks_rows" -> "count",
    "index.terms" -> "count",
    "index.shuffle_write_bytes" -> "bytes",
    "index.spill_bytes" -> "bytes",
    "index.gc_s" -> "s",
    "index.jobs" -> "count",
    "index.tasks" -> "count",
    "analysis.tokenize_s" -> "s",
    "analysis.postings" -> "count",
    "codec.encode_s" -> "s",
    "codec.decode_s" -> "s",
    "codec.bytes_per_posting" -> "bytes",
    "catalog.docs_bytes" -> "bytes",
    "catalog.blocks_bytes" -> "bytes",
    "catalog.termstats_bytes" -> "bytes",
    "catalog.files" -> "count",
    "query.compile_s" -> "s",
    "query.probe_s" -> "s",
    "query.decode_s" -> "s",
    "query.score_s" -> "s",
    "query.topk_s" -> "s",
    "query.terms_compiled" -> "count",
    "query.terms_unknown" -> "count",
    "query.blocks_probed" -> "count",
    "query.postings_decoded" -> "count",
    "query.candidates" -> "count",
    "query.postings_per_result" -> "ratio",
    "query.input_bytes" -> "bytes",
    "query.shuffle_bytes" -> "bytes",
    "query.jobs" -> "count",
    "query.tasks" -> "count",
    "serving.open_s" -> "s",
    "serving.search_ms" -> "ms",
    "serving.serve_ms" -> "ms",
    "serving.http_ms" -> "ms",
    "serving.jobs_per_query" -> "count",
    "serving.tasks_per_query" -> "count",
    "serving.sched_wait_ms" -> "ms",
    "serving.cache_hit_rate" -> "ratio",
    "serving.inflight_max" -> "count",
    "update.add_s" -> "s",
    "update.remove_s" -> "s",
    "update.open_merged_s" -> "s",
    "update.compact_s" -> "s",
    "update.segments" -> "count",
    "update.tombstones" -> "count",
    "update.bytes_written_per_doc" -> "bytes",
    "update.read_amp" -> "ratio",
    "runtime.gc_s" -> "s",
    "runtime.heap_peak_mb" -> "MB",
    "runtime.tracing_overhead" -> "ratio")

  val unitOf: Map[String, String] = (EndToEnd ++ PerLayer).toMap

  /** The one-line result object, with every value as measured. */
  def resultJson(report: Report, trace: Boolean): String = {
    val names = if (trace) PerLayer.map(_._1) else EndToEnd.map(_._1)
    val values = names.map { n =>
      val v = if (trace) report.layer.getOrElse(n, 0.0) else report.e2e.get(n).fold(0.0)(_._1)
      val finite = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": ${finite.toString}, "unit": "${unitOf(n)}"}"""
    }
    s"""{"correct": ${report.correct}, "attempted": ${math.max(1L, report.attempted)}, """ +
      s""""failed": ${report.failed}, "metrics": {${values.mkString(", ")}}}"""
  }
}
