package graft.perfbench

/** Every per-layer metric a traced run reports, with its unit. A layer a
  * workload does not exercise reports 0: `pipeline.*`, `canonical.*`,
  * `table.*` and `query.*` on stream_ingest, `streaming.*` on bulk_build.
  * The list is mirrored in BENCHMARK.json's `per_layer` and explained in
  * perfbench/NOTES.md. */
object LayerMetrics {
  val All: Seq[(String, String)] = Seq(
    "text.segment_us_per_conv" -> "us",
    "text.segment_alloc_kib_per_conv" -> "KiB",
    "rules.citations_us_per_conv" -> "us",
    "rules.citation_hits_per_conv" -> "count",
    "ontology.scan_us_per_conv" -> "us",
    "ontology.compile_ms" -> "ms",
    "extract.us_per_conv" -> "us",
    "extract.alloc_kib_per_conv" -> "KiB",
    "extract.orphan_repair_us_per_conv" -> "us",
    "extract.nodes_per_conv" -> "count",
    "extract.edges_per_conv" -> "count",
    "pipeline.extract_s" -> "s",
    "pipeline.overhead_ratio" -> "ratio",
    "pipeline.cache_mib" -> "MiB",
    "pipeline.executor_cpu_s" -> "s",
    "pipeline.gc_s" -> "s",
    "pipeline.shuffle_write_mib" -> "MiB",
    "pipeline.scaling_eff_1_to_4" -> "ratio",
    "canonical.s" -> "s",
    "canonical.cc_edges" -> "count",
    "canonical.cc_distributed" -> "bool",
    "canonical.cc_iterations" -> "count",
    "canonical.exchanges" -> "count",
    "canonical.shuffle_write_mib" -> "MiB",
    "canonical.mapping_rows" -> "count",
    "table.materialize_s" -> "s",
    "table.executor_cpu_s" -> "s",
    "table.gc_s" -> "s",
    "table.spill_mib" -> "MiB",
    "table.files_written" -> "count",
    "table.output_mib" -> "MiB",
    "table.snapshot_load_s" -> "s",
    "table.resume_noop_s" -> "s") ++
    Workloads.QueryNames.map(n => s"query.${n}_s" -> "s") ++ Seq(
    "streaming.state_rows" -> "count",
    "streaming.state_mib" -> "MiB",
    "streaming.rows_dropped_by_watermark" -> "count",
    "streaming.emit_lag_batches" -> "batches",
    "streaming.convs_emitted_twice" -> "count",
    "trace.coverage" -> "ratio",
    "trace.overhead" -> "ratio")

  private val units = All.toMap

  def unit(name: String): String =
    units.getOrElse(name, throw new IllegalArgumentException(s"unlisted per-layer metric $name"))
}
