package perfbench

/** The per-layer metrics a traced run prints, in order, with units. Every
  * traced run prints all of them; a layer the workload does not exercise
  * reads 0. BENCHMARK.json declares the same list.
  */
object Metrics {
  val perLayer: Seq[(String, String)] = Seq(
    // validate_scan -> rows_per_s, core_util
    "scan.read_s" -> "s",
    "engine.annotate_s" -> "s",
    "engine.rollup_s" -> "s",
    "scan.task_busy_s" -> "s",
    "scan.sched_idle_s" -> "s",
    "scan.tasks" -> "count",
    "scan.rows_per_s_1core" -> "rows/s",
    "scan.scaling_efficiency" -> "ratio",
    // gate_bulk -> rows_per_s (write), op_p50_ms (write + read-back)
    "gate.engine.annotate_s" -> "s",
    "gate.sketch.observe_s" -> "s",
    "gate.table.write_annotated_s" -> "s",
    "gate.table.write_violations_s" -> "s",
    "gate.table.write_rollups_s" -> "s",
    "gate.table.commit_s" -> "s",
    "gate.table.bytes_annotated" -> "bytes",
    "gate.table.bytes_violations" -> "bytes",
    "gate.table.files" -> "count",
    "gate.spark.jobs" -> "count",
    "gate.stored_bytes_per_row" -> "bytes",
    "gate.table.read_valid_s" -> "s",
    "gate.table.read_violations_s" -> "s",
    "gate.drift.report_s" -> "s",
    "gate.integrity.referential_s" -> "s",
    "gate.read_s" -> "s",
    // gate_micro -> op_p50_ms (per batch), rows_per_s
    "micro.engine.annotate_ms" -> "ms",
    "micro.table.head_ms" -> "ms",
    "micro.table.ledger_ms" -> "ms",
    "micro.spark.jobs_per_batch" -> "count",
    "micro.table.files_per_batch" -> "count",
    "micro.batches" -> "count",
    "micro.batch_tail_ms" -> "ms",
    "micro.read_s" -> "s",
    "micro.compact_s" -> "s",
    "micro.read_compacted_s" -> "s",
    "micro.table.compact_files_before" -> "count",
    "micro.table.compact_files_after" -> "count",
    "micro.table.compact_bytes_rewritten" -> "bytes",
    // near_dup -> op_p50_ms (one family pass)
    "ops.img_near_dup_s" -> "s",
    "ops.q20_minhash_dedup_s" -> "s",
    "ops.q21_simhash_dedup_s" -> "s",
    "ops.q22_ngram_jaccard_s" -> "s",
    "ops.q35_phash_near_dup_s" -> "s",
    "ops.q36_dedup_components_s" -> "s",
    "ops.q37_semantic_dedup_s" -> "s",
    "ops.q44_incremental_near_dup_s" -> "s",
    "ops.q45_incremental_text_dedup_s" -> "s",
    "ops.shuffle_bytes" -> "bytes",
    "ops.lsh_dropped_rows" -> "count",
    // every workload
    "trace.overhead_ms" -> "ms",
    "trace.op_driver_ms" -> "ms",
    "trace.spans" -> "count"
  )
}
