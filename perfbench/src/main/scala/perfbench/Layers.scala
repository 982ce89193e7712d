package perfbench

/** The per-layer report of a traced run. Every metric is listed on
  * every workload; a layer the workload does not exercise reads 0.
  * Totals are per traced pass.
  */
object Layers {

  /** Span names whose self time is reported; `op` is an op's root span. */
  val SpanLayers: Seq[String] = Seq("op", "entry", "hash", "jdbc", "scopes",
    "mapreduce", "pipe", "artifact")

  val All: Seq[(String, String)] = Seq(
    "entry.build_ms" -> "ms", "entry.build_jobs" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
    "sched.driver_gap_ms" -> "ms", "sched.failed_tasks" -> "count",
    "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.input_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "plan.exchanges" -> "count", "plan.wscg_subtrees" -> "count",
    "plan.codegen_fallbacks" -> "count", "plan.sort_aggregates" -> "count",
    "ops.minhash_bands_ns_row" -> "ns/row", "ops.simhash_ns_row" -> "ns/row",
    "ops.winnow_ns_row" -> "ns/row", "ops.quality_score_ns_row" -> "ns/row",
    "jdbc.open_ms" -> "ms", "jdbc.import_rows_per_s" -> "rows/s",
    "jdbc.import_tasks" -> "count", "jdbc.export_rows_per_s" -> "rows/s",
    "mr.ms" -> "ms", "mr.shuffle_write_mb" -> "MB", "pipe.ms" -> "ms",
    "pipe.lines_in" -> "count", "pipe.child_processes" -> "count",
    "scopes.create_ms" -> "ms", "scopes.save_ms" -> "ms", "scopes.delete_ms" -> "ms",
    "scopes.bytes_written" -> "bytes",
    "artifact.build_ms" -> "ms", "artifact.append_ms" -> "ms", "artifact.compact_ms" -> "ms",
    "artifact.load_ms" -> "ms", "artifact.files_written" -> "count",
    "artifact.bytes_per_row" -> "bytes/row",
    "trace.overhead_ms" -> "ms", "host.drift_ratio" -> "ratio") ++
    SpanLayers.map(l => s"self.${l}_ms" -> "ms")

  def report(wl: Workload, ops: Seq[OpSample], tracer: Tracer, tracedPassS: Double,
             untracedPassS: Double, probes: Map[String, Double],
             driftRatio: Double): Seq[(String, Double, String)] = {
    val passes = math.max(1, ops.map(_.pass).distinct.size)
    def total(f: Counts => Long): Double = ops.map(o => f(o.counts)).sum.toDouble / passes
    val kindOf = ops.map(o => o.id -> o.kind).toMap
    def spanMs(name: String, kinds: Set[String] = Set.empty): Double =
      tracer.allSpans.filter(s => s.name == name &&
        (kinds.isEmpty || kinds(kindOf.getOrElse(s.op, ""))))
        .map(_.durNs).sum / 1e6 / passes
    val self = tracer.selfMs.toSeq
      .groupBy { case (n, _) => if (n.startsWith("op.")) "op" else n }
      .map { case (l, xs) => s"self.${l}_ms" -> xs.map(_._2).sum / passes }
    val generic = Map(
      "entry.build_ms" -> spanMs("entry"),
      "catalyst.analysis_ms" -> total(_.analysisMs),
      "catalyst.optimization_ms" -> total(_.optimizationMs),
      "catalyst.planning_ms" -> total(_.planningMs),
      "sched.jobs" -> total(_.jobs), "sched.stages" -> total(_.stages),
      "sched.tasks" -> total(_.tasks), "sched.failed_tasks" -> total(_.failedTasks),
      "sched.driver_gap_ms" -> ops.map(_.idleMs).sum.toDouble / passes,
      "exec.task_cpu_ms" -> total(_.cpuNs) / 1e6, "exec.gc_ms" -> total(_.gcMs),
      "exec.input_mb" -> total(_.inputBytes) / 1e6,
      "exec.shuffle_write_mb" -> total(_.shuffleWriteBytes) / 1e6,
      "exec.shuffle_read_mb" -> total(_.shuffleReadBytes) / 1e6,
      "exec.spill_mb" -> total(_.spillBytes) / 1e6,
      "plan.exchanges" -> total(_.exchanges), "plan.wscg_subtrees" -> total(_.wscgSubtrees),
      "plan.codegen_fallbacks" -> total(_.codegenFallbacks),
      "plan.sort_aggregates" -> total(_.sortAggregates),
      "jdbc.open_ms" -> spanMs("jdbc", Set("import")),
      "scopes.create_ms" -> spanMs("scopes", Set("create")),
      "scopes.save_ms" -> spanMs("scopes", Set("import", "mapreduce", "pipe")),
      "scopes.delete_ms" -> spanMs("scopes", Set("delete")),
      "trace.overhead_ms" -> (tracedPassS - untracedPassS) * 1e3,
      "host.drift_ratio" -> driftRatio)
    val merged = generic ++ self ++ wl.layers(ops, passes) ++ probes
    All.map { case (k, unit) =>
      val v = merged.getOrElse(k, 0.0)
      (k, if (v.isNaN || v.isInfinite) 0.0 else v, unit)
    }
  }
}
