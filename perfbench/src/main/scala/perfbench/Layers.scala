package perfbench

/** The per-layer metrics every traced run reports, with units. Only
  * metrics that every workload measures are listed: a layer a workload
  * never calls would read as a constant zero there. Layer times that
  * exist on one workload only (`<Pack>.busy_s`, `MergeWriter.upsert_s`,
  * `CteAnalytics.slopes_s`, ...) are printed in the run's report and kept
  * in the span file instead. The MergeWriter sizes and ratios are counts,
  * not times, and are an honest zero on the read-only workloads. */
object Layers {
  val units: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s",
    "operators.eager_jobs" -> "count",
    "catalyst.plan_s" -> "s",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.single_task_stages" -> "count",
    "spark.sched_gap_s" -> "s",
    "spark.crit_path_s" -> "s",
    "spark.exec_run_s" -> "s",
    "spark.exec_cpu_s" -> "s",
    "spark.parallelism" -> "ratio",
    "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "jvm.gc_s" -> "s",
    "Tables.input_mb" -> "MB",
    "Tables.input_rows" -> "count",
    "TextKernels.jaccard_ns_per_pair" -> "ns",
    "TextKernels.edit_ns_per_pair" -> "ns",
    "PolyHash.ns_per_row" -> "ns",
    "MergeWriter.upserts" -> "count",
    "MergeWriter.rewrite_frac" -> "ratio",
    "MergeWriter.bytes_written_mb" -> "MB",
    "MergeWriter.files" -> "count",
    "CtePipeline.ingest_visit_growth" -> "ratio",
    "write_amp" -> "ratio",
    "space_amp" -> "ratio",
    "trace.overhead_frac" -> "ratio",
    "trace.gap_s" -> "s")

  /** Metrics for workloads that never write to a warehouse. */
  val readOnly: Map[String, Double] = Map(
    "MergeWriter.upserts" -> 0.0, "MergeWriter.rewrite_frac" -> 0.0,
    "MergeWriter.bytes_written_mb" -> 0.0, "MergeWriter.files" -> 0.0,
    "CtePipeline.ingest_visit_growth" -> 0.0, "write_amp" -> 0.0, "space_amp" -> 0.0)

  def select(m: Map[String, Double]): Seq[Metric] = units.map { case (k, u) =>
    Metric(k, m.getOrElse(k, throw new IllegalStateException(s"layer metric $k not measured")), u)
  }
}
