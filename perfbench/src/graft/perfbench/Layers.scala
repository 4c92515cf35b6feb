package graft.perfbench

/** Per-layer metrics from the traced replay of a run. Layer times are the
  * median self time of that layer's spans. Engine and filesystem counters
  * are summed over every top-level span (operations and maintenance; the
  * output checks record none) and divided by the number of primary
  * operations. Metrics of a layer the workload never calls read 0. */
object Layers {

  private val spanTimes = Seq(
    "sources.read", "shaping.summarize", "shaping.flatten",
    "shaping.pivot_tags", "shaping.trace_with_spans",
    "analysis.critical_path", "analysis.service_graph", "presentation.prep",
    "dedup.exact_admit", "dedup.neardup_admit", "dedup.forget",
    "dedup.expire", "dedup.compact", "dedup.epoch_ack_sweep",
    "gen.resolve", "gen.sweep", "similarity.load", "similarity.topk",
    "similarity.append", "similarity.delete", "similarity.compact")

  def metrics(tr: Tracer, phase: Seq[Main.Timed], wl: Workload)
      : Seq[(String, String, Double)] = {
    val spans = tr.spans.toSeq
    val roots = spans.filter(_.parent == -1)
    val nOps = math.max(1, phase.count(_.kind == "op")).toDouble
    def total(k: String) = roots.map(_.deltas(k)).sum
    def perOp(k: String, scale: Double = 1.0) = total(k) * scale / nOps
    def named(n: String) = spans.filter(_.name == n)
    def med(xs: Seq[Double]) =
      if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    def ratio(a: Double, b: Double) = if (b <= 0) 0.0 else a / b
    val topk = named("similarity.topk")
    val times = spanTimes.map(n =>
      (s"${n}_s", "s", med(named(n).map(tr.selfSeconds))))
    val reads = named("sources.read")
    val extra = wl.layerValues
    times ++ Seq(
      ("sources.bytes_read", "bytes",
        ratio(reads.map(_.deltas("fs_bytes_read")).sum, reads.size)),
      ("spark.executor_run_s", "s", perOp("executor_run_ms", 1e-3)),
      ("spark.gc_s", "s", perOp("gc_ms", 1e-3)),
      ("spark.shuffle_write_bytes", "bytes", perOp("shuffle_write_bytes")),
      ("spark.shuffle_read_bytes", "bytes", perOp("shuffle_read_bytes")),
      ("spark.max_task_share", "ratio",
        ratio(total("stage_max_task_ms"), total("stage_run_ms"))),
      ("spark.jobs", "count", perOp("jobs")),
      ("spark.driver_gap_s", "s",
        roots.map(s => s.seconds - s.deltas("job_union_ms") / 1e3).sum / nOps),
      ("spark.input_records_per_result", "ratio",
        ratio(total("input_records"), total("result_rows"))),
      ("catalyst.planning_s", "s", perOp("planning_ms", 1e-3)),
      ("fs.list_ops", "count", perOp("fs_list_ops")),
      ("fs.read_ops", "count", perOp("fs_read_ops")),
      ("fs.write_ops", "count", perOp("fs_write_ops")),
      ("fs.bytes_written", "bytes", perOp("fs_bytes_written")),
      ("similarity.input_records_per_result", "ratio",
        ratio(topk.map(_.deltas("input_records")).sum,
          topk.map(_.deltas("result_rows")).sum)),
      ("dedup.admitted_share", "ratio", extra.getOrElse("dedup.admitted_share", 0.0)),
      ("gen.generations_live", "count", extra.getOrElse("gen.generations_live", 0.0)))
  }
}
