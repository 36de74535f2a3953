package graft.sketchbench

/** Per-layer metrics of a traced run. Every workload reports every
  * metric; a call a workload never makes (a probe job on `build`, an
  * operator on `query`) reads 0.
  */
object Layers {
  val Self = Seq("bench", "core", "functions", "plans", "operators", "spark")

  def metrics(w: Workload, tracer: Tracer, l: TaskListener,
              traces: Seq[OpTrace], outs: Seq[Any], core: Map[String, Double],
              cachedMb: Double, cores: Int): Seq[(String, (Double, String))] = {
    def med(f: OpTrace => Double): Double = Stats.median(traces.map(f))
    def mean(f: OpTrace => Double): Double = traces.map(f).sum / traces.size
    def ms(t: OpTrace, span: String): Double = t.spanMs.getOrElse(span, 0.0)
    def tasks(t: OpTrace, span: String): TaskTotals =
      t.spanTasks.getOrElse(span, TaskTotals.of(Nil))
    def under(t: OpTrace, layers: Set[String]): Seq[TaskTotals] =
      t.spanTasks.collect { case (n, tt) if layers(n.takeWhile(_ != '.')) => tt }.toSeq
    /** Median over the warm set-ups (as setup_s) of the time spent in
      * spans called `name`.
      */
    def setupMs(name: String): Double = Stats.median(
      (2 to Main.SetupReps).map { rep =>
        tracer.spans.filter(s => s.op == -rep && s.name == name).map(_.durNs).sum / 1e6
      })
    val items = outs.map(o => w.items(o.asInstanceOf[w.Out]).toDouble)
    val perOpItems = traces.indices.map(items)

    val partialMs = med(_.partialTaskMs.getOrElse("functions.panel_agg", 0.0))
    val (foldedTokens, foldedValues) = w.foldedPerOp
    val kernelNs = foldedTokens * (3 * core("core.token_hash_ns") +
      core("core.bloom_add_ns") + core("core.hll_add_ns") +
      core("core.cms_add_ns")) + foldedValues * core("core.kll_add_ns")
    val probeRate = Stats.median(traces.indices.map { i =>
      val run = tasks(traces(i), "functions.bloom_probe").runMs
      if (run == 0) 0.0 else perOpItems(i) / (run / 1e3)
    })
    val opRecords = Stats.median(traces.indices.map { i =>
      under(traces(i), Set("operators")).map(_.shWriteRecords).sum / perOpItems(i)
    })
    val all = TaskTotals.of(l.tasks)
    val wall = mean(_.wallMs)
    val selfSum = mean(_.layerSelfMs.values.sum)

    val fromOuts = w.layerValues(outs.asInstanceOf[Seq[w.Out]])
    def out(name: String): Double = fromOuts.getOrElse(name, 0.0)
    Seq(
      "functions.panel_agg_ms" -> (med(ms(_, "functions.panel_agg")), "ms"),
      "functions.scan_only_ms" -> (w.probes().getOrElse("functions.scan_only_ms", 0.0), "ms"),
      "functions.partial_task_ms" -> (partialMs, "ms"),
      "functions.kernel_share" ->
        (if (partialMs > 0) kernelNs / (partialMs * 1e6) else 0.0, "fraction"),
      "functions.final_task_ms" -> (med(t => t.finalTaskMs.collect {
        case (n, v) if n.startsWith("functions.") || n.startsWith("plans.") => v
      }.sum), "ms"),
      "functions.probe_job_ms" -> (med(ms(_, "functions.bloom_probe")), "ms"),
      "functions.probe_keys_per_task_s" -> (probeRate, "keys/s"),
      "functions.buffer_shuffle_mb" ->
        (med(under(_, Set("functions", "plans")).map(_.shWriteBytes).sum / 1e6), "MB"),
      "plans.checkpoint_write_ms" -> (setupMs("plans.checkpoint_write"), "ms"),
      "plans.resume_ms" -> (med(ms(_, "plans.resume_panel")), "ms"),
      "plans.partials_read" -> (out("plans.partials_read"), "count"),
      "plans.checkpoint_read_mb" -> (out("plans.checkpoint_read_mb"), "MB"),
      "operators.dedup_index_write_ms" -> (setupMs("operators.dedup_index_write"), "ms"),
      "operators.eval_index_write_ms" -> (setupMs("operators.eval_index_write"), "ms"),
      "operators.dedup_incremental_ms" -> (med(ms(_, "operators.dedup_incremental")), "ms"),
      "operators.contaminated_ms" -> (med(ms(_, "operators.contaminated")), "ms"),
      "operators.shuffle_records_per_doc" -> (opRecords, "records/doc"),
      "operators.docs_dropped" -> (out("operators.docs_dropped"), "count"),
      "operators.docs_flagged" -> (out("operators.docs_flagged"), "count"),
      "operators.pinned_mb" -> (out("operators.pinned_mb"), "MB"),
      "sources.generate_ms" -> (setupMs("sources.generate"), "ms"),
      "sources.cached_mb" -> (cachedMb, "MB"),
      "spark.jobs_per_op" -> (med(_.jobs.toDouble), "count"),
      "spark.stages_per_op" -> (med(_.stages.toDouble), "count"),
      "spark.tasks_per_op" -> (med(_.all.tasks.toDouble), "count"),
      "spark.busy_frac" -> (med(t => t.all.runMs / (t.wallMs * cores)), "fraction"),
      "spark.driver_ms" -> (med(_.driverMs), "ms"),
      "spark.cpu_frac" ->
        (if (all.runMs == 0) 0.0 else all.cpuNs / (all.runMs * 1e6), "fraction"),
      "spark.gc_frac" ->
        (if (all.runMs == 0) 0.0 else all.gcMs.toDouble / all.runMs, "fraction"),
      "spark.shuffle_write_mb" -> (med(_.all.shWriteBytes / 1e6), "MB"),
      "spark.shuffle_read_mb" -> (med(_.all.shReadBytes / 1e6), "MB"),
      "spark.spill_mb" -> (med(_.all.spillBytes / 1e6), "MB"),
      "spark.task_skew" -> (med(_.taskSkew), "ratio"),
      "spark.failed_tasks" -> (all.failed.toDouble, "count"),
      "trace.unattributed_jobs" -> (traces.map(_.unattributedJobs).sum.toDouble, "count")
    ) ++ core.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> (v, if (k == "core.panel_bytes") "bytes" else "ns")
    } ++ Self.map(layer =>
      s"self.${layer}_ms" -> (mean(_.layerSelfMs.getOrElse(layer, 0.0)), "ms")
    ) ++ Seq(
      "trace.op_wall_ms" -> (wall, "ms"),
      "trace.self_sum_ms" -> (selfSum, "ms"))
  }

  /** Mean self time per op of each span, ms. */
  def spanSelf(traces: Seq[OpTrace]): Map[String, Double] =
    traces.flatMap(_.spanSelfMs.keys).distinct.sorted.map { k =>
      k -> traces.map(_.spanSelfMs.getOrElse(k, 0.0)).sum / traces.size
    }.toMap
}
