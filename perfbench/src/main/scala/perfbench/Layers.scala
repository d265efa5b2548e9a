package perfbench

/** Per-layer metrics shared by every workload's traced run. Everything
  * but the failure counts is per operation (one query or one drain), so
  * runs that fit a different number of operations into `--seconds`
  * compare.
  */
object Layers {
  /** Layers with spans of their own. The pipeline's translate runs
    * inside exec's tasks, so its cost is measured by a separate probe.
    */
  val spanned: Seq[String] = Seq("tables", "queries", "plan", "exec", "driver", "stream", "sink")

  def common(r: Result, l: Main.Listeners, spans: IndexedSeq[Span], ops: Double, a: Main.Args): Unit = {
    Trace.write(spans, s"${a.work}/spans.jsonl")
    val phases = spans.filter(_.kind == "phase").groupMapReduce(_.name)(_.durUs / 1000.0)(_ + _)
    for (p <- Seq("analysis", "optimization", "planning"))
      r.metric(s"plan.${p}_ms", phases.getOrElse(p, 0.0) / ops, "ms")
    r.metric("plan.exchanges", l.plan.exchanges.get / ops, "count")
    val s = l.sched
    // the listener barrier ran one job with one stage and one task
    r.metric("exec.jobs", (s.jobs.get - 1) / ops, "count")
    r.metric("exec.stages", (s.stages.get - 1) / ops, "count")
    r.metric("exec.tasks", (s.tasks.get - 1) / ops, "count")
    r.metric("exec.scheduler_delay_ms", s.schedulerDelayMs.get / ops, "ms")
    r.metric("exec.task_busy_ms", s.taskBusyMs.get / ops, "ms")
    r.metric("exec.task_cpu_ms", s.taskCpuNs.get / 1e6 / ops, "ms")
    val jobWallMs = Trace.coveredUs(
      spans.filter(_.kind == "job").map(j => (j.startUs, j.endUs)), Long.MinValue, Long.MaxValue) / 1000.0
    r.metric("exec.core_util", if (jobWallMs > 0) s.taskBusyMs.get / (jobWallMs * a.cores) else 0.0, "ratio")
    r.metric("exec.shuffle_write_bytes", s.shuffleWriteBytes.get / ops, "bytes")
    r.metric("exec.shuffle_read_bytes", s.shuffleReadBytes.get / ops, "bytes")
    r.metric("exec.spill_bytes", s.spillBytes.get / ops, "bytes")
    r.metric("exec.gc_ms", s.gcMs.get / ops, "ms")
    r.metric("exec.failed_tasks", s.failedTasks.get.toDouble, "count")
    val self = Trace.selfByLayerMs(spans)
    r.metric("driver.residual_ms", self.getOrElse("driver", 0.0) / ops, "ms")
    // each layer's self time as a share of the measured wall; a layer the
    // workload bypasses reads 0
    val wallMs = spans.filter(_.kind == "run").map(_.durUs / 1000.0).sum
    for (layer <- spanned)
      r.metric(s"self.${layer}_pct", 100.0 * self.getOrElse(layer, 0.0) / wallMs, "%")
    r.note("self time per operation: " + spanned.map(n => f"$n ${self.getOrElse(n, 0.0) / ops}%.1f ms")
      .mkString(", ") + f" (wall ${wallMs / ops}%.1f ms, ${ops}%.0f operations)")
  }

  /** Tracing overhead: how much slower the traced measurement was than
    * the untraced one, on the workload's median latency.
    */
  def overhead(r: Result, plainMs: Double, tracedMs: Double): Unit = {
    r.metric("trace.overhead_pct", 100.0 * (tracedMs / plainMs - 1.0), "%")
    r.note(f"tracing overhead: latency p50 $plainMs%.2f ms untraced, $tracedMs%.2f ms traced")
  }

  /** Counts of layers the workload does not run: each did no work. */
  def bypassed(r: Result, metrics: (String, String)*): Unit =
    metrics.foreach { case (m, unit) => r.metric(m, 0.0, unit) }
}
