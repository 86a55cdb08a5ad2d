package perfbench

/** The traced run's output. Every workload reports the same per-layer
  * metrics, each measured on its own unit of work (a micro-batch of the
  * workload's main streaming query, or one curate run); a count for a
  * layer the workload never enters reads 0. The workload's own rows of
  * the per-layer table go to stdout beside them, with self time per layer. */
object Layers {
  def fromRuns(unitMs: Seq[Double], outsideJobsMs: Seq[Double], planMs: Seq[Double],
      sinkWriteMs: Seq[Double], actionMs: Seq[Double], closed: Seq[UnitStats], closedRecords: Double,
      closedWallMs: Double, closedGcMs: Long, slots: Int,
      backlogEnd: Double, sourceLagMs: Double, parseUs: Double, gunzipUs: Double,
      table: Seq[(String, Double)], spans: Seq[Span]): (Seq[Metric], Seq[String]) = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val stages = closed.map(_.stages).sum
    val metrics = Seq(
      Metric("engine.unit_ms", med(unitMs), "ms"),
      Metric("engine.outside_jobs_ms", med(outsideJobsMs), "ms"),
      Metric("engine.plan_ms", med(planMs), "ms"),
      Metric("sink.write_ms", med(sinkWriteMs), "ms"),
      Metric("queries.action_ms", med(actionMs), "ms"),
      Metric("engine.jobs_per_unit", med(closed.map(_.jobs.toDouble)), "count"),
      Metric("engine.tasks_per_unit", med(closed.map(_.tasks.toDouble)), "count"),
      Metric("engine.tasks_per_stage",
        if (stages == 0) 0.0 else closed.map(_.tasks).sum.toDouble / stages, "count"),
      Metric("engine.task_cpu_us_per_rec", closed.map(_.cpuNs).sum / 1000.0 / closedRecords, "us"),
      Metric("engine.gc_ms_per_unit", closedGcMs.toDouble / math.max(1, closed.size), "ms"),
      Metric("engine.shuffle_kb_per_unit", med(closed.map(_.shuffleBytes / 1024.0)), "KB"),
      Metric("engine.idle_core_frac",
        1.0 - closed.map(_.runMs).sum / (slots * closedWallMs), "ratio"),
      Metric("sink.jobs_per_unit", med(closed.map(_.sinkJobs.toDouble)), "count"),
      Metric("sink.files_per_unit", med(closed.map(_.filesWritten.toDouble)), "count"),
      Metric("queries.files_read_per_unit", med(closed.map(_.filesRead.toDouble)), "count"),
      Metric("functions.parse_us_per_rec", parseUs, "us"),
      Metric("expressions.gunzip_us_per_rec", gunzipUs, "us"),
      Metric("streaming.backlog_end", backlogEnd, "count"),
      Metric("streaming.source_lag_ms", sourceLagMs, "ms"))
    val self = Tracer.selfTimeByLayer(spans)
    val lines =
      "per-layer table (this workload's rows):" +:
        (table.map { case (n, v) => f"  $n%-36s $v%14.4f" } ++
          Seq("self time by layer over the run (ms):") ++
          self.toSeq.sortBy(-_._2).map { case (l, v) => f"  $l%-36s $v%14.1f" } ++
          Seq(s"spans recorded: ${spans.size}"))
    (metrics, lines)
  }
}
