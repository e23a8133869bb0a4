package perfbench

/** Per-layer metric names and the layer metrics common to every
  * workload, derived from the trace of the measured ops. Per-op values
  * are means over the measured ops; fractions and totals say so. */
object Layers {
  /** BuildCorpus ledger stages, in ledger order. */
  val BuildStages = Seq("intake", "normalize", "embedding_route", "semantic_decon",
    "gate_keep", "decontaminate", "media_gate", "image_families", "mix_pack",
    "shards", "dup_index")

  val all: Seq[String] = Seq(
    "operators.construct_ms", "operators.construct_jobs",
    "catalyst.analysis_ms", "catalyst.optimizer_ms", "catalyst.planning_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.empty_task_frac", "scheduler.failed_tasks", "scheduler.residual_ms",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms", "executor.deser_ms",
    "executor.busy_frac",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_ms", "shuffle.spill_mb",
    "memo.cold_ms", "memo.warm_ms", "memo.cached_blocks", "memo.cached_mb",
    "sources.index_build_ms", "sources.index_mb", "sources.admit_ms", "sources.delta_mb",
    "streaming.add_batch_ms", "streaming.get_batch_ms", "streaming.latest_offset_ms",
    "streaming.planning_ms", "streaming.wal_commit_ms", "streaming.state_rows",
    "streaming.state_mb", "streaming.state_commit_ms", "streaming.speedup_vs_1thread") ++
    BuildStages.flatMap(st => Seq(s"build.${st}_s", s"build.${st}_rows_out"))

  def common(t: Trace, cold: Seq[Op], measured: Seq[Op],
      threads: Int, wallS: Double): Map[String, Double] = {
    val n = math.max(1, measured.size).toDouble
    val cs = measured.map(o => o -> t.countersOf(o.key))
    def per(f: OpCounters => Double) = cs.map(x => f(x._2)).sum / n
    val ph = measured.map(o => t.phasesIn(o.t0, o.t1))
    val tasks = cs.map(_._2.tasks).sum.toDouble
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map(
      "operators.construct_ms" -> mean(measured.map(_.constructMs)),
      "operators.construct_jobs" -> cs.map { case (o, c) =>
        c.jobStarts.count(_ < o.t0 + o.constructMs).toDouble }.sum / n,
      "catalyst.analysis_ms" -> ph.map(_._1).sum / n,
      "catalyst.optimizer_ms" -> ph.map(_._2).sum / n,
      "catalyst.planning_ms" -> ph.map(_._3).sum / n,
      "scheduler.jobs" -> per(_.jobs.toDouble),
      "scheduler.stages" -> per(_.stages.toDouble),
      "scheduler.tasks" -> per(_.tasks.toDouble),
      "scheduler.empty_task_frac" ->
        (if (tasks == 0) 0.0 else cs.map(_._2.emptyTasks).sum / tasks),
      "scheduler.failed_tasks" -> cs.map(_._2.failedTasks).sum.toDouble,
      "scheduler.residual_ms" -> cs.map { case (o, c) =>
        o.ms - t.busyMs(c, o.t0, o.t1) }.sum / n,
      "executor.run_ms" -> per(_.runMs),
      "executor.cpu_ms" -> per(_.cpuMs),
      "executor.gc_ms" -> per(_.gcMs),
      "executor.deser_ms" -> per(_.deserMs),
      "executor.busy_frac" -> cs.map(_._2.runMs).sum / (wallS * 1000.0 * threads),
      "shuffle.write_mb" -> per(_.shuffleWriteB / 1e6),
      "shuffle.read_mb" -> per(_.shuffleReadB / 1e6),
      "shuffle.fetch_wait_ms" -> per(_.fetchWaitMs),
      "shuffle.spill_mb" -> per(_.spillB / 1e6),
      "memo.cold_ms" -> mean(cold.map(_.ms)),
      "memo.warm_ms" -> mean(measured.map(_.ms)))
  }
}
