package perfbench

import Main.OpRecord

/** Per-layer metrics of a traced run: each counter as a per-op mean
  * (`<name>`) and a run total (`<name>.total`), plus per-module splits of
  * the construct and execute phases. */
object Layers {
  def apply(ops: Seq[OpRecord], cpus: Int,
      moduleNames: Seq[String]): Seq[(String, Double, String)] = {
    def selfConstruct(r: OpRecord) = r.constructMs - r.analyzeMs
    def harness(r: OpRecord) =
      r.wallMs - r.constructMs - r.optimizeMs - r.planMs - r.executeMs
    val perOp: Seq[(String, String, OpRecord => Double)] = Seq(
      ("construct_ms", "ms", _.constructMs),
      ("construct_self_ms", "ms", selfConstruct),
      ("construct_jobs", "count", _.counters.constructJobs.toDouble),
      ("analyze_ms", "ms", _.analyzeMs),
      ("optimize_ms", "ms", _.optimizeMs),
      ("plan_ms", "ms", _.planMs),
      ("execute_ms", "ms", _.executeMs),
      ("harness_ms", "ms", harness),
      ("jobs", "count", _.counters.jobs.toDouble),
      ("stages", "count", _.counters.stages.toDouble),
      ("tasks", "count", _.counters.tasks.toDouble),
      ("sched_wait_ms", "ms", _.counters.schedWaitMs.toDouble),
      ("driver_cpu_ms", "ms", _.driverCpuMs),
      ("task_run_ms", "ms", _.counters.taskRunMs.toDouble),
      ("task_cpu_ms", "ms", _.counters.taskCpuNs / 1e6),
      ("task_gc_ms", "ms", _.counters.taskGcMs.toDouble),
      ("scan_bytes", "bytes", _.counters.scanBytes.toDouble),
      ("scan_rows", "count", _.counters.scanRows.toDouble),
      ("result_rows", "count", _.resultRows.toDouble),
      ("shuffle_write_bytes", "bytes", _.counters.shuffleWriteBytes.toDouble),
      ("shuffle_read_bytes", "bytes", _.counters.shuffleReadBytes.toDouble),
      ("shuffle_fetch_wait_ms", "ms", _.counters.shuffleFetchWaitMs.toDouble),
      ("spill_bytes", "bytes", _.counters.spillBytes.toDouble),
      ("artifact_builds", "count", _.artifactBuilds.toDouble),
      ("artifact_bytes", "bytes", _.artifactBytes.toDouble),
      ("output_bytes", "bytes", _.counters.outputBytes.toDouble),
      ("jvm_gc_ms", "ms", _.jvmGcMs))
    def meanTotal(name: String, unit: String, rs: Seq[OpRecord],
        f: OpRecord => Double): Seq[(String, Double, String)] = {
      val total = rs.map(f).sum
      Seq((name, if (rs.isEmpty) 0.0 else total / rs.size, unit),
        (s"$name.total", total, unit))
    }
    val wallMs = ops.map(_.wallMs).sum
    val builds = ops.map(_.artifactBuilds)
    val passBuilds = ops.groupBy(_.pass).values.map(_.map(_.artifactBuilds).sum)
    perOp.flatMap { case (n, u, f) => meanTotal(n, u, ops, f) } ++ Seq(
      ("executor_busy_ratio",
        if (wallMs == 0) 0.0 else ops.map(_.counters.taskRunMs).sum / (wallMs * cpus),
        "ratio"),
      ("artifact_build_op_ratio",
        if (ops.isEmpty) 0.0 else builds.count(_ > 0).toDouble / ops.size, "ratio"),
      ("artifact_builds.max_op", if (builds.isEmpty) 0.0 else builds.max.toDouble, "count"),
      ("artifact_builds.min_pass",
        if (passBuilds.isEmpty) 0.0 else passBuilds.min.toDouble, "count")) ++
      moduleNames.flatMap { m =>
        val rs = ops.filter(_.op.module == m)
        meanTotal(s"construct_ms.$m", "ms", rs, _.constructMs) ++
          meanTotal(s"execute_ms.$m", "ms", rs, _.executeMs)
      }
  }
}
