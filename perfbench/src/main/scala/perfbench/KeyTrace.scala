package perfbench

import perfbench.Tracer.{JobRec, PlanRec}

/** Turns one traced key into its record: a `key` span, its four phase
  * spans and the jobs under each phase, all sharing the key's id, plus
  * the key's per-layer counts. */
object KeyTrace {
  private val MB = 1024.0 * 1024.0

  /** Milliseconds of [start, end) covered by the union of `parts`. */
  def covered(start: Long, end: Long, parts: Seq[(Long, Long)]): Long = {
    val clipped = parts.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var reach = Long.MinValue
    clipped.foreach { case (a, b) =>
      total += math.max(0L, b - math.max(a, reach))
      reach = math.max(reach, b)
    }
    total
  }

  def record(keyId: String, t: Timed, jobsAll: Seq[JobRec], plans: Seq[PlanRec],
      cachedPeakBytes: Long, blocksDropped: Int, writeFiles: Int): Obj = {
    val jobs = jobsAll.filter(_.group == t.key)
    val buildJobs = jobs.filter(_.phase == "build")
    def sumL(f: JobRec => Long) = jobs.map(f).sum
    val rowsOut = t.rowsOut.getOrElse(sumL(_.writeRows))
    val scanRows = sumL(_.scanRows)
    val spans = Seq(Obj("name" -> "key", "key_id" -> keyId, "parent" -> None,
        "start_ms" -> t.startMs, "end_ms" -> t.endMs, "dur_s" -> t.wallS,
        "self_s" -> (t.endMs - t.startMs - covered(t.startMs, t.endMs,
          t.phases.map(p => (p.startMs, p.endMs)))) / 1e3)) ++
      t.phases.flatMap { p =>
        val under = jobs.filter(_.phase == p.name)
        Obj("name" -> p.name, "key_id" -> keyId, "parent" -> "key",
          "start_ms" -> p.startMs, "end_ms" -> p.endMs, "dur_s" -> p.seconds,
          "self_s" -> (p.endMs - p.startMs - covered(p.startMs, p.endMs,
            under.map(j => (j.startMs, j.endMs)))) / 1e3) +:
          under.map(j => Obj("name" -> "job", "key_id" -> keyId, "parent" -> p.name,
            "job_id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
            "dur_s" -> (j.endMs - j.startMs) / 1e3, "stages" -> j.stagesRun,
            "tasks" -> j.tasks, "sites" -> j.sites))
      }
    Obj(
      "key_id" -> keyId, "key" -> t.key, "wall_s" -> t.wallS,
      "build_s" -> t.phase("build"), "build_jobs" -> buildJobs.size,
      "build_job_s" -> buildJobs.map(j => j.endMs - j.startMs).sum / 1e3,
      "plan_call_s" -> t.phase("plan"),
      "plan_s" -> plans.map(p => p.analysisS + p.optimizationS + p.physicalS).sum,
      "plan_analysis_s" -> plans.map(_.analysisS).sum,
      "plan_optimization_s" -> plans.map(_.optimizationS).sum,
      "plan_physical_s" -> plans.map(_.physicalS).sum,
      "plan_actions" -> plans.size,
      "plan_exchanges" -> plans.map(_.exchanges).sum,
      "nopart_windows" -> plans.map(_.nopartWindows).sum,
      "exec_s" -> t.phase("exec"),
      "jobs" -> jobs.size,
      "untagged_jobs" -> (jobsAll.size - jobs.size),
      "stages" -> jobs.map(_.stagesRun).sum,
      "stages_skipped" -> jobs.map(j => j.stageIds.size - j.stagesRun).sum,
      "tasks" -> jobs.map(_.tasks).sum,
      "task_run_s" -> sumL(_.runMs) / 1e3,
      "sched_delay_s" -> sumL(_.schedMs) / 1e3,
      "shuffle_write_mb" -> sumL(_.shuffleBytes) / MB,
      "shuffle_records" -> sumL(_.shuffleRecords),
      "stage_skew_max" -> jobs.map(_.skewMax).foldLeft(0.0)(math.max),
      "spill_mb" -> sumL(_.spillBytes) / MB,
      "gc_s" -> sumL(_.gcMs) / 1e3,
      "failed_tasks" -> jobs.map(_.failedTasks).sum,
      "scan_mb" -> sumL(_.scanBytes) / MB,
      "scan_rows" -> scanRows,
      "rows_out" -> rowsOut,
      "write_mb" -> sumL(_.writeBytes) / MB,
      "write_files" -> writeFiles,
      "write_rows" -> sumL(_.writeRows),
      "sweep_s" -> t.phase("sweep"),
      "blocks_dropped" -> blocksDropped,
      "cached_mb_peak" -> cachedPeakBytes / MB,
      "sites" -> jobs.flatMap(_.sites).distinct.sorted,
      "spans" -> spans)
  }
}
