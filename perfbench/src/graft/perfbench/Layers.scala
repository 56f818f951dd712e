package graft.perfbench

/** Per-layer metrics of a traced run, derived from the span tree.
  * Per-operation figures are means over the traced operations; ratios
  * are ratios of sums. A layer the workload does not enter reads 0.
  */
object Layers {
  def fill(h: Harness, primary: String): Unit = {
    val spans = h.tracer.all
    val kids = spans.groupBy(_.parent).withDefaultValue(Nil)
    val ops = spans.filter(s => s.kind == "op" && s.endUs > 0)
    def jobs(s: Span): Seq[Span] =
      if (s.kind == "job") Seq(s) else kids(s.id).flatMap(jobs)
    def stages(s: Span): Seq[Span] = jobs(s).flatMap(j => kids(j.id)).filter(_.kind == "stage")
    def sumA(ss: Seq[Span], k: String): Double = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    def jobUnion(s: Span): Double = Spans.union(jobs(s).map(j =>
      (math.max(j.startUs, s.startUs), math.min(if (j.endUs > 0) j.endUs else s.endUs, s.endUs))))
    def perOp(ss: Seq[Span])(f: Span => Double): Double = Stats.mean(ss.map(f))
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    def phases(o: Span, name: String) = kids(o.id).filter(p => p.kind == "phase" && p.name == name)
    val L = h.layer

    // queries + Ckpt/Par: construction
    val q = ops.filter(_.name.startsWith("query:"))
    val cons = q.flatMap(phases(_, "construct"))
    L("queries.construct_s") = perOp(cons)(_.dur)
    L("queries.construct_driver_s") = perOp(cons)(c => Spans.self(c, jobs(c)))
    L("queries.construct_jobs") = perOp(cons)(c => jobs(c).size)
    L("queries.construct_tasks") = perOp(cons)(c => sumA(jobs(c), "tasks"))
    L("queries.construct_overlap") = ratio(cons.map(c => jobs(c).map(j =>
      math.max(0L, math.min(if (j.endUs > 0) j.endUs else c.endUs, c.endUs) - math.max(j.startUs, c.startUs)) / 1e6).sum).sum,
      cons.map(_.dur).sum)

    // Catalyst: tracker phases of executed commands, per operation
    for (k <- Seq("analysis", "optimization", "planning"))
      L(s"catalyst.${k}_s") = perOp(ops)(o => sumA(kids(o.id), s"catalyst_${k}_s"))

    // execution: jobs, stages, tasks
    val allJobs = ops.flatMap(jobs)
    val tasks = sumA(allJobs, "tasks")
    L("exec.s") = perOp(ops)(jobUnion)
    L("exec.jobs") = perOp(ops)(o => jobs(o).size)
    L("exec.stages") = perOp(ops)(o => stages(o).size)
    L("exec.tasks") = perOp(ops)(o => sumA(jobs(o), "tasks"))
    L("exec.tasks_per_job") = ratio(tasks, allJobs.size)
    L("exec.task_wait_s") = ratio(sumA(allJobs, "task_wait_s"), tasks)
    L("exec.empty_task_frac") = ratio(sumA(allJobs, "tasks_empty"), tasks)
    L("exec.executor_run_s") = perOp(ops)(o => sumA(jobs(o), "run_s"))
    L("exec.executor_cpu_s") = perOp(ops)(o => sumA(jobs(o), "cpu_s"))
    L("exec.gc_s") = perOp(ops)(o => sumA(jobs(o), "gc_s"))
    L("exec.core_util") = ratio(sumA(allJobs, "run_s"), ops.map(_.dur).sum * h.cores)
    L("exec.input_mb") = perOp(ops)(o => sumA(jobs(o), "input_bytes") / 1e6)
    L("exec.shuffle_read_mb") = perOp(ops)(o => sumA(jobs(o), "shuffle_read_bytes") / 1e6)
    L("exec.shuffle_write_mb") = perOp(ops)(o => sumA(jobs(o), "shuffle_write_bytes") / 1e6)
    L("exec.spill_mb") = perOp(ops)(o => sumA(jobs(o), "spill_bytes") / 1e6)
    L("exec.tasks_failed") = sumA(allJobs, "tasks_failed")
    L("exec.tasks_retried") = sumA(allJobs, "tasks_retried")
    L("exec.stages_retried") = sumA(allJobs, "stages_retried")

    // graft.core: the MR dataflow; the map stage is the one that writes shuffle
    val mr = ops.filter(_.name.startsWith("mr:"))
    val (mapSt, redSt) = mr.flatMap(stages).partition(_.attrs.getOrElse("shuffle_write_records", 0.0) > 0)
    L("core.map_stage_s") = ratio(mapSt.map(_.dur).sum, mr.size)
    L("core.reduce_stage_s") = ratio(redSt.map(_.dur).sum, mr.size)
    L("core.pairs") = perOp(mr)(o => sumA(jobs(o), "shuffle_write_records"))
    L("core.shuffle_write_mb") = perOp(mr)(o => sumA(jobs(o), "shuffle_write_bytes") / 1e6)
    L("core.executor_cpu_s") = perOp(mr)(o => sumA(jobs(o), "cpu_s"))
    L("core.gc_s") = perOp(mr)(o => sumA(jobs(o), "gc_s"))
    L("core.core_util") = ratio(mr.flatMap(jobs).map(_.attrs.getOrElse("run_s", 0.0)).sum,
      mr.map(_.dur).sum * h.cores)
    L("core.reduce_skew") = Stats.mean(redSt.filter(_.attrs.getOrElse("task_median_s", 0.0) > 0)
      .map(s => s.attrs("task_max_s") / s.attrs("task_median_s")))

    // graft.queries.Retrieval: the serving path
    val srch = ops.filter(_.name.startsWith("search:"))
    L("retrieval.search_jobs") = perOp(srch)(o => jobs(o).size)
    L("retrieval.search_tasks") = perOp(srch)(o => sumA(jobs(o), "tasks"))
    L("retrieval.search_driver_s") = perOp(srch)(o => Spans.self(o, jobs(o)))
    L("retrieval.search_plan_s") = perOp(srch)(o =>
      Seq("analysis", "optimization", "planning").map(k => sumA(kids(o.id), s"catalyst_${k}_s")).sum)
    L("retrieval.search_input_mb") = perOp(srch)(o => sumA(jobs(o), "input_bytes") / 1e6)
    L("retrieval.rows_read_per_result") = ratio(srch.map(o => sumA(jobs(o), "input_records")).sum,
      srch.map(_.attrs.getOrElse("result_rows", 0.0)).sum)

    // the trace itself: overhead against the untraced rounds of this run,
    // and how much of each operation its phase spans account for
    val prim = h.ops.filter(o => o.kind == primary && o.ok)
    val (tr, un) = prim.partition(_.traced)
    val paired = tr.map(_.name).toSet.intersect(un.map(_.name).toSet)
    val overhead =
      if (paired.nonEmpty) Stats.median(paired.toSeq.map(n =>
        Stats.median(tr.filter(_.name == n).map(_.wall).toSeq) /
          Stats.median(un.filter(_.name == n).map(_.wall).toSeq)))
      else ratio(Stats.median(tr.map(_.wall).toSeq), Stats.median(un.map(_.wall).toSeq))
    L("trace.overhead_frac") = overhead - 1.0
    val cover = ops.map(o => ratio(Spans.union(kids(o.id).filter(_.kind == "phase")
      .map(p => (p.startUs, p.endUs))), o.dur))
    L("trace.phase_coverage_min") = if (cover.isEmpty) 0.0 else cover.min
    // jobs that started inside a traced operation but escaped its job group
    L("trace.unattributed_jobs") = h.tracer.unattributedJobs.count(t =>
      ops.exists(o => o.startUs <= t && t <= o.endUs))
    L("trace.spans") = spans.size
    cover.zip(ops).filter(_._1 < 0.95).foreach { case (c, o) =>
      h.fail(f"trace: phases cover $c%.3f of ${o.name}")
    }
  }
}
