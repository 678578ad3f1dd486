package perfbench

/** Per-layer metrics from a traced run: the spans the benchmark opened around
  * its calls into each layer, with the Spark jobs, tasks and Catalyst actions
  * that fell inside them. Only timed operations that succeeded count; a
  * metric "per op" or "per epoch" is divided by their number.
  */
object Layers {

  val Units: Seq[(String, String)] = Seq(
    "core.stabilize_s_per_epoch" -> "s",
    "core.stabilize_jobs_per_epoch" -> "count",
    "core.insert_ms_per_epoch" -> "ms",
    "core.read_build_ms_per_epoch" -> "ms",
    "core.read_jobs_per_epoch" -> "count",
    "core.late_over_early" -> "ratio",
    "queries.build_s" -> "s",
    "queries.build_jobs" -> "count",
    "queries.consume_s" -> "s",
    "catalyst.actions_per_op" -> "count",
    "catalyst.planning_ms_per_op" -> "ms",
    "scheduler.jobs_per_op" -> "count",
    "scheduler.stages_per_op" -> "count",
    "scheduler.tasks_per_op" -> "count",
    "scheduler.no_job_frac" -> "ratio",
    "executor.run_s_per_op" -> "s",
    "executor.cpu_s_per_op" -> "s",
    "executor.gc_s_per_op" -> "s",
    "executor.util" -> "ratio",
    "shuffle.write_mb_per_op" -> "MB",
    "shuffle.read_mb_per_op" -> "MB",
    "shuffle.spill_mb_per_op" -> "MB",
    "storage.mb_end" -> "MB",
    "storage.rdd_blocks_peak" -> "count",
    "storage.mb_after_release" -> "MB")

  def unit(name: String): String = Units.find(_._1 == name).map(_._2).getOrElse("count")

  /** Wall time covered by the union of `intervals`, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }

  /** Each span name's self time in seconds: its duration minus the part its
    * child spans cover, summed over the run.
    */
  def selfTime(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        (s.end - s.start - covered(kids, s.start, s.end)) / 1e9
      }.sum
    }
  }

  def metrics(ctx: Ctx, out: Outcome): Map[String, Double] = {
    val tr = ctx.tracer
    val timed = out.ops.filter(_.ok)
    val opIds = timed.map(_.op).toSet
    val n = math.max(timed.size, 1).toDouble
    val spans = tr.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val inOps = spans.filter(s => opIds(s.op))
    def dur(name: String): Double =
      inOps.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
    val jobs = tr.allJobs.filter(j => byId.get(j.span).exists(s => opIds(s.op)))
    def jobsIn(names: String*): Double =
      jobs.count(j => names.contains(byId(j.span).name)).toDouble
    val tasks = new TaskSums
    tr.taskSumsBySpan.foreach { case (id, t) =>
      if (byId.get(id).exists(s => opIds(s.op))) tasks.add(t)
    }
    val wall = timed.map(o => (o.end - o.start).toDouble).sum
    val noJob = timed.map { o =>
      (o.end - o.start) - covered(jobs.map(j => (j.start, j.end)), o.start, o.end)
    }.sum
    val actions = tr.allActions.filter(a => timed.exists(o => a.at >= o.start && a.at <= o.end))
    val secs = timed.map(_.seconds)
    val q = secs.size / 4
    val lateOverEarly =
      if (q == 0 || spans.forall(_.name != "epoch")) 0.0
      else Stats.median(secs.takeRight(q)) / Stats.median(secs.take(q))
    val queryConsume = inOps.filter(s => s.name == "consume" && byId.get(s.parent).exists(_.name == "query"))
      .map(s => (s.end - s.start) / 1e9).sum
    val mb = 1e6
    Map(
      "core.stabilize_s_per_epoch" -> dur("core.stabilizeAll") / n,
      "core.stabilize_jobs_per_epoch" -> jobsIn("core.stabilizeAll") / n,
      "core.insert_ms_per_epoch" -> 1000 * dur("core.insert") / n,
      "core.read_build_ms_per_epoch" -> 1000 * (dur("core.evaluate") + dur("core.sql")) / n,
      "core.read_jobs_per_epoch" -> jobsIn("core.evaluate", "core.sql") / n,
      "core.late_over_early" -> lateOverEarly,
      "queries.build_s" -> dur("queries.build") / n,
      "queries.build_jobs" -> jobsIn("queries.build") / n,
      "queries.consume_s" -> queryConsume / n,
      "catalyst.actions_per_op" -> actions.size / n,
      "catalyst.planning_ms_per_op" -> actions.map(_.planningMs).sum / n,
      "scheduler.jobs_per_op" -> jobs.size / n,
      "scheduler.stages_per_op" -> jobs.map(_.stages).sum / n,
      "scheduler.tasks_per_op" -> tasks.tasks / n,
      "scheduler.no_job_frac" -> (if (wall > 0) noJob / wall else 0.0),
      "executor.run_s_per_op" -> tasks.runMs / 1e3 / n,
      "executor.cpu_s_per_op" -> tasks.cpuNs / 1e9 / n,
      "executor.gc_s_per_op" -> tasks.gcMs / 1e3 / n,
      "executor.util" -> (if (wall > 0) tasks.runMs * 1e6 / (wall * ctx.cores) else 0.0),
      "shuffle.write_mb_per_op" -> tasks.shuffleWrite / mb / n,
      "shuffle.read_mb_per_op" -> tasks.shuffleRead / mb / n,
      "shuffle.spill_mb_per_op" -> tasks.spill / mb / n,
      "storage.mb_end" -> timed.lastOption.map(_.storageMb).getOrElse(0.0),
      "storage.rdd_blocks_peak" -> ctx.rddBlocksPeak) ++ out.perLayer
  }
}
