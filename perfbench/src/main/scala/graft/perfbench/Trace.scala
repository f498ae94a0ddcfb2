package graft.perfbench

import scala.collection.mutable

import Main.{OpRec, PassRec}

/** Turns one traced run into spans, per-layer metrics and a self-time
  * table. All figures are per traced pass (totals over the traced passes
  * divided by their number). */
object Trace {
  /** Nesting depth of each layer: where spans overlap, the instant is
    * charged to the deepest one, so the table's rows add up to the wall. */
  private val depth = Map("op" -> 1, "operators.build" -> 2, "spark.action" -> 2,
    "pipeline.task" -> 3, "catalyst.plan" -> 4, "spark.job" -> 5, "spark.stage" -> 6)
  val Uncovered = "driver (no span)"

  /** Length of the union of `ivs` clipped to [lo, hi). */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var end = lo
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }

  /** Exclusive time per layer inside [lo, hi). */
  def selfTime(spans: Seq[Span], lo: Long, hi: Long): Map[String, Long] = {
    val events = spans.flatMap { s =>
      val (a, b) = (math.max(s.startUs, lo), math.min(s.endUs, hi))
      if (b > a) Seq((a, 1, s.name), (b, -1, s.name)) else Nil
    }.sortBy(e => (e._1, e._2))
    val open = mutable.Map.empty[String, Int].withDefaultValue(0)
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var t = lo
    def charge(until: Long): Unit = if (until > t) {
      val top = open.filter(_._2 > 0).keys.toSeq.sortBy(n => -depth(n)).headOption
      out(top.getOrElse(Uncovered)) += until - t
      t = until
    }
    events.foreach { case (at, d, name) => charge(at); open(name) += d }
    charge(hi)
    out.toMap
  }

  def build(r: Recorder, ops: Seq[OpRec], passes: Seq[PassRec],
            taskSpans: Seq[(Int, String, Long, Long)], workload: String,
            seed: Long, artifactBuilds: Long, pinnedRdds: Int,
            pinnedMb: Double, sessionStartS: Double): Map[String, Any] = {
    val traced = passes.filter(_.traced)
    val k = traced.size.toDouble
    val tOps = ops.filter(_.traced)
    val opById = tOps.map(o => o.id -> o).toMap
    val jobs = r.jobs.values.filter(j => opById.contains(j.op)).toSeq
    val jobIds = jobs.map(_.id).toSet
    val stages = r.stages.values.filter(s => jobIds(s.job) && s.tasks > 0).toSeq

    // -- spans -------------------------------------------------------------
    val spans = mutable.ArrayBuffer.empty[Span]
    def add(parent: Long, name: String, label: String, s: Long, e: Long): Long = {
      val id = spans.size + 1L
      spans += Span(id, parent, name, label, s, math.max(s, e))
      id
    }
    val buildSpan = mutable.Map.empty[Int, Long]
    val actionSpan = mutable.Map.empty[Int, Long]
    tOps.foreach { o =>
      val root = add(0, "op", o.query, o.startUs, o.endUs)
      buildSpan(o.id) = add(root, "operators.build", o.query, o.startUs, o.builtUs)
      actionSpan(o.id) = add(root, "spark.action", o.query, o.builtUs, o.endUs)
    }
    def parentAt(o: OpRec, us: Long): Long =
      if (us < o.builtUs) buildSpan(o.id) else actionSpan(o.id)
    val jobSpan = jobs.map { j =>
      val o = opById(j.op)
      val end = if (j.endMs < 0) o.endUs else j.endMs * 1000
      j.id -> add(parentAt(o, j.startMs * 1000), "spark.job", j.id.toString,
        j.startMs * 1000, end)
    }.toMap
    stages.filter(s => s.submitMs >= 0 && s.doneMs >= 0).foreach { s =>
      add(jobSpan(s.job), "spark.stage", s"${s.id} (${s.numTasks} tasks)",
        s.submitMs * 1000, s.doneMs * 1000)
    }
    def opAt(us: Long): Option[OpRec] =
      tOps.find(o => o.startUs <= us && us <= o.endUs)
    val execsInOps = r.execs.filter(e => jobs.exists(_.sqlExec == e.id) ||
      e.phases.exists(p => opAt(p._2 * 1000).isDefined)).toSeq
    for (e <- execsInOps; (phase, s, end) <- e.phases; o <- opAt(s * 1000))
      add(parentAt(o, s * 1000), "catalyst.plan", phase, s * 1000, end * 1000)
    taskSpans.filter(t => opById.contains(t._1)).foreach { case (op, name, s, e) =>
      add(buildSpan(op), "pipeline.task", name, s, e)
    }

    // -- per-layer metrics -------------------------------------------------
    val wallS = traced.map(_.wallS).sum
    val opLatS = tOps.map(_.latS).sum
    val buildS = tOps.map(_.buildS).sum
    val buildJobs = jobs.count(j => j.startMs * 1000 < opById(j.op).builtUs)
    val taskS = stages.map(_.runMs).sum / 1e3
    val kernelExecs = execsInOps.filter(_.kernel).map(_.id).toSet
    val kernelCpuS = stages.filter(s =>
      kernelExecs(r.jobs(s.job).sqlExec)).map(_.cpuNs).sum / 1e9
    val planS = spans.filter(_.name == "catalyst.plan").map(_.durUs).sum / 1e6
    val dagTasks = spans.filter(_.name == "pipeline.task")
    val jobIvs = spans.filter(_.name == "spark.job").map(s => (s.startUs, s.endUs)).toSeq
    val taskSpanS = dagTasks.map(_.durUs).sum / 1e6
    val publishS = dagTasks.map(t =>
      t.durUs - covered(jobIvs, t.startUs, t.endUs)).sum / 1e6
    val rerunS = tOps.filter(_.query == "etl_rerun").map(_.latS).sum
    val outBytes = stages.map(_.outBytes).sum
    val inBytes = traced.map(_.inputBytes).sum
    val mb = 1048576.0
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Main.median(xs)
    val overheadS = med(traced.map(_.wallS)) - med(passes.filterNot(_.traced).map(_.wallS))

    val metrics = mutable.LinkedHashMap[String, (Double, String)](
      "session.start_s" -> (sessionStartS, "s"),
      "tables.input_mb" -> (stages.map(_.inBytes).sum / mb / k, "MB"),
      "tables.scan_tasks" -> (stages.map(_.scanTasks).sum / k, "count"),
      "operators.build_s" -> (buildS / k, "s"),
      "operators.build_jobs" -> (buildJobs / k, "count"),
      "operators.build_share" -> (buildS / opLatS, "ratio"),
      "operators.artifact_builds" -> (artifactBuilds.toDouble / passes.size, "count"),
      "catalyst.plan_s" -> (planS / k, "s"),
      "spark.jobs" -> (jobs.size / k, "count"),
      "spark.stages" -> (stages.size / k, "count"),
      "spark.tasks" -> (stages.map(_.tasks).sum / k, "count"),
      "spark.task_s" -> (taskS / k, "s"),
      "spark.task_cpu_s" -> (stages.map(_.cpuNs).sum / 1e9 / k, "s"),
      "spark.gc_s" -> (stages.map(_.gcMs).sum / 1e3 / k, "s"),
      "spark.parallelism" -> (taskS / wallS, "ratio"),
      "spark.serial_stage_s" -> (stages.filter(_.tasks == 1)
        .map(s => (s.doneMs - s.submitMs) / 1e3).sum / k, "s"),
      "spark.shuffle_write_mb" -> (stages.map(_.shuffleW).sum / mb / k, "MB"),
      "spark.shuffle_read_mb" -> (stages.map(_.shuffleR).sum / mb / k, "MB"),
      "spark.spill_mb" -> (stages.map(_.spill).sum / mb / k, "MB"),
      "spark.peak_exec_mem_mb" -> ((0L +: stages.map(_.peakMem)).max / mb, "MB"),
      "functions.kernel_cpu_s" -> (kernelCpuS / k, "s"),
      "functions.kernel_execs" -> (kernelExecs.size / k, "count"),
      "checkpoint.pinned_mb" -> (pinnedMb, "MB"),
      "checkpoint.pinned_rdds" -> (pinnedRdds.toDouble, "count"),
      "sources.output_mb" -> (outBytes / mb / k, "MB"),
      "sources.files_written" -> (jobs.map(_.sqlExec).distinct
        .map(r.filesWritten.getOrElse(_, 0L)).sum / k, "count"),
      "pipeline.task_s" -> (taskSpanS / k, "s"),
      "pipeline.publish_s" -> (publishS / k, "s"),
      "pipeline.rerun_s" -> (rerunS / k, "s"),
      "write_amp" -> (if (inBytes > 0) outBytes.toDouble / inBytes else 0.0, "ratio"),
      "trace.overhead_s" -> (overheadS, "s"))

    val self = traced.map(p => selfTime(spans.toSeq, p.startUs, p.endUs))
    val layers = (depth.toSeq.sortBy(_._2).map(_._1) :+ Uncovered)
    val selfRows = layers.map { l =>
      val s = self.map(_.getOrElse(l, 0L)).sum / 1e6 / k
      Map("layer" -> l, "self_s" -> s, "share" -> s / (wallS / k))
    }

    Map("workload" -> workload, "seed" -> seed,
      "traced_passes" -> traced.size, "untraced_passes" -> (passes.size - traced.size),
      "wall_s_per_traced_pass" -> wallS / k,
      "metrics" -> metrics.map { case (n, (v, u)) =>
        n -> Map("value" -> v, "unit" -> u) },
      "self_time" -> selfRows,
      "counts" -> Map("jobs" -> jobs.size, "stages" -> stages.size,
        "sql_executions" -> execsInOps.size, "spans" -> spans.size),
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "label" -> s.label, "start_us" -> s.startUs,
        "end_us" -> s.endUs)))
  }
}
