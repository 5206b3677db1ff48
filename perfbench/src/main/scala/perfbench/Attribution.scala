package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import perfbench.Main.Exec

/** Assigns the collector's events to the statement executions that
  * caused them, by time: a job by its start, a stage by its submission,
  * a task by its launch, a query execution by the end of its planning.
  * Statements run one at a time, so the windows never overlap. */
final class Attribution(execs: Seq[Exec], c: Collector) {
  import Attribution.covered

  private val windows = execs.sortBy(_.startMs).toIndexedSeq
  private val starts = windows.map(_.startMs).toArray

  def owner(tMs: Double): Option[Exec] = {
    val i = java.util.Arrays.binarySearch(starts, tMs)
    val j = if (i >= 0) i else -i - 2
    if (j < 0) None
    else Some(windows(j)).filter(e => tMs <= e.endMs + 1)
  }

  private def group[A](xs: Seq[A])(t: A => Double): Map[Int, Seq[A]] =
    xs.flatMap(x => owner(t(x)).map(_.id -> x)).groupMap(_._1)(_._2)

  val jobs: Map[Int, Seq[Long]] = group(c.jobList)(_.toDouble)
  val stages: Map[Int, Seq[StageEvent]] = group(c.stageList)(_.submitMs.toDouble)
  val tasks: Map[Int, Seq[TaskEvent]] = group(c.taskList)(_.launchMs.toDouble)
  val qes: Map[Int, Seq[QeEvent]] = group(c.qeList.filter(_.endMs > 0))(_.endMs.toDouble)
  private val stageSubmit: Map[(Int, Int), Long] =
    c.stageList.map(s => (s.stageId, s.attempt) -> s.submitMs).toMap

  /** Per-execution layer figures, before they are summed per pass. */
  def perExec(e: Exec): Map[String, Double] = {
    val ts = tasks.getOrElse(e.id, Nil)
    val ss = stages.getOrElse(e.id, Nil)
    val qs = qes.getOrElse(e.id, Nil)
    val counts = qs.map(_.counts).foldLeft(PlanCounts.zero)(_ + _)
    def phase(name: String): Double = qs.flatMap(_.phases.get(name)).map(p => p._2 - p._1).sum / 1e3
    val stageIv = ss.map(s => (s.submitMs.toDouble max e.startMs, s.endMs.toDouble min e.endMs))
    val mb = 1048576.0
    Map(
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "plans.graft_rules_s" -> qs.map(_.graftRuleNs).sum / 1e9,
      "plans.graft_rule_runs" -> qs.map(_.graftRuleRuns).sum.toDouble,
      "plans.graft_rule_effective" -> qs.map(_.graftRuleEffective).sum.toDouble,
      "plans.exchanges" -> counts.exchanges.toDouble,
      "plans.reused_exchanges" -> counts.reused.toDouble,
      "plans.joins" -> counts.joins.toDouble,
      "plans.broadcast_joins" -> counts.broadcastJoins.toDouble,
      "plans.sorts" -> counts.sorts.toDouble,
      "plans.windows" -> counts.windows.toDouble,
      "plans.aggregates" -> counts.aggregates.toDouble,
      "exec.jobs" -> jobs.getOrElse(e.id, Nil).size.toDouble,
      "exec.stages" -> ss.size.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.task_gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.task_overhead_s" -> ts.map(t => (t.finishMs - t.launchMs - t.runMs) max 0L).sum / 1e3,
      "exec.sched_wait_s" -> ts.map(t =>
        (t.launchMs - stageSubmit.getOrElse((t.stageId, t.attempt), t.launchMs)) max 0L).sum / 1e3,
      "exec.task_busy_s" -> ts.map(t => t.finishMs - t.launchMs).sum / 1e3,
      "exec.stage_wall_s" -> covered(stageIv) / 1e3,
      "exec.no_stage_s" -> ((e.endMs - e.startMs) - covered(stageIv)) / 1e3,
      "exec.input_mb" -> ts.map(_.inBytes).sum / mb,
      "exec.input_records" -> ts.map(_.inRecords).sum.toDouble,
      "exec.shuffle_write_mb" -> ts.map(_.shWriteBytes).sum / mb,
      "exec.shuffle_write_records" -> ts.map(_.shWriteRecords).sum.toDouble,
      "exec.shuffle_read_mb" -> ts.map(_.shReadBytes).sum / mb,
      "exec.shuffle_fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "exec.spill_mem_mb" -> ts.map(_.spillMem).sum / mb,
      "exec.spill_disk_mb" -> ts.map(_.spillDisk).sum / mb,
      "exec.output_mb" -> ts.map(_.outBytes).sum / mb,
      "exec.peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / mb))
  }
}

object Attribution {
  import Stats.median

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }


  /** Per-layer metrics of a traced run. Event-derived figures come from
    * the traced passes, summed per pass, median over passes; latencies
    * come from the untraced passes of the same run. */
  def layers(w: Workload, execs: Seq[Exec], passes: Seq[collection.Map[String, Any]],
             c: Collector, cores: Int): Map[String, Double] = {
    val traced = execs.filter(_.traced)
    val plain = execs.filterNot(_.traced)
    val at = new Attribution(traced, c)
    val per = traced.map(e => e -> at.perExec(e)).toMap
    val byPass = traced.groupBy(_.pass).toSeq.sortBy(_._1)
    val keys = per.values.headOption.map(_.keys.toSeq).getOrElse(Nil)
    val out = mutable.LinkedHashMap.empty[String, Double]
    keys.foreach { k =>
      out(k) =
        if (k == "exec.peak_exec_mem_mb") per.values.map(_(k)).maxOption.getOrElse(0.0)
        else median(byPass.map { case (_, es) => es.map(per(_)(k)).sum })
    }
    val runs = per.values.map(_("plans.graft_rule_runs")).sum
    out("plans.graft_rules_effective_ratio") =
      if (runs == 0) 0.0 else per.values.map(_("plans.graft_rule_effective")).sum / runs
    out.remove("plans.graft_rule_runs"); out.remove("plans.graft_rule_effective")
    val busy = out.remove("exec.task_busy_s").getOrElse(0.0)
    val passWall = passes.filter(_("traced") == true).map(_("seconds").asInstanceOf[Double])
    out("exec.core_busy_ratio") = if (passWall.isEmpty) 0.0 else busy / (cores * median(passWall))
    val plainPass = passes.filter(_("traced") == false).map(_("seconds").asInstanceOf[Double])
    out("trace.overhead_s") = median(passWall) - median(plainPass)
    out("queries.build_s") = median(byPass.map { case (_, es) =>
      es.map(e => (e.buildEndMs - e.startMs) / 1e3).sum })
    val lat = plain.filter(_.error.isEmpty)
    lat.groupBy(_.stmt.key).foreach { case (k, es) =>
      if (es.head.stmt.kind == "query") out(s"queries.${k}_s") = median(es.map(_.seconds))
    }
    w match {
      case _: AnalyticsWorkload =>
        val cc = traced.filter(_.stmt.key == "ml_dedup_components")
        if (cc.nonEmpty) out("ops.dedup_components_jobs") = median(cc.map(e => per(e)("exec.jobs")))
      case l: LakehouseWorkload =>
        val commits = lat.filter(_.stmt.kind == "commit")
        val reads = lat.filter(_.stmt.kind == "read")
        out("commit_p50_s") = median(commits.map(_.seconds))
        out("commit_tail_s") = Stats.tail(commits.map(_.seconds))._1
        out("read_p50_s") = median(reads.map(_.seconds))
        out("read_tail_s") = Stats.tail(reads.map(_.seconds))._1
        l.formats.foreach { f =>
          out(s"ops.lake_${f}_commit_s") = median(commits.filter(_.stmt.fmt == f).map(_.seconds))
          out(s"ops.lake_${f}_read_s") = median(reads.filter(_.stmt.fmt == f).map(_.seconds))
        }
        out("ops.lake_read_plan_s") = median(reads.map(e => (e.buildEndMs - e.startMs) / 1e3))
        val tc = traced.filter(_.stmt.kind == "commit")
        out("ops.lake_jobs_per_commit") =
          if (tc.isEmpty) 0.0 else tc.map(e => per(e)("exec.jobs")).sum / tc.size
    }
    out.toMap
  }
}

/** The span file of a traced run: one line per span, spans of one
  * statement execution share `trace_id`. */
object Spans {
  final case class Span(trace: Int, id: String, parent: Option[String], name: String,
                        start: Double, end: Double, counts: Map[String, Double])

  def build(execs: Seq[Exec], c: Collector): Seq[Span] = {
    val traced = execs.filter(_.traced)
    val at = new Attribution(traced, c)
    val taskBy = c.taskList.groupBy(t => (t.stageId, t.attempt))
    traced.flatMap { e =>
      val root = s"${e.id}"
      val build = Span(e.id, s"${e.id}.build", Some(root), "queries.build", e.startMs, e.buildEndMs, Map.empty)
      val exec = Span(e.id, s"${e.id}.exec", Some(root), "exec", e.buildEndMs, e.endMs, Map.empty)
      def parentOf(t: Double): String = if (t < e.buildEndMs) build.id else exec.id
      val phases = at.qes.getOrElse(e.id, Nil).zipWithIndex.flatMap { case (q, qi) =>
        q.phases.toSeq.map { case (ph, (s, en)) =>
          Span(e.id, s"${e.id}.q$qi.$ph", Some(parentOf(s.toDouble)), s"plans.$ph", s.toDouble, en.toDouble, Map.empty)
        }
      }
      val stages = at.stages.getOrElse(e.id, Nil).map { s =>
        val ts = taskBy.getOrElse((s.stageId, s.attempt), Nil)
        Span(e.id, s"${e.id}.s${s.stageId}.${s.attempt}", Some(parentOf(s.submitMs.toDouble)),
          "exec.stage", s.submitMs.toDouble, s.endMs.toDouble,
          Map("tasks" -> ts.size.toDouble,
            "shuffle_write_bytes" -> ts.map(_.shWriteBytes).sum.toDouble,
            "shuffle_read_bytes" -> ts.map(_.shReadBytes).sum.toDouble,
            "input_records" -> ts.map(_.inRecords).sum.toDouble))
      }
      val stmt = Span(e.id, root, None, s"stmt.${e.stmt.key}", e.startMs, e.endMs,
        Map("jobs" -> at.jobs.getOrElse(e.id, Nil).size.toDouble, "stages" -> stages.size.toDouble))
      Seq(stmt, build, exec) ++ phases ++ stages
    }
  }

  def write(path: Path, execs: Seq[Exec], c: Collector): Unit = {
    val spans = build(execs, c)
    val children = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val kids = children.getOrElse(Some(s.id), Nil)
        .map(k => (k.start max s.start, k.end min s.end))
      val self = (s.end - s.start) - Attribution.covered(kids)
      Json.write(mutable.LinkedHashMap[String, Any]("trace_id" -> s.trace, "span_id" -> s.id,
        "parent_id" -> s.parent, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self, "counts" -> s.counts))
    }
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
