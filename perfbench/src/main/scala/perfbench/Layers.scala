package perfbench

import java.nio.file.Path

import perfbench.PerfBench.{OpRun, Pass}

/** Per-layer numbers of one traced pass. The layers are the engine's
  * modules, outermost first:
  *  - `queries`: building each DataFrame (`QueryDef.fn`), eager jobs included;
  *  - `plans`: Catalyst phases and the shape of each final write;
  *  - `spark`: the scheduler (jobs, stages, tasks, shuffle, spill);
  *  - `operators`: the work inside tasks;
  *  - `sources`: bytes and rows read and written by scans and sinks.
  */
object Layers {
  private val MB = 1024.0 * 1024.0

  def of(p: Pass, t: Tracer, cores: Int, untracedWallS: Double)
      : (Map[String, Double], Map[String, Map[String, Double]]) = {
    val stages = t.stages.values.filter(_.submitted).toSeq
    val whole = Map(
      "queries.build_s" -> p.ops.map(_.buildS).sum,
      "queries.build_jobs" -> t.jobs.values.count(_.phase == "build").toDouble,
      "spark.action_s" -> p.ops.map(_.actionS).sum,
      "spark.jobs" -> t.jobs.size.toDouble,
      "spark.in_job_s" -> inJobSeconds(t.jobs.values.toSeq),
      "spark.driver_gap_s" -> (p.wallS - inJobSeconds(t.jobs.values.toSeq)),
      "operators.core_use" -> stages.map(_.runMs).sum / 1e3 / (cores * p.wallS),
      "trace.wall_s" -> p.wallS,
      "trace.overhead_s" -> (p.wallS - untracedWallS))
    val byOp = p.ops.map { o =>
      val jobs = t.jobs.values.filter(_.op == o.name).toSeq
      val ids = jobs.map(_.id).toSet
      o.name -> (Map(
        "wall_s" -> o.wallS, "build_s" -> o.buildS, "action_s" -> o.actionS,
        "build_jobs" -> jobs.count(_.phase == "build").toDouble,
        "jobs" -> jobs.size.toDouble) ++
        stageTotals(stages.filter(s => ids(s.job))) ++
        planTotals(t.execs.filter(e => e.op == o.name && e.phase == "action").toSeq))
    }.toMap
    (whole ++ stageTotals(stages) ++ planTotals(t.execs.filter(_.phase == "action").toSeq), byOp)
  }

  private def stageTotals(stages: Seq[Tracer.Stage]): Map[String, Double] = Map(
    "spark.stages" -> stages.size.toDouble,
    "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
    "spark.launch_delay_s" -> stages.filter(_.tasks > 0)
      .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum / 1e3,
    "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / MB,
    "spark.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / MB,
    "spark.spill_mb" -> stages.map(_.spill).sum / MB,
    "operators.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
    "operators.task_run_s" -> stages.map(_.runMs).sum / 1e3,
    "operators.gc_s" -> stages.map(_.gcMs).sum / 1e3,
    "sources.input_mb" -> stages.map(_.inputBytes).sum / MB,
    "sources.input_rows" -> stages.map(_.inputRows).sum.toDouble,
    "sources.output_mb" -> stages.map(_.outputBytes).sum / MB)

  /** Catalyst phases and plan shape of the executions an action ran. */
  private def planTotals(execs: Seq[Tracer.Exec]): Map[String, Double] = Map(
    "plans.analysis_s" -> execs.map(_.phaseSeconds("analysis")).sum,
    "plans.optimization_s" -> execs.map(_.phaseSeconds("optimization")).sum,
    "plans.planning_s" -> execs.map(_.phaseSeconds("planning")).sum,
    "plans.scans" -> execs.map(_.scans).sum.toDouble,
    "plans.exchanges" -> execs.map(_.exchanges).sum.toDouble)

  /** Length of the union of the jobs' [start, end] intervals. */
  private def inJobSeconds(jobs: Seq[Tracer.Job]): Double = {
    val spans = jobs.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    spans.foreach { case (s, e) =>
      if (s > curEnd) {
        total += curEnd - curStart
        curStart = s
        curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    (total + curEnd - curStart) / 1e3
  }
}

/** The trace of one pass: pass -> operation -> build / action -> plan
  * phases and Spark jobs -> stages. Every span of an operation carries
  * the operation's id. Written as one JSON file when the pass ends. */
object Spans {
  def write(path: Path, p: Pass, t: Tracer, toMs: Long => Double): Unit = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def add(parent: Int, op: String, name: String, start: Double, end: Double): Int = {
      spans += Map("span" -> spans.size, "parent" -> parent, "op" -> op,
        "name" -> name, "start_ms" -> start, "end_ms" -> end)
      spans.size - 1
    }
    val root = add(-1, "", s"pass ${p.kind}-${p.index}", toMs(p.startNs), toMs(p.endNs))
    p.ops.zipWithIndex.foreach { case (o: OpRun, i) =>
      val id = s"op$i:${o.name}"
      val op = add(root, id, o.name, toMs(o.startNs), toMs(o.endNs))
      val phase = Map(
        "build" -> add(op, id, "build", toMs(o.startNs), toMs(o.buildEndNs)),
        "action" -> add(op, id, "action", toMs(o.buildEndNs), toMs(o.endNs)))
      t.execs.filter(e => e.op == o.name && e.phase == "action").foreach { e =>
        e.phases.toSeq.sortBy(_._2._1).foreach { case (name, (s, end)) =>
          add(phase("action"), id, s"plan.$name", s.toDouble, end.toDouble)
        }
      }
      t.jobs.values.filter(_.op == o.name).foreach { j =>
        val job = add(phase.getOrElse(j.phase, op), id, s"job ${j.id}",
          j.startMs.toDouble, j.endMs.toDouble)
        t.stages.values.filter(s => s.job == j.id && s.submitted).foreach { s =>
          add(job, id, s"stage ${s.id}", s.submitMs.toDouble, s.endMs.toDouble)
        }
      }
    }
    PerfBench.writeJson(path, Map("spans" -> spans))
  }
}
