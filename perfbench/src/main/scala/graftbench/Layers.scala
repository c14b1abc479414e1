package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of the traced phase. The names and units here are
  * the `per_layer` list of BENCHMARK.json, in order; a metric a workload
  * does not exercise reads 0. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "catalog.register_ms" -> "ms", "catalog.load_ms" -> "ms", "catalog.plan_ms" -> "ms",
    "catalog.register_ms.first50" -> "ms", "catalog.register_ms.last50" -> "ms",
    "catalog.load_ms.first50" -> "ms", "catalog.load_ms.last50" -> "ms",
    "catalog.plan_ms.first50" -> "ms", "catalog.plan_ms.last50" -> "ms",
    "catalog.plan_files_considered" -> "count", "catalog.plan_files_kept" -> "count",
    "catalog.plan_kept_ratio" -> "ratio",
    "catalog.meta_bytes_per_commit" -> "B", "catalog.meta_dir_bytes" -> "B",
    "catalog.dsv2_load_ms" -> "ms", "catalog.snapshots_added" -> "count",
    "catalog.ms_per_op" -> "ms",
    "sql.connect_ms" -> "ms", "sql.server_ms" -> "ms", "sql.wire_ms" -> "ms",
    "spark_plan.analysis_ms" -> "ms", "spark_plan.optimization_ms" -> "ms",
    "spark_plan.planning_ms" -> "ms",
    "sched.jobs_per_op" -> "count", "sched.stages_per_op" -> "count",
    "sched.tasks_per_op" -> "count", "sched.wait_ms_per_op" -> "ms",
    "exec.task_ms_per_op" -> "ms", "exec.cpu_ms_per_op" -> "ms", "exec.gc_ms_per_op" -> "ms",
    "exec.input_bytes_per_op" -> "B", "exec.shuffle_read_bytes_per_op" -> "B",
    "exec.shuffle_write_bytes_per_op" -> "B", "exec.spill_bytes_per_op" -> "B",
    "exec.output_bytes_per_changed_row" -> "B",
    "etl.optimize_ms" -> "ms", "etl.optimize_bytes_rewritten" -> "B",
    "etl.read_p95_during_optimize_ms" -> "ms",
    "self.op_ms_per_op" -> "ms", "self.sql_ms_per_op" -> "ms",
    "self.spark_plan_ms_per_op" -> "ms", "self.catalog_ms_per_op" -> "ms",
    "self.etl_ms_per_op" -> "ms", "self.sched_ms_per_op" -> "ms",
    "self.exec_ms_per_op" -> "ms",
    "trace.overhead_ms" -> "ms")

  /** Task records of the traced ops, keyed by op. */
  def tasksByOp(ops: Set[Long]): Map[Long, Vector[TaskRec]] = {
    val jobOfStage = Trace.stageJob.asScala
    Trace.tasks.asScala.toVector.flatMap { t =>
      jobOfStage.get(t.stage).flatMap(j => Option(Trace.jobs.get(j)))
        .filter(j => ops(j.op)).map(j => j.op -> t)
    }.groupMap(_._1)(_._2)
  }

  /** Layer metrics every workload reports the same way. */
  def generic(ops: Vector[Sample], all: Vector[Span], thrift: Boolean): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val ids = ops.map(_.op).toSet
    val jobs = Trace.jobs.values.asScala.toVector.filter(j => ids(j.op))
    val stages = Trace.submittedStages.asScala.count { case (_, op) => ids(op) }
    val tasks = tasksByOp(ids).values.flatten.toVector
    val waits = jobs.filter(_.firstLaunchMs >= 0).map(j => (j.firstLaunchMs - j.startMs).toDouble)
    def spanSum(prefix: String) = all.filter(_.name.startsWith(prefix)).map(_.us).sum / 1000.0
    val (self, _) = Trace.selfTimes(all)
    val server = all.filter(_.name == "sql.server").map(s => s.op -> s.us / 1000.0).toMap
    Map(
      "sched.jobs_per_op" -> jobs.size / n,
      "sched.stages_per_op" -> stages / n,
      "sched.tasks_per_op" -> tasks.size / n,
      "sched.wait_ms_per_op" -> waits.sum / n,
      "exec.task_ms_per_op" -> tasks.map(_.runMs).sum / n,
      "exec.cpu_ms_per_op" -> tasks.map(_.cpuNs).sum / 1e6 / n,
      "exec.gc_ms_per_op" -> tasks.map(_.gcMs).sum / n,
      "exec.input_bytes_per_op" -> tasks.map(_.inputBytes).sum / n,
      "exec.shuffle_read_bytes_per_op" -> tasks.map(_.shuffleRead).sum / n,
      "exec.shuffle_write_bytes_per_op" -> tasks.map(_.shuffleWrite).sum / n,
      "exec.spill_bytes_per_op" -> tasks.map(_.spill).sum / n,
      "spark_plan.analysis_ms" -> spanSum("spark_plan.analysis") / n,
      "spark_plan.optimization_ms" -> spanSum("spark_plan.optimization") / n,
      "spark_plan.planning_ms" -> spanSum("spark_plan.planning") / n,
      "catalog.ms_per_op" -> spanSum("catalog.") / n,
      "catalog.dsv2_load_ms" -> Stats.median(
        all.filter(_.name == "catalog.dsv2_load").map(_.us / 1000.0))
    ) ++ self.map { case (layer, ms) => s"self.${layer}_ms_per_op" -> ms / n } ++
      (if (!thrift) Map.empty else Map(
        "sql.server_ms" -> Stats.median(server.values.toSeq),
        "sql.wire_ms" -> Stats.median(ops.map(s => s.ms - server.getOrElse(s.op, 0.0)))))
  }

  /** Every traced span with the parent containment assigned it. */
  def writeSpans(path: String, all: Vector[Span]): Unit = {
    val (_, withParent) = Trace.selfTimes(all)
    val lines = withParent.sortBy(_._1.startUs).map { case (s, parent) =>
      Json.render(Seq("name" -> s.name, "op" -> s.op, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "parent" -> parent))
    }
    Files.write(Paths.get(path), lines.asJava)
  }
}
