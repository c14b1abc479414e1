package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at one layer boundary, attributed to the op that
  * caused it. Parents are derived afterwards by interval containment
  * within the op ([[Trace.selfTimes]]). */
final case class Span(name: String, op: Long, startUs: Long, endUs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def us: Long = endUs - startUs
}

/** Per-task numbers the exec layer reports. */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, cpuNs: Long, gcMs: Long,
                         inputBytes: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long, outputBytes: Long)

/** In-memory tracing for the traced run. Spans recorded here come from
  * the benchmark's own calls into the library (catalog, ETL) and from
  * Spark's public listener hooks (jobs, stages, tasks, SQL executions,
  * planning phases); nothing is written until the run ends.
  *
  * Attribution: on threads the benchmark owns, the op id travels in a
  * thread-local and in the Spark local property `graftbench.op` plus the
  * job description; on Thrift server threads it travels in the statement
  * text, which the server copies into the job description. */
object Trace {
  @volatile var on = false
  @volatile var sc: SparkContext = _
  val OpProperty = "graftbench.op"
  private val Tag = """bop=(\d+)""".r.unanchored

  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long]

  // listener state
  final case class Job(id: Int, op: Long, startMs: Long, var endMs: Long,
                       var firstLaunchMs: Long)
  val jobs = new ConcurrentHashMap[Int, Job]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stageOp = new ConcurrentHashMap[Int, Long]()
  val submittedStages = new ConcurrentLinkedQueue[(Int, Long)]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val execStart = new ConcurrentHashMap[Long, (Long, Long)]() // exec -> (op, ms)
  val execEnd = new ConcurrentHashMap[Long, Long]()
  val phases = new ConcurrentLinkedQueue[(Long, String, Long, Long)]() // op, phase, ms, ms

  def tag(op: Long): String = s"bop=$op"
  def opOf(text: String): Long = text match {
    case null => 0L
    case Tag(n) => n.toLong
    case _ => 0L
  }

  /** Run `body` as op `op` on this thread: the thread-local serves the
    * benchmark's own spans; the local properties tag Spark jobs and SQL
    * executions started from this thread (traced run only). */
  def withOp[A](op: Long)(body: => A): A = {
    val prev = current.get
    current.set(op)
    val tagged = on && sc != null
    if (tagged) {
      sc.setLocalProperty(OpProperty, op.toString)
      sc.setJobDescription(tag(op))
    }
    try body
    finally {
      current.set(prev)
      if (tagged) {
        sc.setLocalProperty(OpProperty, null)
        sc.setJobDescription(null)
      }
    }
  }

  /** The op the calling thread works for: the thread-local when the
    * benchmark owns the thread, else the tag in the job description a
    * Thrift server thread carries. */
  def opHere(): Long = {
    val c = current.get
    if (c != null) c
    else if (sc == null) 0L
    else opOf(sc.getLocalProperty("spark.job.description"))
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val op = opHere()
      val t0 = Clock.nowUs()
      try body finally spans.add(Span(name, op, t0, Clock.nowUs()))
    }

  private def propOp(props: java.util.Properties): Long =
    if (props == null) 0L
    else Option(props.getProperty(OpProperty)).map(_.toLong)
      .getOrElse(opOf(props.getProperty("spark.job.description")))

  /** Spark scheduler/SQL events, kept only while tracing is on. */
  final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val op = propOp(e.properties)
      e.stageIds.foreach { s => stageJob.put(s, e.jobId); stageOp.put(s, op) }
      jobs.put(e.jobId, Job(e.jobId, op, e.time, -1L, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.synchronized { j.endMs = e.time }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
      val op = Option(stageOp.get(e.stageInfo.stageId)).map(_.longValue)
        .getOrElse(propOp(e.properties))
      submittedStages.add((e.stageInfo.stageId, op))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val j = Option(stageJob.get(e.stageId)).map(jobs.get(_)).orNull
      if (j != null) j.synchronized {
        if (j.firstLaunchMs < 0 || e.taskInfo.launchTime < j.firstLaunchMs)
          j.firstLaunchMs = e.taskInfo.launchTime
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if on =>
        execStart.put(s.executionId, (opOf(s.description), s.time))
      case s: SparkListenerSQLExecutionEnd =>
        if (execStart.containsKey(s.executionId)) execEnd.put(s.executionId, s.time)
      case _ =>
    }
  }

  def clear(): Unit = {
    spans.clear(); jobs.clear(); stageJob.clear(); stageOp.clear()
    submittedStages.clear(); tasks.clear(); execStart.clear(); execEnd.clear()
    phases.clear()
  }

  /** Wait until the listener bus has delivered the traced phase: every
    * recorded job has ended and the event counts stopped moving. */
  def drain(maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1
    var stable = false
    while (!stable && System.currentTimeMillis() < deadline) {
      Thread.sleep(250)
      val n = tasks.size + phases.size + execEnd.size + jobs.size
      stable = n == last && jobs.values.asScala.forall(_.endMs >= 0)
      last = n
    }
  }

  // ------------------------------------------------------------- analysis

  /** Every span of the traced phase, the benchmark's own plus those the
    * listener events imply, for the ops in `ops`. Millisecond-resolution
    * intervals are widened to whole milliseconds. */
  def allSpans(ops: Seq[Sample], thrift: Boolean): Vector[Span] = {
    val opIds = ops.map(_.op).toSet
    val out = Vector.newBuilder[Span]
    def ms(name: String, op: Long, a: Long, b: Long): Unit =
      if (opIds(op) && b >= a) out += Span(name, op, a * 1000L, b * 1000L + 999L)
    ops.foreach(s => out += Span("op", s.op, s.startUs, s.endUs))
    spans.asScala.foreach(s => if (opIds(s.op)) out += s)
    phases.asScala.foreach { case (op, ph, a, b) => ms(s"spark_plan.$ph", op, a, b) }
    val jobList = jobs.values.asScala.toVector
    jobList.foreach(j => if (j.endMs >= 0) ms("sched.job", j.op, j.startMs, j.endMs))
    val jobOfStage = stageJob.asScala
    tasks.asScala.foreach { t =>
      jobOfStage.get(t.stage).flatMap(j => Option(jobs.get(j))).foreach(j =>
        ms("exec.task", j.op, t.launchMs, t.finishMs))
    }
    if (thrift) {
      // the server's share of a wire op: from its first planning phase
      // or SQL execution to the end of its last execution or job
      val byOp = mutable.Map.empty[Long, (Long, Long)]
      def widen(op: Long, a: Long, b: Long): Unit = if (op != 0L) {
        val (x, y) = byOp.getOrElse(op, (a, b))
        byOp(op) = (math.min(x, a), math.max(y, b))
      }
      execStart.asScala.foreach { case (id, (op, t0)) =>
        widen(op, t0, Option(execEnd.get(id)).map(_.longValue).getOrElse(t0)) }
      jobList.foreach(j => if (j.endMs >= 0) widen(j.op, j.startMs, j.endMs))
      phases.asScala.foreach { case (op, _, a, b) => widen(op, a, b) }
      byOp.foreach { case (op, (a, b)) => ms("sql.server", op, a, b) }
    }
    // listener times have millisecond resolution: clip every derived
    // span to its op's client interval so the op stays the root
    val opIv = ops.map(s => s.op -> (s.startUs, s.endUs)).toMap
    out.result().flatMap { s =>
      if (s.name == "op") Some(s)
      else {
        val (a, b) = opIv(s.op)
        val c = s.copy(startUs = math.max(s.startUs, a), endUs = math.min(s.endUs, b))
        if (c.endUs > c.startUs) Some(c) else None
      }
    }
  }

  private val rank = Map("op" -> 0, "sql" -> 1, "spark_plan" -> 2,
    "catalog" -> 3, "etl" -> 2, "sched" -> 4, "exec" -> 5)

  /** Self time per layer, summed over ops: a span's duration minus the
    * union of its children's intervals. A span's parent is the innermost
    * other span of its op that contains it (ties go to the outer layer);
    * exec tasks are leaves. Also returns each span's parent name. */
  def selfTimes(all: Vector[Span]): (Map[String, Double], Vector[(Span, String)]) = {
    val selfUs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val withParent = Vector.newBuilder[(Span, String)]
    all.groupBy(_.op).foreach { case (_, ss) =>
      val sorted = ss.sortBy(s => (s.startUs, -s.endUs, rank.getOrElse(s.layer, 9)))
      val children = mutable.Map.empty[Int, mutable.ArrayBuffer[Span]]
      val stack = mutable.ArrayBuffer.empty[Int]
      sorted.indices.foreach { i =>
        val s = sorted(i)
        while (stack.nonEmpty && {
          val p = sorted(stack.last); p.endUs < s.endUs || p.startUs > s.startUs
        }) stack.remove(stack.size - 1)
        val parent = stack.lastOption
        parent.foreach(p => children.getOrElseUpdate(p, mutable.ArrayBuffer.empty) += s)
        withParent += ((s, parent.map(sorted(_).name).getOrElse("")))
        if (s.layer != "exec") stack += i
      }
      sorted.indices.foreach { i =>
        val s = sorted(i)
        val covered = unionUs(children.getOrElse(i, Nil).map(c =>
          (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs))))
        selfUs(s.layer) += math.max(0L, s.us - covered)
      }
    }
    (selfUs.map { case (k, v) => k -> v / 1000.0 }.toMap, withParent.result())
  }

  def unionUs(ivs: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    ivs.filter(iv => iv._2 > iv._1).toVector.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Planning-phase times from each query's `QueryExecution.tracker`.
  * Registered through `spark.sql.queryExecutionListeners` in the traced
  * run, so every session (Thrift connections included) reports here.
  * The callback runs on the listener bus, so the op is read from the SQL
  * text the parser left on the plan (the traced run tags each statement);
  * queries built without SQL text stay unattributed. */
class PlanListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = if (Trace.on) {
    val text = qe.logical.origin.sqlText.orElse(
      qe.logical.collectFirst { case p if p.origin.sqlText.isDefined => p.origin.sqlText.get })
    val op = Trace.opOf(text.orNull)
    if (op != 0L) qe.tracker.phases.foreach { case (name, p) =>
      Trace.phases.add((op, name, p.startTimeMs, p.endTimeMs)) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}
