package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, trace: Boolean,
                     injectFailure: Boolean, work: Path, warehouse: String)

/** One closed-loop workload. The harness sets it up, warms it, measures
  * it (once untraced; in the traced run an untraced half then a traced
  * half), runs its output checks and asks it for its metrics. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Set-up done once per JVM (e.g. starting the Thrift server), in s. */
  def setupOnce(): Double = 0.0
  /** One repetition of the repeatable set-up, in s; the last repetition's
    * state is what gets measured. */
  def setupRep(rep: Int, last: Boolean): Double
  def warmup(): Unit
  /** Run the closed loop for about `seconds`; return the measured wall
    * time in seconds. */
  def measure(rec: Recorder, seconds: Double): Double
  /** End-of-run output checks, each run as a "check" op of `rec`. */
  def finalChecks(rec: Recorder): Unit
  def metaBytesPerSnapshot: Double
  /** Workload-specific per-layer metrics from the traced phase. */
  def layerMetrics(traced: Vector[Sample], spans: Vector[Span]): Map[String, Double]
  /** Extra facts for the artifact. */
  def facts: Map[String, Any] = Map.empty
  def thrift: Boolean = false
}

object Main {
  val SetupReps = 3
  private val started = System.nanoTime()

  /** Progress on stderr, with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"graftbench [${(System.nanoTime() - started) / 1e9}%7.2fs] $msg")

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val trace = arg(args, "--trace") == "1"
    val inject = arg(args, "--inject-failure") == "1"
    val work = Paths.get(arg(args, "--work"))
    val artifact = arg(args, "--artifact")
    val code =
      try { run(workload, seed, seconds, trace, inject, work, artifact); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"graftbench: run failed: $e")
          e.printStackTrace()
          1
      }
    // Thrift server and Spark threads are non-daemon; end the JVM here
    System.exit(code)
  }

  def run(workload: String, seed: Long, seconds: Int, trace: Boolean,
          inject: Boolean, work: Path, artifact: String): Unit = {
    val wh = work.resolve("warehouse")
    Files.createDirectories(wh)
    Calib.start()
    val setupFromUs = Clock.nowUs()
    val t0 = System.nanoTime()
    // the shipped session factory; the only overrides are the catalog
    // registration and the UI (plus the planning-phase hook when tracing)
    val b = GraftSession.builder()
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", classOf[TimedSparkCatalog].getName)
      .config("spark.sql.catalog.graft.warehouse", wh.toString)
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.sc = spark.sparkContext
    if (trace) spark.sparkContext.addSparkListener(new Trace.Listener)
    val sessionS = (System.nanoTime() - t0) / 1e9

    log(f"session up in $sessionS%.2fs")
    val ctx = Ctx(spark, seed, trace, inject, work, wh.toString)
    val w: Workload = workload match {
      case "bi_thrift" => new BiThrift(ctx)
      case "ingest_commit" => new IngestCommit(ctx)
      case "dml_mixed" => new DmlMixed(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    log("inputs written")
    val onceS = w.setupOnce()
    val repS = (0 until SetupReps).map(i => w.setupRep(i, i == SetupReps - 1))
    val setupS = sessionS + onceS + Stats.median(repS)
    val setupToUs = Clock.nowUs()
    log(f"set up: once $onceS%.2fs, reps ${repS.map(x => f"$x%.2f").mkString(",")}")
    w.warmup()
    log("warmed up")

    val rec = new Recorder
    val traced = new Recorder
    var elapsed = 0.0
    var tracedElapsed = 0.0
    val measureFromUs = Clock.nowUs()
    if (!trace) elapsed = w.measure(rec, seconds)
    else {
      elapsed = w.measure(rec, seconds / 2.0)
      Trace.clear()
      Trace.on = true
      tracedElapsed = w.measure(traced, seconds / 2.0)
    }
    log(f"measured ${elapsed + tracedElapsed}%.2fs")
    val checks = new Recorder
    w.finalChecks(checks)

    val injectedOk = if (!inject) true else selfCheck(rec)
    val recs = Seq(rec, traced, checks)
    val attempted = recs.map(_.attempted).sum
    val failed = recs.map(_.failed).sum
    val correct = recs.forall(_.mismatches == 0) && injectedOk

    val untraced = timings(rec.all, elapsed)
    val measureToUs = measureFromUs + (elapsed * 1e6).toLong
    Calib.stop()
    // times scaled to the reference machine speed over their own window
    val setupF = Calib.factor(setupFromUs, setupToUs)
    val measureF = Calib.factor(measureFromUs, measureToUs)
    log(f"checked; kernel ${Calib.kernelMs(setupFromUs, setupToUs)}%.2f ms in set-up, " +
      f"${Calib.kernelMs(measureFromUs, measureToUs)}%.2f ms while measuring")
    val heapMb = retainedHeapMb()
    val e2e = Seq(
      ("setup_s", setupS * setupF, "s"),
      ("op_p50_gm_ms", untraced("op_p50_gm_ms") * measureF, "ms"),
      ("ops_per_s", untraced("ops_per_s") / measureF, "1/s"),
      ("ok_ratio", if (attempted == 0) 0.0 else 1.0 - failed.toDouble / attempted, "ratio"),
      ("meta_bytes_per_snapshot", w.metaBytesPerSnapshot, "B"),
      ("heap_retained_mb", heapMb, "MB"))

    val layers: Seq[(String, Double, String)] =
      if (!trace) Nil
      else {
        Trace.drain()
        log(s"trace: ${Trace.jobs.size} jobs, ${Trace.tasks.size} tasks, " +
          s"${Trace.execStart.size} executions (${Trace.execStart.values.asScala.count(_._1 != 0L)} tagged), " +
          s"${Trace.phases.asScala.count(_._1 != 0L)} tagged planning phases, ${Trace.spans.size} client spans")
        val tracedOps = traced.all.filter(s => s.cls == "read" || s.cls == "write")
        val all = Trace.allSpans(tracedOps, w.thrift)
        val generic = Layers.generic(tracedOps, all, w.thrift)
        val specific = w.layerMetrics(tracedOps, all)
        val overhead = Map("trace.overhead_ms" ->
          (timings(tracedOps, tracedElapsed)("op_p50_gm_ms") - untraced("op_p50_gm_ms")))
        Layers.writeSpans(artifact + ".spans.jsonl", all)
        Layers.Names.map { case (n, unit) =>
          (n, generic.getOrElse(n, specific.getOrElse(n, overhead.getOrElse(n, 0.0))), unit)
        }
      }

    val shown = if (trace) layers else e2e
    val metricsJson = shown.map { case (n, v, u) =>
      n -> Map("value" -> v, "unit" -> u) }
    val facts = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "failures" -> (rec.failures.asScala ++ traced.failures.asScala ++
        checks.failures.asScala).toSeq,
      "setup" -> Map("session_s" -> sessionS, "once_s" -> onceS, "reps_s" -> repS,
        "setup_s_raw" -> setupS),
      "calibration" -> Map("ref_kernel_ms" -> Calib.RefKernelMs,
        "setup_kernel_ms" -> Calib.kernelMs(setupFromUs, setupToUs),
        "measure_kernel_ms" -> Calib.kernelMs(measureFromUs, measureToUs),
        "setup_factor" -> setupF, "measure_factor" -> measureF,
        "setup_probes" -> Calib.probes(setupFromUs, setupToUs),
        "measure_probes" -> Calib.probes(measureFromUs, measureToUs)),
      "end_to_end" -> e2e.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> layers.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) },
      "untraced_timings" -> untraced.toSeq.sortBy(_._1),
      "samples_by_kind" -> rec.all.groupBy(_.kind).map { case (k, ss) =>
        k -> Map("n" -> ss.size, "p50_ms" -> Stats.median(ss.map(_.ms)),
          "p90_ms" -> Stats.quantile(ss.map(_.ms), 0.90)) }.toSeq.sortBy(_._1),
      "workload_facts" -> w.facts.toSeq.sortBy(_._1),
      "samples" -> rec.all.sortBy(_.startUs).map(s =>
        Seq("kind" -> s.kind, "start_us" -> s.startUs, "ms" -> s.ms)))
    Files.writeString(Paths.get(artifact + ".json"), Json.render(facts) + "\n")
    log("done")
    println(Json.render(Seq("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metricsJson)))
  }

  /** Client-side timings of a phase; reads and writes make the op class.
    * A class mixes op kinds whose latencies differ several-fold, so its
    * pooled median sits on the boundary between two kinds and jumps when
    * their speeds shift a little. The headline figure of a class is
    * therefore the geometric mean, over its kinds, of each kind's median
    * (`*_p50_gm_ms`; every kind weighs the same, as the queries do in
    * TPC-H's power metric). Pooled percentiles stay in the artifact. */
  def timings(samples: Seq[Sample], elapsedS: Double): Map[String, Double] = {
    val ops = samples.filter(s => s.cls == "read" || s.cls == "write")
    val reads = ops.filter(_.cls == "read")
    val writes = ops.filter(_.cls == "write")
    def t(prefix: String, ss: Seq[Sample], plural: String): Seq[(String, Double)] = {
      val kinds = ss.groupBy(_.kind).values.map(_.map(_.ms)).toSeq
      Seq(
        s"${prefix}_p50_gm_ms" -> Stats.geomean(kinds.map(Stats.median)),
        s"${prefix}_p90_gm_ms" -> Stats.geomean(kinds.map(Stats.quantile(_, 0.90))),
        s"${prefix}_p50_ms" -> Stats.median(ss.map(_.ms)),
        s"${prefix}_p90_ms" -> Stats.quantile(ss.map(_.ms), 0.90),
        s"${plural}_per_s" -> (if (elapsedS > 0) ss.size / elapsedS else 0.0),
        s"${prefix}_samples" -> ss.size.toDouble,
        s"${prefix}_kinds" -> kinds.size.toDouble)
    }
    (t("op", ops, "ops") ++ t("read", reads, "reads") ++ t("write", writes, "writes")).toMap
  }

  /** The injected statement must fail, add no latency sample, and raise
    * the failure count by exactly one. */
  private def selfCheck(rec: Recorder): Boolean = {
    val injected = rec.failures.asScala.count(_.startsWith("injected:"))
    val ok = injected == 1 && rec.all.size == rec.attempted - rec.failed &&
      !rec.all.exists(_.kind == "injected")
    System.err.println(s"graftbench: self-check ${if (ok) "passed" else "FAILED"}: " +
      s"attempted=${rec.attempted} failed=${rec.failed} samples=${rec.all.size} " +
      s"injected_failures=$injected")
    ok
  }

  private def retainedHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    System.gc(); Thread.sleep(200); System.gc()
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Minimal JSON rendering for the result line and the artifact. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => render(m.toSeq)
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
      case (_: String, _) => true
      case _ => false
    } => kv.map { case (k: String, x) => str(k) + ": " + render(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case x => str(x.toString)
  }
}
