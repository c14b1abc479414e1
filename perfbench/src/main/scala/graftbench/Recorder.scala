package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Wall clock in epoch microseconds with nanoTime resolution, so client
  * spans and Spark listener timestamps (epoch ms) share one time axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One op as its client saw it. `cls` is "read" or "write"; `kind` names
  * the statement or call (e.g. "merge", "lookup"). */
final case class Sample(op: Long, cls: String, kind: String,
                        startUs: Long, endUs: Long) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** A benchmark output check that did not hold. */
final class Mismatch(msg: String) extends RuntimeException(msg)

/** Closed-loop op accounting. An op that returns adds one latency sample.
  * An op that throws adds one failure with its message and NO sample, so
  * a statement that dies fast can never pass for a fast timing. A
  * [[Mismatch]] thrown by an output check fails the op the same way and
  * also marks the run incorrect. */
final class Recorder {
  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  private val mismatchN = new AtomicLong
  val samples = new ConcurrentLinkedQueue[Sample]()
  val failures = new ConcurrentLinkedQueue[String]()

  def attempted: Long = attemptedN.get
  def failed: Long = failedN.get
  def mismatches: Long = mismatchN.get

  /** Run one op; the body receives the op id (the tag the traced run
    * attributes Spark work by). */
  def op[A](cls: String, kind: String)(body: Long => A): Option[A] = {
    val id = Recorder.opIds.incrementAndGet()
    attemptedN.incrementAndGet()
    val t0 = Clock.nowUs()
    try {
      val a = Trace.withOp(id)(body(id))
      samples.add(Sample(id, cls, kind, t0, Clock.nowUs()))
      Some(a)
    } catch {
      case NonFatal(e) =>
        failedN.incrementAndGet()
        if (e.isInstanceOf[Mismatch]) mismatchN.incrementAndGet()
        if (failures.size < 50)
          failures.add(s"$kind: ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(300))
        None
    }
  }

  def all: Vector[Sample] = samples.asScala.toVector
}

object Recorder {
  /** Op ids are unique across recorders: spans and Spark jobs are
    * attributed by id. */
  private val opIds = new AtomicLong
}

object Stats {
  /** Linear-interpolation quantile (numpy's default) of unsorted values. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}
