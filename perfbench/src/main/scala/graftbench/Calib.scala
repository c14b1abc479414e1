package graftbench

import java.lang.management.ManagementFactory
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** Machine-speed probe. On a shared VM the speed of a core drifts by
  * +-20% over minutes with load the VM cannot see (a fixed CPU loop, timed
  * every few seconds on an idle VM, took 0.32 to 0.50 s), so raw timings
  * of runs made minutes apart measure the host as much as the program.
  * A daemon thread times a fixed kernel, which uses no library or Spark
  * code, every `PeriodMs` for the whole run. It takes the kernel's thread
  * CPU time, not its wall time, so that the workload's own threads and GC
  * pauses, which preempt the probe, do not count as a slower machine;
  * the host's drift shows in CPU time as well. A timing divided by the
  * kernel's median over the same window and multiplied by `RefKernelMs`
  * reads as it would on a machine where the kernel takes `RefKernelMs`.
  * The kernel mixes hashing, sorting and boxed-map inserts, so it loads
  * the ALU, the caches and the allocator, as the program does. */
object Calib {
  /** The kernel's median on a 4-vCPU Xeon VM in a quiet minute. */
  val RefKernelMs = 5.0
  val PeriodMs = 100L

  private val samples = new ConcurrentLinkedQueue[(Long, Double)]() // end us, CPU ms
  @volatile private var running = false
  private var thread: Thread = _
  @volatile private var sink = 0L

  private val buf = Array.tabulate[Byte](64 << 10)(i => (i * 31 + 7).toByte)

  /** One fixed unit of work; returns a checksum so it cannot be elided. */
  def kernel(): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    var acc = 0L
    (0 until 4).foreach(_ => acc += md.digest(buf)(0))
    var x = 88172645463325252L
    val a = Array.fill(32 << 10) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
    java.util.Arrays.sort(a)
    acc += a(a.length / 2)
    val m = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var i = 0
    while (i < 20000) { m.put(a(i) >>> 40, i.toLong); i += 1 }
    acc + m.size
  }

  /** Warm the kernel up, then time it every `PeriodMs` until [[stop]]. */
  def start(): Unit = {
    (0 until 100).foreach(_ => sink += kernel())
    running = true
    thread = new Thread(() => {
      val mx = ManagementFactory.getThreadMXBean
      while (running) {
        val c0 = mx.getCurrentThreadCpuTime
        sink += kernel()
        samples.add((Clock.nowUs(), (mx.getCurrentThreadCpuTime - c0) / 1e6))
        Thread.sleep(PeriodMs)
      }
    }, "graftbench-calib")
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = { running = false; if (thread != null) thread.join() }

  private def within(fromUs: Long, toUs: Long): Seq[Double] =
    samples.asScala.toSeq.collect { case (t, ms) if t >= fromUs && t <= toUs => ms }

  /** The kernel's median CPU time over [fromUs, toUs]. */
  def kernelMs(fromUs: Long, toUs: Long): Double = Stats.median(within(fromUs, toUs))

  def probes(fromUs: Long, toUs: Long): Int = within(fromUs, toUs).size

  /** Factor that turns a time measured in [fromUs, toUs] into one at the
    * reference speed (1.0 when the window has no probe). */
  def factor(fromUs: Long, toUs: Long): Double = {
    val k = kernelMs(fromUs, toUs)
    if (k > 0) RefKernelMs / k else 1.0
  }
}
