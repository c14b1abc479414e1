package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import graft.catalog.GraftCatalog
import graft.etl.Maintenance

/** `dml_mixed`: three threads share one orders table that CTAS created
  * through the DSv2 catalog (copy-on-write row-level operations). A writer
  * runs seeded `MERGE INTO` upserts and calls `Maintenance.optimize` every
  * `OptimizeEvery`-th write; an appender runs small `INSERT INTO`s; a
  * reader alternates point and range `SELECT`s.
  *
  * Keys 1..NOrders/2 are never written, so every read has an exact
  * expected answer even while writers race; updates hit keys above that,
  * and each thread inserts into its own key space. The final row count
  * and `sum(o_totalprice)` must equal the totals the op log implies. */
final class DmlMixed(ctx: Ctx) extends Workload(ctx) {
  import DmlMixed._

  private val raw = ctx.work.resolve("raw").resolve("orders")
  private val cat = new GraftCatalog(ctx.warehouse)
  Data.write(Data.orders(spark, ctx.seed, 1, NOrders, 15000L, 4), raw)
  spark.read.parquet(raw.toString).createOrReplaceTempView("raw_orders")
  /** Initial price in cents by key. */
  private val initial: Array[Long] = {
    val a = new Array[Long](NOrders.toInt + 1)
    spark.sql("SELECT o_orderkey, o_totalprice FROM raw_orders").collect()
      .foreach(r => a(r.getLong(0).toInt) = r.getDecimal(1).movePointRight(2).longValueExact)
    a
  }
  private val Stable = (NOrders / 2).toInt
  /** stablePrefix(k) = sum of initial(j) for j < k. */
  private val stablePrefix: Array[Long] = initial.take(Stable + 1).scanLeft(0L)(_ + _)

  // expected table totals: updated by each op that succeeded
  private val expectedRows = new AtomicLong(NOrders)
  private val expectedCents = new AtomicLong(initial.sum)
  private val current = mutable.Map.empty[Long, Long] // writer-owned: key -> cents
  private val writerKeys = new AtomicLong(1000000000L)
  private val appenderKeys = new AtomicLong(2000000000L)
  private val changedRows = new ConcurrentHashMap[Long, Int]()
  private var phase = 0
  private var writes = 0 // writer-owned, counted across phases
  private val commits = new java.util.concurrent.atomic.AtomicInteger
  @volatile private var metaAtDepth: Option[Double] = None

  def setupRep(rep: Int, last: Boolean): Double = {
    val t = if (last) Table else s"$Table$rep"
    val t0 = System.nanoTime()
    spark.sql(s"CREATE TABLE graft.$Ns.$t AS SELECT * FROM raw_orders")
    val s = (System.nanoTime() - t0) / 1e9
    if (!last) spark.sql(s"DROP TABLE graft.$Ns.$t")
    s
  }

  /** The measured loop on the measured table, for a fixed number of ops
    * per thread (so every run starts measuring at the same history depth):
    * JIT warm-up, and the output checks cover these ops too. */
  def warmup(): Unit = {
    val warm = new Recorder
    threads(warm, Long.MaxValue, WarmOps, measured = false)
    require(warm.failed == 0, s"warm-up failed: ${warm.failures.asScala}")
  }

  private def price(rng: Random): Long = 1L + rng.nextInt(50000000)

  /** A statement of op `op`; the traced run tags its text for attribution. */
  private def sql(op: Long, text: String) =
    spark.sql(if (Trace.on) s"/* ${Trace.tag(op)} */ $text" else text)

  def measure(rec: Recorder, seconds: Double): Double = {
    phase += 1
    val t0 = System.nanoTime()
    threads(rec, t0 + (seconds * 1e9).toLong, Seq.fill(3)(Int.MaxValue), measured = true)
    (System.nanoTime() - t0) / 1e9
  }

  /** Run the writer, appender and reader until `deadline` (nanoTime) or
    * until each has run its count of `ops` (in that order), whichever
    * comes first. */
  private def threads(rec: Recorder, deadline: Long, ops: Seq[Int], measured: Boolean): Unit = {
    def loop(name: String, i: Int)(step: Random => Unit): Thread =
      new Thread(() => {
        val rng = new Random(ctx.seed * 1000 + phase * 10 + i)
        var n = 0
        while (System.nanoTime() < deadline && n < ops(math.min(i, 2))) { step(rng); n += 1 }
      }, s"dml-$name")
    var injectPending = ctx.injectFailure && measured && phase == 1
    // metadata bytes per snapshot once MetaDepth writes have committed: a
    // fixed history depth, whatever the run's speed
    def committed(): Unit =
      if (commits.incrementAndGet() >= MetaDepth) synchronized {
        if (metaAtDepth.isEmpty)
          try metaAtDepth = Some(Data.dirBytes(metaDir).toDouble / cat.snapshots(Ns, Table).size)
          catch { case NonFatal(_) => () } // a commit's temp file vanished mid-walk: next commit
      }
    val writer = loop("writer", 0) { rng =>
      writes += 1
      if (writes % OptimizeEvery == 0)
        rec.op("write", "optimize")(_ =>
          Trace.span("etl.optimize")(Maintenance.optimize(spark, cat, Ns, Table)))
          .foreach(_ => committed())
      else {
        val keys = Iterator.continually(Stable + 1L + rng.nextInt(NOrders.toInt - Stable))
          .distinct.take(MergeRows / 2).toVector
        val updates = keys.map(k => Row(k, price(rng)))
        val inserts = Vector.fill(MergeRows / 2)(Row(writerKeys.incrementAndGet(), price(rng)))
        rec.op("write", "merge") { op =>
          sql(op, mergeSql(Table, updates ++ inserts))
          changedRows.put(op, MergeRows)
        }.foreach { _ =>
          updates.foreach { r =>
            val old = current.getOrElse(r.key, initial(r.key.toInt))
            expectedCents.addAndGet(r.cents - old)
            current(r.key) = r.cents
          }
          inserts.foreach(r => expectedCents.addAndGet(r.cents))
          expectedRows.addAndGet(inserts.size)
          committed()
        }
      }
    }
    val appender = loop("appender", 1) { rng =>
      if (injectPending) {
        injectPending = false
        rec.op("write", "injected")(_ => spark.sql(s"INSERT INTO graft.$Ns.no_such_table VALUES (1)"))
      }
      val rows = Vector.fill(InsertRows)(Row(appenderKeys.incrementAndGet(), price(rng)))
      rec.op("write", "insert") { op =>
        sql(op, insertSql(Table, rows))
        changedRows.put(op, InsertRows)
      }.foreach { _ =>
        rows.foreach(r => expectedCents.addAndGet(r.cents))
        expectedRows.addAndGet(rows.size)
        committed()
      }
    }
    val turns = Array.fill(Readers)(0)
    def reader(i: Int) = loop(s"reader$i", 2 + i) { rng =>
      turns(i) += 1
      if (turns(i) % 2 == 1) {
        val k = 1 + rng.nextInt(Stable)
        rec.op("read", "point") { op =>
          val got = sql(op, s"SELECT o_totalprice FROM graft.$Ns.$Table WHERE o_orderkey = $k")
            .collect().map(_.getDecimal(0).movePointRight(2).longValueExact).toSeq
          if (got != Seq(initial(k))) throw new Mismatch(s"o_orderkey=$k read $got, want ${initial(k)}")
        }
      } else {
        val a = 1 + rng.nextInt(Stable - RangeWidth)
        val b = a + RangeWidth - 1
        rec.op("read", "range") { op =>
          val r = sql(op, rangeSql(Table, a, b)).head()
          val want = (RangeWidth.toLong, stablePrefix(b + 1) - stablePrefix(a))
          val got = (r.getLong(0), r.getDecimal(1).movePointRight(2).longValueExact)
          if (got != want) throw new Mismatch(s"range [$a,$b] read $got, want $want")
        }
      }
    }
    val all = Seq(writer, appender) ++ (0 until Readers).map(reader)
    all.foreach(_.start())
    all.foreach(_.join())
  }

  def finalChecks(rec: Recorder): Unit =
    rec.op("check", "final_totals") { _ =>
      val r = spark.sql(s"SELECT count(*), sum(o_totalprice) FROM graft.$Ns.$Table").head()
      val got = (r.getLong(0), r.getDecimal(1).movePointRight(2).longValueExact)
      val want = (expectedRows.get, expectedCents.get)
      if (got != want) throw new Mismatch(s"final (rows, cents) $got, op log implies $want")
    }

  private def metaDir = ctx.work.resolve("warehouse").resolve(Ns).resolve(Table).resolve("metadata")

  /** Metadata directory bytes per snapshot at `MetaDepth` commits after
    * set-up (at the end of the run if it committed fewer). Per-snapshot
    * bytes grow with history, so the figure is taken at a fixed depth. */
  def metaBytesPerSnapshot: Double = metaAtDepth.getOrElse(
    Data.dirBytes(metaDir).toDouble / cat.snapshots(Ns, Table).size)

  def layerMetrics(traced: Vector[Sample], spans: Vector[Span]): Map[String, Double] = {
    val ids = traced.map(_.op).toSet
    val tasks = Layers.tasksByOp(ids)
    val changing = traced.filter(s => changedRows.containsKey(s.op))
    val outBytes = changing.flatMap(s => tasks.getOrElse(s.op, Nil)).map(_.outputBytes).sum
    val rows = changing.map(s => changedRows.get(s.op).toLong).sum
    val opt = traced.filter(_.kind == "optimize")
    val during = traced.filter(r => r.cls == "read" &&
      opt.exists(o => r.startUs < o.endUs && r.endUs > o.startUs)).map(_.ms)
    Map(
      "exec.output_bytes_per_changed_row" -> (if (rows > 0) outBytes.toDouble / rows else 0.0),
      "etl.optimize_ms" -> Stats.median(opt.map(_.ms)),
      "etl.optimize_bytes_rewritten" -> Stats.mean(opt.map(o =>
        tasks.getOrElse(o.op, Nil).map(_.outputBytes).sum.toDouble)),
      "etl.read_p95_during_optimize_ms" -> Stats.quantile(during, 0.95),
      "catalog.snapshots_added" -> traced.count(_.cls == "write").toDouble)
  }

  override def facts: Map[String, Any] = Map("orders" -> NOrders,
    "merge_rows" -> MergeRows, "insert_rows" -> InsertRows,
    "optimize_every" -> OptimizeEvery, "expected_rows" -> expectedRows.get,
    "meta_at_depth" -> metaAtDepth.isDefined,
    "expected_cents" -> expectedCents.get,
    "snapshots" -> cat.snapshots(Ns, Table).size)
}

object DmlMixed {
  val Ns = "dml"
  val Table = "orders"
  val NOrders = 150000L
  val MergeRows = 20
  val InsertRows = 5
  val OptimizeEvery = 4
  val Readers = 1
  val MetaDepth = 30
  /** Warm-up ops of the writer, the appender and the reader. */
  val WarmOps = Seq(6, 12, 16)
  val RangeWidth = 2000

  final case class Row(key: Long, cents: Long)

  private def values(rows: Seq[Row]): String = rows.map { r =>
    s"(${r.key}, ${r.key % 15000 + 1}, 'O', ${BigDecimal(r.cents, 2)}, DATE '1998-08-01', " +
      s"'3-MEDIUM', 'Clerk#000000001', 'graftbench')"
  }.mkString(", ")

  private def source(rows: Seq[Row]): String =
    s"""SELECT CAST(k AS BIGINT) AS o_orderkey, CAST(c AS BIGINT) AS o_custkey,
       | st AS o_orderstatus, CAST(p AS DECIMAL(15,2)) AS o_totalprice,
       | d AS o_orderdate, pr AS o_orderpriority, cl AS o_clerk, cm AS o_comment
       | FROM VALUES ${values(rows)} AS v(k, c, st, p, d, pr, cl, cm)""".stripMargin

  def mergeSql(t: String, rows: Seq[Row]): String =
    s"""MERGE INTO graft.$Ns.$t t USING (${source(rows)}) s
       | ON t.o_orderkey = s.o_orderkey
       | WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
       | WHEN NOT MATCHED THEN INSERT *""".stripMargin

  def insertSql(t: String, rows: Seq[Row]): String =
    s"INSERT INTO graft.$Ns.$t ${source(rows)}"

  def rangeSql(t: String, a: Int, b: Int): String =
    s"SELECT count(*), sum(o_totalprice) FROM graft.$Ns.$t WHERE o_orderkey BETWEEN $a AND $b"
}
