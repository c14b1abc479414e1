package graftbench

import java.sql.{Connection, DriverManager}

import scala.util.Random

import graft.catalog.GraftCatalog
import graft.sql.{GraftSql, ThriftServe}

/** `bi_thrift`: two JDBC clients, each holding one connection to the
  * in-JVM HiveServer2, run a BI mix against `graft.nyc.*` tables that
  * `importFolders` registered: in passes that run every statement once,
  * each pass in a seeded order. Every answer is checked against the same
  * SQL run in-process on the raw Parquet once at set-up. */
final class BiThrift(ctx: Ctx) extends Workload(ctx) {
  import BiThrift._

  private val raw = ctx.work.resolve("raw")
  private val cat = new GraftCatalog(ctx.warehouse)
  private val tables = Seq("customer", "lineitem", "orders")
  private var port = 0
  private var stmts: Vector[Stmt] = Vector.empty
  private var conns: Vector[Connection] = Vector.empty
  private var injectPending = ctx.injectFailure
  private var phase = 0
  private val connectMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

  // seeded inputs: one folder of Parquet per table
  Data.write(Data.orders(spark, ctx.seed, 1, NOrders, NCustomers, 4), raw.resolve("orders"))
  Data.write(Data.lineitem(spark, ctx.seed, NOrders, LinesPerOrder, 4), raw.resolve("lineitem"))
  Data.write(Data.customer(spark, ctx.seed, NCustomers, 1), raw.resolve("customer"))
  tables.foreach(t => spark.read.parquet(raw.resolve(t).toString).createOrReplaceTempView(s"raw_$t"))

  override def thrift: Boolean = true

  override def setupOnce(): Double = {
    val t0 = System.nanoTime()
    port = ThriftServe.ensureStarted(spark)
    (System.nanoTime() - t0) / 1e9
  }

  /** Import the three folders by metadata-only appends. Each repetition
    * imports hard links under new paths, as a fresh import of new files
    * would; the last one lands in the served warehouse. */
  def setupRep(rep: Int, last: Boolean): Double = {
    val src = ctx.work.resolve(s"import-$rep")
    tables.foreach(t => Data.linkTree(raw.resolve(t), src.resolve(t)))
    val c = if (last) cat else new GraftCatalog(ctx.work.resolve(s"warehouse-$rep").toString)
    val t0 = System.nanoTime()
    val imported = c.importFolders(spark, src.toString, "nyc")
    val s = (System.nanoTime() - t0) / 1e9
    require(imported.map(_.table).sorted == tables, s"import registered $imported")
    s
  }

  private def reference(sql: String): Vector[Vector[String]] =
    spark.sql(sql.replace("graft.nyc.", "raw_")).collect().toVector
      .map(r => r.toSeq.toVector.map(norm))

  private def equalTo(expected: Vector[Vector[String]]): Rows => Unit = rows => {
    val got = rows.map(_.map(norm))
    if (got != expected) throw new Mismatch(
      s"expected ${expected.take(3)} (${expected.size} rows), got ${got.take(3)} (${got.size} rows)")
  }

  private def buildStatements(): Vector[Stmt] = {
    val rng = new Random(ctx.seed)
    val agg = Seq("1997-01-01").map { d =>
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,
         | sum(l_extendedprice) AS price, avg(l_discount) AS disc
         | FROM graft.nyc.lineitem WHERE l_shipdate <= DATE '$d'
         | GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin
    }
    val join = Seq("1995-07-01").map { d =>
      s"""SELECT o.o_orderpriority, count(*) AS n, sum(l.l_extendedprice) AS revenue
         | FROM graft.nyc.orders o JOIN graft.nyc.lineitem l ON o.o_orderkey = l.l_orderkey
         | WHERE o.o_orderdate >= DATE '$d' AND o.o_orderdate < DATE '$d' + INTERVAL 3 MONTHS
         | GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin
    }
    val lookup = Seq.fill(3)(1L + rng.nextInt(NOrders.toInt)).map { k =>
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
         | FROM graft.nyc.orders WHERE o_orderkey = $k""".stripMargin
    }
    val topk = rng.shuffle(Data.Segments).take(2).map { seg =>
      s"""SELECT c_custkey, c_name, c_acctbal FROM graft.nyc.customer
         | WHERE c_mktsegment = '$seg' ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin
    }
    // reference answers, a few queries at a time
    def data(kind: String, qs: Seq[String]) = {
      val answers = new java.util.concurrent.ConcurrentHashMap[String, Vector[Vector[String]]]()
      val threads = qs.grouped(math.max(1, (qs.size + 2) / 3)).map(group => new Thread(() =>
        group.foreach(q => answers.put(q, reference(q))))).toVector
      threads.foreach(_.start())
      threads.foreach(_.join())
      qs.map(q => Stmt(kind, q, equalTo(answers.get(q))))
    }
    val show = Stmt("show_tables", "SHOW TABLES IN graft.nyc", rows => {
      val got = rows.map(r => norm(r(1))).sorted
      if (got != tables) throw new Mismatch(s"SHOW TABLES gave $got")
    })
    val describe = Seq("lineitem").map { t =>
      val names = spark.table(s"raw_$t").schema.fieldNames.toVector
      Stmt("describe", s"DESCRIBE graft.nyc.$t", rows => {
        val got = rows.take(names.size).map(r => norm(r(0)))
        if (got != names) throw new Mismatch(s"DESCRIBE $t gave $got")
      })
    }
    val snaps = Seq("lineitem").map { t =>
      val files = Data.parquetFiles(raw.resolve(t)).size
      val rows = spark.table(s"raw_$t").count()
      Stmt("snapshots", s"SELECT operation, added_data_files, added_rows FROM graft.nyc.$t.snapshots",
        equalTo(Vector(Vector("append", files.toString, rows.toString))))
    }
    (data("agg", agg) ++ data("join", join) ++ data("lookup", lookup) ++
      data("topk", topk) ++ Seq(show) ++ describe ++ snaps).toVector
  }

  private def connect(): Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    DriverManager.getConnection(ThriftServe.url(port), "anonymous", "")
  }

  /** Reference answers, the client connections, then `WarmPasses` passes
    * per client through the measured loop: the JIT keeps compiling Thrift
    * and Spark code for several seconds, and a single pass left the first
    * third of a run about 30% slower than the last. A pass takes about
    * 1.6 s. */
  def warmup(): Unit = {
    stmts = buildStatements()
    Main.log(s"${stmts.size} statements with reference answers")
    conns = Vector.fill(Clients)(connect())
    val warm = new Recorder
    clients(warm, Long.MaxValue, WarmPasses, measured = false)
    require(warm.failed == 0, s"warm-up failed: ${warm.failures}")
  }

  def measure(rec: Recorder, seconds: Double): Double = {
    phase += 1
    val t0 = System.nanoTime()
    clients(rec, t0 + (seconds * 1e9).toLong, Int.MaxValue, measured = true)
    (System.nanoTime() - t0) / 1e9
  }

  /** Run the clients until `deadline` (nanoTime) or until each has done
    * `passes` passes, whichever comes first. */
  private def clients(rec: Recorder, deadline: Long, passes: Int, measured: Boolean): Unit = {
    val threads = conns.indices.map { i =>
      new Thread(() => {
        if (measured && Trace.on) (0 until 5).foreach { _ =>
          val c0 = System.nanoTime()
          connect().close()
          connectMs.add((System.nanoTime() - c0) / 1e6)
        }
        val rng = new Random(ctx.seed * 1000 + phase * 10 + i)
        val conn = conns(i)
        var pass = Vector.empty[Stmt]
        var started = 0
        while (System.nanoTime() < deadline && (pass.nonEmpty || started < passes)) {
          if (measured && i == 0 && injectPending) {
            injectPending = false
            rec.op("read", "injected")(_ => query(conn, "SELECT * FROM graft.nyc.no_such_table"))
          }
          if (pass.isEmpty) { pass = rng.shuffle(stmts); started += 1 }
          val s = pass.head
          pass = pass.tail
          rec.op("read", s.kind) { op =>
            val text = if (Trace.on) s"/* ${Trace.tag(op)} */ ${GraftSql.rewrite(s.sql)}"
                       else GraftSql.rewrite(s.sql)
            s.check(query(conn, text))
          }
        }
      }, s"bi-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def finalChecks(rec: Recorder): Unit = {
    Main.log("final checks")
    rec.op("check", "one_snapshot_per_table") { _ =>
      tables.foreach { t =>
        val n = cat.snapshots("nyc", t).size
        if (n != 1) throw new Mismatch(s"nyc.$t has $n snapshots after a read-only run")
      }
    }
  }

  def metaBytesPerSnapshot: Double = {
    val bytes = tables.map(t => Data.dirBytes(ctx.work.resolve("warehouse")
      .resolve("nyc").resolve(t).resolve("metadata"))).sum
    bytes.toDouble / tables.map(t => cat.snapshots("nyc", t).size).sum
  }

  def layerMetrics(traced: Vector[Sample], spans: Vector[Span]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    Map("sql.connect_ms" -> Stats.median(connectMs.asScala.toSeq))
  }

  override def facts: Map[String, Any] = Map("port" -> port, "orders" -> NOrders,
    "lineitem" -> NOrders * LinesPerOrder, "customers" -> NCustomers,
    "statements" -> stmts.size)
}

object BiThrift {
  type Rows = Vector[Vector[Any]]
  /** One statement of the mix. The statements of one kind differ only in
    * a key or a segment, not in their work. */
  final case class Stmt(kind: String, sql: String, check: Rows => Unit)

  val Clients = 2
  val WarmPasses = 4
  val NOrders = 150000L
  val LinesPerOrder = 4
  val NCustomers = 15000L

  def query(c: Connection, sql: String): Rows = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val b = Vector.newBuilder[Vector[Any]]
      while (rs.next()) b += (1 to n).map(i => rs.getObject(i): Any).toVector
      b.result()
    } finally st.close()
  }

  /** One comparable text per value, the same for a JDBC object and the
    * in-process Row value it stands for. */
  def norm(v: Any): String = v match {
    case null => "null"
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.stripTrailingZeros.toPlainString
    case d: java.lang.Double => java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
    case n: java.lang.Number => n.longValue.toString
    case x => x.toString
  }
}
