package graftbench

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.sources.EqualTo

import graft.catalog.GraftCatalog

/** `ingest_commit`: one writer registers pre-written Parquet files through
  * `GraftCatalog.registerFiles`, `FilesPerCommit` per commit, growing one
  * table from 0 to `Commits` snapshots (one cycle); after each commit the
  * same thread plans one point read (`loadTable` + `prunedFiles`). Cycles
  * repeat on fresh tables while the measured time allows, and a cycle
  * always completes, so every run sees the same history depths whatever
  * the catalog's speed. Only the catalog works here: no Spark job
  * is launched. */
final class IngestCommit(ctx: Ctx) extends Workload(ctx) {
  import IngestCommit._

  private val cat = new GraftCatalog(ctx.warehouse)
  private val pool = ctx.work.resolve("pool")
  // the pool: Commits * FilesPerCommit files; file i holds o_orderkey
  // [i * RowsPerFile, (i + 1) * RowsPerFile), so key ranges are disjoint
  Data.writeSmallOrders(ctx.seed, PoolFiles, RowsPerFile, pool)
  private val schema = Data.SmallOrdersSchema

  private var cycle = 0
  private var lastFull: (Long, Long) = (0L, 0L) // metadata dir bytes, newest vN.json bytes
  private val commitIndex = new ConcurrentHashMap[Long, Int]()
  private val planCounts = new ConcurrentHashMap[Long, (Int, Int)]()
  private var registered = 0
  private var injectPending = ctx.injectFailure

  def setupRep(rep: Int, last: Boolean): Double = {
    val t0 = System.nanoTime()
    cat.createTable(Ns, s"setup$rep", schema)
    (System.nanoTime() - t0) / 1e9
  }

  /** One cycle: fresh table, `n` commits each followed by a planning read,
    * then the cycle's output checks. Returns the loop's wall time in s. */
  private def runCycle(rec: Recorder, n: Int): Double = {
    cycle += 1
    val t = s"t$cycle"
    val dir = ctx.work.resolve(s"cycle-$cycle")
    val files = Data.linkTree(pool, dir)
    cat.createTable(Ns, t, schema)
    val rng = new Random(ctx.seed * 7919 + cycle)
    val order = rng.shuffle((0 until Commits).toVector).take(n)
    val committed = scala.collection.mutable.ArrayBuffer.empty[Int]
    val t0 = System.nanoTime()
    if (injectPending && n == Commits) {
      injectPending = false
      rec.op("write", "injected")(_ =>
        cat.registerFiles(Ns, t, Seq(dir.resolve("no-such-file.parquet"))))
    }
    order.zipWithIndex.foreach { case (g, i) =>
      val batch = files.slice(g * FilesPerCommit, (g + 1) * FilesPerCommit)
      rec.op("write", "register") { op =>
        commitIndex.put(op, i)
        Trace.span("catalog.register")(cat.registerFiles(Ns, t, batch))
      }.foreach { _ => committed += g; if (Trace.on) registered += 1 }
      if (committed.nonEmpty) {
        val fileIdx = committed(rng.nextInt(committed.size)) * FilesPerCommit +
          rng.nextInt(FilesPerCommit)
        val key = fileIdx.toLong * RowsPerFile + rng.nextInt(RowsPerFile)
        val want = files(fileIdx).getFileName.toString
        rec.op("read", "plan") { op =>
          commitIndex.put(op, i)
          val meta = Trace.span("catalog.load")(cat.loadTable(Ns, t))
          val kept = Trace.span("catalog.plan")(
            cat.prunedFiles(Ns, t, Seq(EqualTo("o_orderkey", key))))
          if (!kept.exists(_.path.endsWith("/" + want)))
            throw new Mismatch(s"prunedFiles dropped $want holding o_orderkey=$key")
          planCounts.put(op, (meta.filesAsOf(None).size, kept.size))
        }
      }
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    rec.op("check", "cycle_totals") { _ =>
      val live = cat.loadTable(Ns, t).filesAsOf(None)
      val wantFiles = committed.size * FilesPerCommit
      val wantRows = wantFiles.toLong * RowsPerFile
      if (live.size != wantFiles || live.map(_.rowCount).sum != wantRows)
        throw new Mismatch(s"$t holds ${live.size} files / ${live.map(_.rowCount).sum} rows, " +
          s"registered $wantFiles / $wantRows")
    }
    val md = ctx.work.resolve("warehouse").resolve(Ns).resolve(t).resolve("metadata")
    if (n == Commits) {
      val newest = Files.list(md).iterator().asScala.toVector
        .filter(_.getFileName.toString.matches("v\\d+\\.json")).map(Files.size).max
      lastFull = (Data.dirBytes(md), newest)
    }
    cat.dropTable(Ns, t)
    Data.deleteTree(dir)
    loopS
  }

  def warmup(): Unit = runCycle(new Recorder, WarmupCommits)

  /** Whole cycles only: at least one, and another only while the time
    * left is at least half the last cycle's. */
  def measure(rec: Recorder, seconds: Double): Double = {
    var elapsed = 0.0
    var last = 0.0
    while (elapsed == 0.0 || seconds - elapsed >= last / 2) {
      last = runCycle(rec, Commits)
      elapsed += last
    }
    elapsed
  }

  def finalChecks(rec: Recorder): Unit =
    rec.op("check", "full_cycle_measured") { _ =>
      if (lastFull._1 <= 0) throw new Mismatch("no complete cycle was measured")
    }

  def metaBytesPerSnapshot: Double = lastFull._1.toDouble / Commits

  def layerMetrics(traced: Vector[Sample], spans: Vector[Span]): Map[String, Double] = {
    def times(name: String, keep: Int => Boolean): Seq[Double] =
      spans.filter(s => s.name == name && keep(commitIndex.getOrDefault(s.op, -1)))
        .map(_.us / 1000.0)
    val first: Int => Boolean = i => i >= 0 && i < 50
    val last: Int => Boolean = i => i >= Commits - 50
    val all: Int => Boolean = _ => true
    val counts = traced.filter(_.kind == "plan").flatMap(s => Option(planCounts.get(s.op)))
    val considered = counts.map(_._1.toDouble)
    val kept = counts.map(_._2.toDouble)
    Seq("register", "load", "plan").flatMap { c =>
      Seq(s"catalog.${c}_ms" -> Stats.median(times(s"catalog.$c", all)),
        s"catalog.${c}_ms.first50" -> Stats.median(times(s"catalog.$c", first)),
        s"catalog.${c}_ms.last50" -> Stats.median(times(s"catalog.$c", last)))
    }.toMap ++ Map(
      "catalog.plan_files_considered" -> Stats.mean(considered),
      "catalog.plan_files_kept" -> Stats.mean(kept),
      "catalog.plan_kept_ratio" -> (if (considered.sum > 0) kept.sum / considered.sum else 0.0),
      "catalog.meta_bytes_per_commit" -> lastFull._2.toDouble,
      "catalog.meta_dir_bytes" -> lastFull._1.toDouble,
      "catalog.snapshots_added" -> registered.toDouble)
  }

  override def facts: Map[String, Any] = Map("commits_per_cycle" -> Commits,
    "files_per_commit" -> FilesPerCommit, "rows_per_file" -> RowsPerFile,
    "cycles" -> cycle, "last_full_meta_dir_bytes" -> lastFull._1,
    "last_full_newest_version_bytes" -> lastFull._2)
}

object IngestCommit {
  val Ns = "ingest"
  val Commits = 100
  val FilesPerCommit = 10
  val RowsPerFile = 100
  val PoolFiles: Int = Commits * FilesPerCommit
  val WarmupCommits = 20

}
