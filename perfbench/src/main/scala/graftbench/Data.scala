package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DecimalType, LongType, StringType, StructField, StructType}

/** Seeded TPC-H-shaped inputs. Every value is a hash of (seed, column
  * salt, row id), so the same seed gives the same rows whatever the
  * partitioning. Money columns are DECIMAL(15,2), so sums are exact and
  * the output checks can compare totals without tolerance. Keys are dense:
  * `o_orderkey` runs 1..nOrders, `l_orderkey` has `linesPerOrder` lines
  * per order, `c_custkey` runs 1..nCustomers. */
object Data {
  val Money = DecimalType(15, 2)

  private def u(seed: Long, salt: Int, id: Column, m: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(m))
  /** Cents in [1, maxCents] as DECIMAL(15,2). */
  private def money(seed: Long, salt: Int, id: Column, maxCents: Long): Column =
    ((u(seed, salt, id, maxCents) + 1).cast(DecimalType(15, 0)) / lit(100)).cast(Money)
  private def day(seed: Long, salt: Int, id: Column, base: String, span: Int): Column =
    date_add(lit(base).cast("date"), u(seed, salt, id, span).cast("int"))
  private def pick(seed: Long, salt: Int, id: Column, vs: Seq[String]): Column =
    element_at(typedLit(vs), (u(seed, salt, id, vs.size) + 1).cast("int"))

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Words = Seq("quick", "final", "regular", "express", "pending",
    "ironic", "bold", "silent", "careful", "even", "special", "blithe")
  private def comment(seed: Long, salt: Int, id: Column): Column =
    concat_ws(" ", pick(seed, salt, id, Words), pick(seed, salt + 100, id, Words),
      pick(seed, salt + 200, id, Words))

  /** Orders with keys [first, first + n). */
  def orders(spark: SparkSession, seed: Long, first: Long, n: Long,
             nCustomers: Long, parts: Int): DataFrame = {
    val id = col("id")
    spark.range(first, first + n, 1, parts).select(
      id.as("o_orderkey"),
      (u(seed, 1, id, nCustomers) + 1).as("o_custkey"),
      pick(seed, 2, id, Seq("O", "F", "P")).as("o_orderstatus"),
      money(seed, 3, id, 50000000L).as("o_totalprice"),
      day(seed, 4, id, "1992-01-01", 2400).as("o_orderdate"),
      pick(seed, 5, id, Priorities).as("o_orderpriority"),
      concat(lit("Clerk#"), lpad((u(seed, 6, id, 1000) + 1).cast("string"), 9, "0"))
        .as("o_clerk"),
      comment(seed, 7, id).as("o_comment"))
  }

  def lineitem(spark: SparkSession, seed: Long, nOrders: Long, linesPerOrder: Int,
               parts: Int): DataFrame = {
    val id = col("id")
    spark.range(0, nOrders * linesPerOrder, 1, parts).select(
      (floor(id / linesPerOrder) + 1).cast("bigint").as("l_orderkey"),
      (pmod(id, lit(linesPerOrder.toLong)) + 1).cast("int").as("l_linenumber"),
      (u(seed, 11, id, 20000) + 1).as("l_partkey"),
      (u(seed, 12, id, 50) + 1).cast(Money).as("l_quantity"),
      money(seed, 13, id, 10000000L).as("l_extendedprice"),
      (u(seed, 14, id, 11).cast(DecimalType(15, 0)) / lit(100)).cast(Money).as("l_discount"),
      (u(seed, 15, id, 9).cast(DecimalType(15, 0)) / lit(100)).cast(Money).as("l_tax"),
      pick(seed, 16, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 17, id, Seq("F", "O")).as("l_linestatus"),
      day(seed, 18, id, "1992-01-02", 2500).as("l_shipdate"),
      pick(seed, 19, id, Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK")).as("l_shipmode"))
  }

  def customer(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    val id = col("id")
    spark.range(1, n + 1, 1, parts).select(
      id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      u(seed, 21, id, 25).cast("int").as("c_nationkey"),
      (money(seed, 22, id, 1100000L) - lit(1000)).cast(Money).as("c_acctbal"),
      pick(seed, 23, id, Segments).as("c_mktsegment"))
  }

  /** Write `df` as one folder of Parquet parts (one per partition). */
  def write(df: DataFrame, dir: Path): Path = {
    df.write.parquet(dir.toString)
    dir
  }

  /** Orders columns as small Parquet files written straight through the
    * Parquet writer (no Spark job): `dir/fNNNNN.parquet` holds o_orderkey
    * [i * rowsPerFile, (i + 1) * rowsPerFile), so key ranges are disjoint.
    * Values come from a per-file seeded generator. */
  val SmallOrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", Money, nullable = false),
    StructField("o_orderdate", DateType, nullable = false),
    StructField("o_orderpriority", StringType, nullable = false),
    StructField("o_comment", StringType, nullable = false)))

  def writeSmallOrders(seed: Long, files: Int, rowsPerFile: Int, dir: Path): Vector[Path] = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.io.LocalOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message orders {
        |  required int64 o_orderkey;
        |  required int64 o_custkey;
        |  required binary o_orderstatus (STRING);
        |  required int64 o_totalprice (DECIMAL(15,2));
        |  required int32 o_orderdate (DATE);
        |  required binary o_orderpriority (STRING);
        |  required binary o_comment (STRING);
        |}""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    val day0 = java.time.LocalDate.parse("1992-01-01").toEpochDay.toInt
    Files.createDirectories(dir)
    val paths = (0 until files).map(i => dir.resolve(f"f$i%05d.parquet")).toVector
    paths.zipWithIndex.par(4) { case (p, i) =>
      val rng = new scala.util.Random(seed * 1000003L + i)
      val w = ExampleParquetWriter.builder(new LocalOutputFile(p)).withType(schema)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try (0 until rowsPerFile).foreach { j =>
        w.write(groups.newGroup()
          .append("o_orderkey", i.toLong * rowsPerFile + j)
          .append("o_custkey", 1L + rng.nextInt(15000))
          .append("o_orderstatus", Seq("O", "F", "P")(rng.nextInt(3)))
          .append("o_totalprice", 1L + rng.nextInt(50000000))
          .append("o_orderdate", day0 + rng.nextInt(2400))
          .append("o_orderpriority", Priorities(rng.nextInt(Priorities.size)))
          .append("o_comment", Seq.fill(3)(Words(rng.nextInt(Words.size))).mkString(" ")))
      } finally w.close()
    }
    paths
  }

  private implicit class ParOps[A](xs: Vector[A]) {
    /** Run `f` over `xs` on `threads` threads. */
    def par(threads: Int)(f: A => Unit): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      try {
        val fs = xs.map(x => pool.submit(new Runnable { def run(): Unit = f(x) }))
        fs.foreach(_.get())
      } finally pool.shutdown()
    }
  }

  def parquetFiles(dir: Path): Vector[Path] = {
    val s = Files.list(dir)
    try s.toArray.toVector.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    finally s.close()
  }

  /** Hard-link every Parquet file of `src` into `dst`: new paths (so the
    * catalog's footer caches, keyed by real path, miss as they would on
    * new files) without copying bytes. */
  def linkTree(src: Path, dst: Path): Vector[Path] = {
    Files.createDirectories(dst)
    parquetFiles(src).map(f => Files.createLink(dst.resolve(f.getFileName), f))
  }

  def dirBytes(dir: Path): Long = {
    val s = Files.walk(dir)
    try s.toArray.toVector.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.toArray.toVector.map(_.asInstanceOf[Path]).reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}
