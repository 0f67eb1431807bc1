package graft

import java.nio.file.Files

import graft.pointcloud.connector.{LazPartition, PackedPartition}
import graft.pointcloud.syntax._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Selective LAZ decode: a LAS 1.4 LAZ or COPC scan entropy-decodes only
  * the layers holding its read and predicate columns, on decoders shared
  * by a task's splits. Every read here must equal its LAS twin written
  * from the same frame (values, fid and pid), whatever subset of the
  * chunk's layers it decodes. */
class SelectiveDecodeSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** Format-6 points from two interleaved scanner channels, with every
    * field moving: returns, class flags, user data, scan angle, point
    * source runs and GPS time with repeats and jumps. */
  private def fmt6Points(n: Int): DataFrame =
    spark.range(0, n, 1, 2).select(
      ((col("id") * 13) % 2000 + floor(col("id") / 500) * 100000).cast("int").as("x"),
      ((col("id") * 7) % 300 + (col("id") % 2) * 50000).cast("int").as("y"),
      ((col("id") * 31) % 97 - 40 + (col("id") % 2) * 300).cast("int").as("z"),
      ((col("id") * 17) % 4096).cast("short").as("intensity"),
      when((col("id") % 9 + 1) * 17 > 127, (col("id") % 9 + 1) * 17 - 256)
        .otherwise((col("id") % 9 + 1) * 17).cast("byte").as("return"),
      ((col("id") % 2) * 16 + floor(col("id") / 3) % 4 + (floor(col("id") / 11) % 2) * 64)
        .cast("byte").as("flags"),
      ((col("id") * 5) % 19).cast("byte").as("classification"),
      (floor(col("id") / 4) % 7).cast("byte").as("user"),
      ((col("id") % 300) - 150).cast("short").as("angle"),
      (floor(col("id") / 50) % 5).cast("short").as("source"),
      (floor(col("id") / 3) * 0.0005 + floor(col("id") / 2500) * 1.0e4 +
        (col("id") % 2) * 7.0).as("time"))

  /** `fmt6Points` with RGB (format 7), plus NIR (format 8), and
    * ExtraBytes columns in both. */
  private def withRgb(df: DataFrame, nir: Boolean): DataFrame = {
    val rgb = df
      .withColumn("red", (col("x") % 1000).cast("short"))
      .withColumn("green", (col("y") % 700).cast("short"))
      .withColumn("blue", (col("z") % 500).cast("short"))
    (if (nir) rgb.withColumn("nir", (col("x") % 2048).cast("short")) else rgb)
      .withColumn("reflectance", (col("intensity") % 128).cast("short"))
      .withColumn("ring", (col("y") % 64).cast("byte"))
  }

  /** The column sets of the benchmark's `lidar_scan` reads, with their
    * filters (LAZ keeps them residual, so they join the read schema). */
  private val querySets: Seq[(String, Seq[String], Column)] = Seq(
    ("narrow", Seq("x"), lit(true)),
    ("wide", Seq("classification", "x", "y", "z", "intensity", "time"), lit(true)),
    ("pred", Seq("intensity"), col("classification") === 6 && col("z") > 0),
    ("copc_bbox", Seq("x", "y", "z"), col("x").between(500, 150000) && col("y") >= 100),
    ("copc_time", Seq("intensity"), col("time").between(5.0, 10005.0)),
    ("union_all", Seq("x", "z", "classification", "time"), lit(true)))

  private def rows(df: DataFrame, cols: Seq[String], where: Column): Seq[String] =
    df.where(where).select((cols ++ Seq("fid", "pid")).map(col): _*)
      .collect().map(_.mkString("|")).toSeq.sorted

  /** Every single column and every query set read from `laz` equals the
    * same read from `twin`. */
  private def assertTwins(tag: String, laz: DataFrame, twin: DataFrame): Unit = {
    val singles = laz.columns.filterNot(c => c == "fid" || c == "pid")
      .map(c => (c, Seq(c), lit(true)))
    (singles.toSeq ++ querySets).foreach { case (name, cols, where) =>
      val got = rows(laz, cols, where)
      assert(got.nonEmpty, s"$tag/$name selects no rows")
      assert(got == rows(twin, cols, where), s"$tag/$name differs from its twin")
    }
  }

  /** `df` written as LAZ and as its LAS 1.4 twin: (LAZ dir, LAS dir). */
  private def lasAndLaz(tag: String, df: DataFrame,
      lazOpts: Map[String, String]): (String, String) = {
    val lasDir = tmpDir(s"$tag-las")
    val lazDir = tmpDir(s"$tag-laz")
    df.writeLas(lasDir, Map("minor" -> "4"))
    df.writeLaz(lazDir, lazOpts)
    (lazDir, lasDir)
  }

  test("LAZ format 6 with two scanner channels: every column set equals the LAS twin") {
    val (lazDir, lasDir) = lasAndLaz("sel6", fmt6Points(12000), Map("laz.chunkSize" -> "2500"))
    val laz = spark.read.las(lazDir)
    assert(laz.select(((col("flags") / 16).cast("int") % 4).as("ch")).distinct().count() == 2)
    assertTwins("format 6", laz, spark.read.las(lasDir))
  }

  test("LAZ formats 7 and 8 with ExtraBytes: every column set equals the LAS twin") {
    for ((nir, fmt) <- Seq((false, 7), (true, 8))) {
      val (lazDir, lasDir) = lasAndLaz(s"sel$fmt", withRgb(fmt6Points(6000), nir),
        Map("laz.chunkSize" -> "1700"))
      val laz = spark.read.las(lazDir)
      assert(laz.columns.contains("reflectance") && laz.columns.contains("ring"))
      assertTwins(s"format $fmt", laz, spark.read.las(lasDir))
    }
  }

  test("COPC: every column set equals the full decode, whose values equal the LAS twin") {
    val pts = fmt6Points(12000)
    val lasDir = tmpDir("selcopc-las")
    val copcDir = tmpDir("selcopc")
    pts.writeLas(lasDir, Map("minor" -> "4"))
    pts.writeCopc(copcDir, Map("copc.nodepoints" -> "1500"))
    val copc = spark.read.las(copcDir)
    // writeCopc reorders points (octree sort), so fid/pid are pinned
    // against the all-layer decode of the same files
    val all = copc.columns.filterNot(c => c == "fid" || c == "pid").sorted
    val full = copc.select((all ++ Seq("fid", "pid")).map(col): _*).collect()
    val fullDf = spark.createDataFrame(spark.sparkContext.parallelize(full.toSeq),
      copc.select((all ++ Seq("fid", "pid")).map(col): _*).schema)
    def values(df: DataFrame) = df.select(all.map(col): _*).collect()
      .map(_.mkString("|")).toSeq.sorted
    assert(values(fullDf) == values(spark.read.las(lasDir)))
    assertTwins("copc", copc, fullDf)
  }

  test("a streamed .laz honors a bbox on columns it does not select") {
    // the bbox option becomes the readers' predicate; with only intensity
    // and pid selected, the predicate alone needs the x/y/z layers
    val pts = fmt6Points(9000).coalesce(1)
    val lasDir = tmpDir("selstream-las")
    val dir = tmpDir("selstream")
    val out = tmpDir("selstream-out")
    pts.writeLas(lasDir, Map("minor" -> "4"))
    pts.writeLaz(dir, Map("laz.chunkSize" -> "2000"))
    val q = spark.readStream
      .schema(spark.read.las(dir).schema)
      .format("las").option("bbox", "*,*,*,*,-20,250")
      .load(dir)
      .select($"intensity", $"pid")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tmpDir("selstream-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    def sorted(df: DataFrame) = df.select($"intensity", $"pid").collect()
      .map(_.mkString("|")).toSeq.sorted
    val want = sorted(spark.read.las(lasDir).where($"z".between(-20, 250)))
    assert(want.nonEmpty && want.length < 9000, "the box must cut on z")
    assert(sorted(spark.read.parquet(out)) == want)
  }

  test("bbox and timerange reads decode the layers of their unselected columns") {
    // the options become the readers' predicate, which is all that needs
    // the z and gps layers here: the selected columns need only xy and
    // intensity
    val (lazDir, lasDir) = lasAndLaz("selopt", fmt6Points(8000), Map("laz.chunkSize" -> "1500"))
    val las = spark.read.las(lasDir)
    def sorted(df: DataFrame) = df.collect().map(_.mkString("|")).toSeq.sorted
    for ((opt, value, where, layers) <- Seq(
        ("timerange", "3.0,10004.0", $"time".between(3.0, 10004.0), "[xy,gps]"),
        ("bbox", "*,*,*,*,-20,250", $"z".between(-20, 250), "[xy,z]"))) {
      val read = spark.read.format("las").option(opt, value).load(lazDir)
        .select($"x", $"fid", $"pid")
      val want = sorted(las.where(where).select($"x", $"fid", $"pid"))
      assert(want.nonEmpty && want.length < 8000, s"$opt must cut")
      assert(sorted(read) == want, opt)
      val intensity = spark.read.format("las").option(opt, value).load(lazDir)
        .select($"intensity", $"pid")
      assert(sorted(intensity) == sorted(las.where(where).select($"intensity", $"pid")), opt)
      assert(read.queryExecution.executedPlan.toString.contains(s"LazLayers: $layers"), opt)
    }
  }

  test("one packed task mixing LAZ format 1 and COPC format 6 splits reads both exactly") {
    val p10 = fmt6Points(6000).select($"x", $"y", $"z", $"intensity",
      lit(9).cast("byte").as("flags"), $"classification", lit(0).cast("byte").as("angle"),
      $"user", $"source", $"time")
    val lazDir = tmpDir("selmix-laz")
    val lasDir = tmpDir("selmix-las")
    val copcDir = tmpDir("selmix-copc")
    p10.writeLaz(lazDir, Map("laz.chunkSize" -> "1000"))
    p10.writeLas(lasDir)
    fmt6Points(6000).writeCopc(copcDir, Map("copc.nodepoints" -> "1000"))
    val prev = spark.conf.getOption("spark.sql.files.minPartitionNum")
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try {
      val cols = Seq("x", "z", "classification", "time")
      val mixed = spark.read.format("las").load(lazDir, copcDir).select(cols.map(col): _*)
      val tasks = plannedTasks(mixed)
      assert(tasks.exists {
        case PackedPartition(splits) =>
          splits.collect { case l: LazPartition => l.format }.distinct.sorted.toSeq == Seq(1, 6)
        case _ => false
      }, "no task packs both a format-1 and a format-6 split")
      val plan = mixed.queryExecution.executedPlan.toString
      assert(plan.contains("LazLayers: [xy,z,classification,gps,pointwise]"), plan)
      // both reader contracts: the row contract reads the rows of the
      // columnar reader's batches, over the same packed tasks and
      // task-shared decoders
      val factory = mixed.queryExecution.executedPlan
        .collect { case b: BatchScanExec => b.readerFactory }.head
      def sums(read: PackedPartition => Iterator[(Long, Long)]): (Long, Long) =
        tasks.collect { case p: PackedPartition => p }.flatMap(read)
          .foldLeft((0L, 0L)) { case ((n, s), (m, t)) => (n + m, s + t) }
      val byRows = sums { p =>
        val r = factory.createReader(p)
        Iterator.continually(r.next()).takeWhile(identity).map(_ => (1L, r.get().getInt(1).toLong))
          .toVector.iterator
      }
      val byBatches = sums { p =>
        val r = factory.createColumnarReader(p)
        Iterator.continually(r.next()).takeWhile(identity).map { _ =>
          val b = r.get()
          (b.numRows.toLong, (0 until b.numRows).map(b.column(1).getInt(_).toLong).sum)
        }.toVector.iterator
      }
      val twin = spark.read.format("las").load(lasDir, copcDir)
      val want = twin.agg(count(lit(1)), sum($"z".cast("long"))).head()
      assert(byRows == ((want.getLong(0), want.getLong(1))))
      assert(byBatches == byRows)
      def keyed(df: DataFrame) = df.select((cols ++ Seq("fid", "pid")).map(col): _*)
        .collect().map(_.mkString("|")).toSeq.sorted
      // the LAZ files are twins of the LAS ones, listed first
      assert(keyed(spark.read.format("las").load(lazDir, copcDir)) ==
        keyed(spark.read.format("las").load(lasDir, copcDir)))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.files.minPartitionNum", v)
      case None => spark.conf.unset("spark.sql.files.minPartitionNum")
    }
  }

  test("explain names the decoded layers: select x over COPC is [xy], a time filter adds gps") {
    val copcDir = tmpDir("selexplain")
    fmt6Points(3000).writeCopc(copcDir, Map("copc.nodepoints" -> "1000"))
    def scanLine(df: DataFrame): String =
      df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
        .linesIterator.find(_.contains("graft las scan")).getOrElse("")
    val copc = spark.read.las(copcDir)
    assert(scanLine(copc.select($"x")).contains("LazLayers: [xy]"))
    assert(scanLine(copc.where($"time" > 1.0).select($"x")).contains("LazLayers: [xy,gps]"))
    assert(scanLine(copc).contains(
      "LazLayers: [xy,z,classification,flags,intensity,angle,user,source,gps]"))
    // an uncompressed scan decodes no layers and says nothing about them
    val lasDir = tmpDir("selexplain-las")
    fmt6Points(1000).writeLas(lasDir, Map("minor" -> "4"))
    val line = scanLine(spark.read.las(lasDir).select($"x"))
    assert(line.nonEmpty && !line.contains("LazLayers"))
  }
}
