package graft

import java.nio.file.Files

import graft.pointcloud.connector.{PackedPartition, PointCloudScan}
import graft.pointcloud.syntax._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In}

/** Split packing on the `local[4]` session: small splits read as one task
  * per core, with every split's rows, fid and pid exactly as unpacked. */
class PackingSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** Format-0 LAS points whose x is the generating id. */
  private def points(from: Long, until: Long, tasks: Int): DataFrame =
    spark.range(from, until, 1, tasks).select(
      col("id").cast("int").as("x"), (col("id") * 7 % 1000).cast("int").as("y"),
      (col("id") % 100).cast("int").as("z"), (col("id") % 4000).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), (col("id") % 32).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))

  /** Format-6 points (the layout LAS 1.4, LAZ POINT14 and COPC share). */
  private def points14(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 1).select(
      col("id").cast("int").as("x"), (col("id") * 7 % 900).cast("int").as("y"),
      (col("id") % 60).cast("int").as("z"), (col("id") % 4096).cast("short").as("intensity"),
      lit(17).cast("byte").as("return"), lit(0).cast("byte").as("flags"),
      (col("id") % 64).cast("byte").as("classification"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("angle"), lit(0).cast("short").as("source"),
      (col("id").cast("double") * 0.25).as("time"))

  /** 20 tiles of 500 points; tile t holds x in [500 t, 500 t + 500). */
  private lazy val tiles: String = {
    val dir = tmpDir("pack-tiles")
    points(0, 10000, 20).writeLas(dir)
    dir
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def scanOf(df: DataFrame): PointCloudScan =
    df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
      .head.scan.asInstanceOf[PointCloudScan]

  test("20 small LAS tiles plan 4 tasks; rows, fid and pid keep their order") {
    val df = spark.read.las(tiles)
    val tasks = plannedTasks(df)
    assert(tasks.size == 4, tasks)
    assert(tasks.forall(_.asInstanceOf[PackedPartition].splits.length == 5))
    assert(df.rdd.getNumPartitions == 4)
    val got = df.select("fid", "pid", "x").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
    // fid follows the sorted file listing, which follows the written tiles
    assert(got == (0 until 10000).map(i => (i / 500, (i % 500).toLong, i)))
    assert(scanOf(df).description().contains("20 split(s) in 4 task(s)"),
      scanOf(df).description())
  }

  test("a mixed LAS + LAZ + COPC packed task reads exactly, columnar and row paths") {
    val las = tmpDir("pack-las"); points14(0, 3000).writeLas(las, Map("minor" -> "4"))
    val laz = tmpDir("pack-laz"); points14(3000, 6000).writeLaz(laz, Map("minor" -> "4"))
    val copc = tmpDir("pack-copc"); points14(6000, 9000).writeCopc(copc)
    val cols = Seq("fid", "pid", "x", "z", "intensity", "time")
    def rows(df: DataFrame): Seq[Row] = df.select(cols.map(col): _*).collect().toSeq
    // each file read alone, its fid renumbered to its place in the union
    val want = Seq(las, laz, copc).zipWithIndex.flatMap { case (d, fid) =>
      rows(spark.read.las(d).withColumn("fid", lit(fid)))
    }
    withConf("spark.sql.files.minPartitionNum" -> "1") {
      val df = spark.read.las(las, laz, copc).select(cols.map(col): _*)
      val tasks = plannedTasks(df)
      assert(tasks.size == 1, tasks)
      assert(plannedSplits(df).map(_.getClass.getSimpleName).distinct.sorted ==
        Seq("BinaryPartition", "LazPartition"))
      assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(rows(df) == want)
      // the row contract: the same task's batches, row by row, through createReader
      val scan = scanOf(df)
      val factory = scan.createReaderFactory()
      val schema = scan.readSchema()
      val viaRows = scan.planInputPartitions().toSeq.flatMap { p =>
        val r = factory.createReader(p)
        val out = Seq.newBuilder[Row]
        try while (r.next()) out += Row.fromSeq(r.get().toSeq(schema))
        finally r.close()
        out.result()
      }
      assert(viaRows == want)
    }
  }

  test("pushed record filter, pushed limit and runtime fid filter hold over packed tasks") {
    val all = spark.read.las(tiles)
    // record filter: pushed (no residual Filter), exact, still packed
    val filtered = all.filter($"x" >= 1234 && $"intensity" < 3000)
    assert(filtered.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty)
    assert(plannedTasks(filtered).size == 4)
    assert(filtered.count() == (1234 until 10000).count(_ % 4000 < 3000))
    // limit: the leading splits covering 700 records, packed into one task
    withConf("spark.sql.files.minPartitionNum" -> "1") {
      val limited = spark.read.las(tiles).limit(700)
      assert(plannedTasks(limited).size == 1)
      assert(plannedSplits(limited).size == 2)
      assert(limited.select("x").as[Int].collect().sorted.toSeq == (0 until 700))
    }
    // runtime fid filter: only the named tiles' splits stay planned
    val scan = scanOf(all)
    scan.filter(Array[Filter](In("fid", Array(3, 17))))
    val splits = scan.planInputPartitions().toSeq.flatMap(_.asInstanceOf[PackedPartition].splits)
    assert(splits.map(_.asInstanceOf[graft.pointcloud.connector.BinaryPartition].fid) == Seq(3, 17))
    val manifest = Seq(3, 17).toDF("f")
    val joined = spark.read.las(tiles).join(broadcast(manifest), $"fid" === $"f")
    assert(joined.agg(count(lit(1)), sum($"x")).head() ==
      Row(1000L, (1500L until 2000L).sum + (8500L until 9000L).sum))
  }

  test("4 uneven small files still plan 4 tasks (the partition floor)") {
    // Spark's rule alone packs the two small leading files into one task
    val dirs = Seq(100, 300, 2000, 5000).zipWithIndex.map { case (n, i) =>
      val d = tmpDir(s"pack-uneven$i")
      points(0, n, 1).writeLas(d)
      d
    }
    val df = spark.read.las(dirs: _*)
    assert(plannedTasks(df).size == 4)
    assert(df.count() == 7400)
  }

  test("a micro-batch over many small files packs the same way") {
    val ckpt = tmpDir("pack-ckpt")
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[(Int, Long, Int)])]
    val record: (DataFrame, Long) => Unit = (df, _) => {
      val got = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
      batches.synchronized { batches += ((df.rdd.getNumPartitions, got)) }
    }
    val q = spark.readStream.format("las").load(tiles).select("fid", "pid", "x")
      .writeStream.option("checkpointLocation", ckpt).foreachBatch(record).start()
    try q.processAllAvailable() finally q.stop()
    val (tasks, got) = batches.filter(_._2.nonEmpty).head
    assert(tasks == 4)
    assert(got == (0 until 10000).map(i => (i / 500, (i % 500).toLong, i)))
  }
}
