package graft

import java.nio.file.Files

import graft.pointcloud.SchemaMerge
import graft.pointcloud.syntax._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end round-trip + pushdown tests for the LAS/PLY/XYZ connectors. */
class PointCloudSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  private def samplePoints = {
    val n = 10000
    spark.range(n).select(
      (col("id") * 3 % 1000).cast("int").as("x"),
      (col("id") * 7 % 1000).cast("int").as("y"),
      (col("id") % 100).cast("int").as("z"),
      (col("id") % 32767).cast("short").as("intensity"),
      (col("id") % 7 + 1).cast("byte").as("flags"),
      (col("id") % 256 - 128).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"),
      lit(0).cast("byte").as("user"),
      (col("id") % 100).cast("short").as("source"))
  }

  test("PLY round trip: write per-task files, read back identical") {
    val dir = tmpDir("ply")
    val df = samplePoints
    df.writePly(dir)
    val back = spark.read.ply(dir)
    assert(back.columns.take(2).toSeq == Seq("fid", "pid"))
    assert(back.count() == 10000)
    val a = df.select("x", "y", "z", "intensity").orderBy("x", "y", "z", "intensity")
      .collect().toSeq
    val b = back.select("x", "y", "z", "intensity").orderBy("x", "y", "z", "intensity")
      .collect().toSeq
    assert(a == b)
  }

  test("PLY merge mode produces a single file") {
    val dir = tmpDir("plymerge")
    samplePoints.writePly(dir, Map("merge" -> "true"))
    val files = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".ply"))
    assert(files.toSeq == Seq("points.ply"))
    assert(spark.read.ply(dir).count() == 10000)
  }

  test("PLY big-endian round trip") {
    val dir = tmpDir("plybe")
    samplePoints.writePly(dir, Map("bigEndian" -> "true"))
    // the option must actually reach the writer: header declares big-endian
    val ply = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".ply")).head
    val head = new String(java.nio.file.Files.readAllBytes(ply.toPath).take(200),
      java.nio.charset.StandardCharsets.US_ASCII)
    assert(head.contains("format binary_big_endian"), head)
    val back = spark.read.ply(dir)
    assert(back.agg(sum("x")).as[Long].head() ==
      samplePoints.agg(sum("x")).as[Long].head())
  }

  test("LAS round trip with header stats and count/min/max pushdown") {
    val dir = tmpDir("las")
    val df = samplePoints
    df.writeLas(dir, Map("scale" -> "0.01", "offset" -> "100"))
    val back = spark.read.las(dir)

    // count + min/max answered from headers: plan is the header-agg scan
    val agg = back.agg(count(lit(1)).as("n"), min("x").as("mnx"), max("x").as("mxx"),
      min("z").as("mnz"), max("z").as("mxz"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("header-aggregate"), plan)
    val row = agg.collect().head
    assert(row.getLong(0) == 10000)
    assert(row.getInt(1) == 0 && row.getInt(2) == 999)
    assert(row.getInt(3) == 0 && row.getInt(4) == 99)

    // full data equality on a sample of columns
    val a = df.select("x", "intensity", "flags").orderBy("x", "intensity", "flags").collect().toSeq
    val b = back.select("x", "intensity", "flags").orderBy("x", "intensity", "flags").collect().toSeq
    assert(a == b)
  }

  test("LAS pushdown does not fire under a filter") {
    val dir = tmpDir("lasfilter")
    samplePoints.writeLas(dir)
    val back = spark.read.las(dir)
    val agg = back.filter($"x" > 500).agg(min("x"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("header-aggregate"), plan)
    assert(agg.collect().head.getInt(0) == 501)
  }

  test("LAS format inference picks format 1 when time is present") {
    val dir = tmpDir("lasfmt1")
    val df = samplePoints.withColumn("time", (col("x") * 0.5).cast("double"))
    df.writeLas(dir)
    val back = spark.read.las(dir)
    assert(back.schema("time").dataType == DoubleType)
    assert(back.agg(sum($"time")).as[Double].head() ==
      df.agg(sum($"time")).as[Double].head())
  }

  test("LAS extra-bytes columns survive a round trip") {
    val dir = tmpDir("lasextra")
    val df = samplePoints.withColumn("reflectance", (col("x") % 50).cast("float"))
    df.writeLas(dir)
    val back = spark.read.las(dir)
    assert(back.schema.fieldNames.contains("reflectance"))
    assert(back.schema("reflectance").dataType == FloatType)
    assert(back.agg(sum($"reflectance")).as[Double].head() ==
      df.agg(sum($"reflectance")).as[Double].head())
  }

  test("LAS extra-bytes nodata sentinel decodes to null (pc13 path)") {
    val dir = tmpDir("lasnodata")
    val sentinel = -9999.0
    val md = new MetadataBuilder().putDouble("nodata", sentinel).build()
    // TWO extra columns: the multi-struct VLR layout (a single-struct
    // write can't catch a wrong per-struct offset — round 9 did)
    val df = samplePoints.select(col("*"),
      when($"z" % 4 === 0, lit(sentinel))
        .otherwise($"y".cast("double")).as("gps_residual", md),
      ($"z" % 7).cast("int").as("cycle"))
    df.writeLas(dir)
    val back = spark.read.las(dir)
    val f = back.schema("gps_residual")
    // the VLR round-trips the sentinel: nullable + nodata metadata survive
    assert(f.nullable && f.metadata.getDouble("nodata") == sentinel)
    // and the second struct's field survives with its own name and type
    assert(back.schema("cycle").dataType == IntegerType)
    assert(back.agg(sum($"cycle".cast("bigint"))).as[Long].head() ==
      df.agg(sum($"cycle".cast("bigint"))).as[Long].head())
    val expected = df.filter($"z" % 4 === 0).count()
    assert(expected > 0)
    assert(back.filter($"gps_residual".isNull).count() == expected)
    // non-sentinel values are untouched
    assert(back.agg(sum($"gps_residual")).as[Double].head() ==
      df.filter($"z" % 4 =!= 0).agg(sum($"y".cast("double"))).as[Double].head())
  }

  test("XYZ round trip with nulls and default schema") {
    val dir = tmpDir("xyz")
    val df = Seq(
      (1.0f, 2.0f, 3.0f, Some(10.toByte)),
      (4.5f, 5.5f, 6.5f, None)
    ).toDF("x", "y", "z", "r")
    df.writeXyz(dir)
    val back = spark.read.xyz(dir)
    assert(back.columns.toSeq == Seq("fid", "pid", "x", "y", "z", "r", "g", "b"))
    val rows = back.orderBy("x").select("x", "y", "z", "r").collect()
    assert(rows(0).getFloat(0) == 1.0f && rows(0).getByte(3) == 10)
    assert(rows(1).getFloat(0) == 4.5f && rows(1).isNullAt(3))
    assert(back.where($"g".isNull).count() == 2)
  }

  test("multi-file read merges schemas with widening and nullable-on-missing") {
    val dir1 = tmpDir("m1")
    val dir2 = tmpDir("m2")
    samplePoints.writePly(dir1)
    samplePoints
      .withColumn("x", $"x".cast("long")) // widen x
      .drop("source")                      // missing on one side
      .writePly(dir2)
    val back = spark.read.ply(dir1, dir2)
    assert(back.schema("x").dataType == LongType)
    assert(back.schema("source").nullable)
    assert(back.count() == 20000)
    assert(back.where($"source".isNull).count() == 10000)
    // fid distinguishes the input files
    val nFiles = (new java.io.File(dir1).listFiles() ++ new java.io.File(dir2).listFiles())
      .count(_.getName.endsWith(".ply"))
    assert(back.select("fid").distinct().count() == nFiles)
  }

  test("column pruning reaches the scan") {
    val dir = tmpDir("prune")
    samplePoints.writePly(dir)
    val df = spark.read.ply(dir).select("x")
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns [x]"), scanDesc)
  }

  test("bbox file-skip prunes sections on x/y/z range predicates") {
    val dir1 = tmpDir("bbox1")
    val dir2 = tmpDir("bbox2")
    def pts(lo: Int) = spark.range(1000).select(
      (col("id") + lo).cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    pts(0).coalesce(1).writeLas(dir1)      // x in [0, 999]
    pts(10000).coalesce(1).writeLas(dir2)  // x in [10000, 10999]
    val both = spark.read.las(dir1, dir2)
    val all = plannedSplits(both).size
    val filtered = both.filter($"x" > 5000)
    // only the second file's section survives planning
    assert(plannedSplits(filtered).size < all, s"$all not pruned")
    assert(filtered.count() == 1000)
    // filters stay post-scan: a predicate inside the surviving range
    assert(both.filter($"x" > 10500).count() == 499)
  }

  test("record-level filter pushdown: filters leave the plan, results exact") {
    val dir = tmpDir("recfilter")
    samplePoints.writeLas(dir)
    val base = spark.read.las(dir)
    val df = base.filter($"x" > 500 && $"intensity" <= 3000).select("x", "y", "intensity")
    val plan = df.queryExecution.executedPlan
    // fully pushed: Catalyst keeps no residual Filter node at all
    assert(plan.collect { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty,
      plan.toString)
    assert(plan.toString.contains("PushedFilters"), plan.toString)
    val expected = samplePoints.filter($"x" > 500 && $"intensity" <= 3000)
      .select("x", "y", "intensity").orderBy("x", "y", "intensity").collect().toSeq
    assert(expected.nonEmpty)
    assert(df.orderBy("x", "y", "intensity").collect().toSeq == expected)
    // COUNT over a pushed filter must NOT be answered from headers
    assert(df.count() == expected.size)
    // a pushed filter on a column pruned from the output still applies
    val pruned = base.filter($"flags" === 1).select("x")
    assert(pruned.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty)
    assert(pruned.count() == samplePoints.filter($"flags" === 1).count())
    // pid (per-file record index) predicates are evaluated per record
    val nFiles = base.select("fid").distinct().count()
    assert(base.filter($"pid" < 7).count() == 7 * nFiles)
  }

  test("row-based reader applies pushed filters (non-columnar path)") {
    // Spark picks the columnar reader for binary scans, so drive the
    // factory's row contract directly; it serves the columnar batches' rows
    val dir = tmpDir("rowpred")
    samplePoints.coalesce(1).writeLas(dir)
    val df = spark.read.las(dir).filter($"x" > 900)
    val scan = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.scan.asInstanceOf[graft.pointcloud.connector.PointCloudScan]
    val factory = scan.createReaderFactory()
    var n = 0
    scan.planInputPartitions().foreach { p =>
      val r = factory.createReader(p)
      try while (r.next()) n += 1
      finally r.close()
    }
    assert(n == samplePoints.filter($"x" > 900).count())
  }

  test("splits of one section share one schema-JSON String instance") {
    // task-size hygiene: a task carrying many splits (coalesce/union)
    // serializes the section schema once only if the splits hold the SAME
    // String (Java serialization back-refs by identity, not value)
    val dir = tmpDir("schemashare")
    samplePoints.coalesce(1).writeLas(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      val parts = plannedSplits(spark.read.las(dir)).collect {
        case p: graft.pointcloud.connector.BinaryPartition => p
      }
      assert(parts.length > 1)
      assert(parts.forall(_.sectionSchemaJson eq parts.head.sectionSchemaJson))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    // equal schemas of DIFFERENT sections intern to one String too, so a
    // task packing 25 tiles serializes the schema once, not 25 times
    val tilesDir = tmpDir("schemashare-tiles")
    samplePoints.repartition(25).writeLas(tilesDir)
    val tasks = plannedTasks(spark.read.las(tilesDir)).map {
      case p: graft.pointcloud.connector.PackedPartition => p
    }
    val splits = tasks.flatMap(_.splits).map {
      case p: graft.pointcloud.connector.BinaryPartition => p
    }
    assert(splits.map(_.fid).distinct.size == 25)
    assert(tasks.size == 4 && tasks.forall(_.splits.length > 1), tasks.map(_.splits.length))
    assert(splits.forall(_.sectionSchemaJson eq splits.head.sectionSchemaJson))
  }

  test("record-level pushdown compares in the exposed (widened) domain") {
    val dir = tmpDir("recfilter-unsigned")
    samplePoints.withColumn("intensity", lit(-1).cast("short")).writeLas(dir)
    val widened = spark.read.option("widenUnsigned", "true").las(dir)
    val hit = widened.filter($"intensity" === 65535)
    assert(hit.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty)
    assert(hit.count() == 10000)
    assert(widened.filter($"intensity" === -1).count() == 0)
  }

  test("pushed filters over a merged schema treat absent columns as null") {
    val dir1 = tmpDir("absent1")
    val dir2 = tmpDir("absent2")
    samplePoints.writePly(dir1)
    samplePoints.drop("source").writePly(dir2) // no 'source' column in file 2
    val both = spark.read.ply(dir1, dir2)
    // SQL semantics: null comparisons are unknown -> dropped
    val ge = both.filter($"source" >= 0)
    assert(ge.queryExecution.executedPlan
      .collect { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty)
    assert(ge.count() == 10000)
    // IsNull keeps exactly the file lacking the column
    assert(both.filter($"source".isNull).count() == 10000)
    assert(both.filter($"source".isNotNull && $"source" < 50).count() ==
      samplePoints.filter($"source" < 50).count())
  }

  test("fid equality prunes to one file's sections at planning time") {
    val dir1 = tmpDir("fid1")
    val dir2 = tmpDir("fid2")
    samplePoints.coalesce(1).writeLas(dir1)
    samplePoints.coalesce(1).writeLas(dir2)
    val both = spark.read.las(dir1, dir2)
    val one = both.filter($"fid" === 1)
    val scans = one.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.head.inputPartitions.size <
      both.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head.inputPartitions.size)
    assert(one.count() == 10000)
  }

  test("SQL DDL surface: CREATE TABLE USING las queries with pushdown") {
    val dir = tmpDir("sqlddl")
    samplePoints.coalesce(1).writeLas(dir)
    spark.sql(s"CREATE TABLE graft_las_sql USING las OPTIONS (path '$dir')")
    try {
      assert(spark.sql("SELECT count(*) FROM graft_las_sql").head().getLong(0) == 10000)
      val sel = spark.sql("SELECT x FROM graft_las_sql WHERE x > 990")
      assert(sel.queryExecution.executedPlan
        .collect { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty)
      assert(sel.count() == samplePoints.filter($"x" > 990).count())
    } finally spark.sql("DROP TABLE graft_las_sql")
  }

  test("spatial clustering tightens file bboxes so range queries skip files") {
    import graft.pointcloud.PointCloudOps
    // pseudo-random spread: every unclustered file spans the full cube
    val pts = spark.range(100000).select(
      (col("id") * 2654435761L % 1000).cast("int").as("x"),
      (col("id") * 40503 % 1000).cast("int").as("y"),
      (col("id") * 69069 % 1000).cast("int").as("z"),
      lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    val plain = tmpDir("cluster-plain")
    val clustered = tmpDir("cluster-z")
    pts.repartition(8).writeLas(plain)
    PointCloudOps.clusterSpatially(pts, "x", "y", "z", 8).writeLas(clustered)
    val box = (d: String) => spark.read.las(d)
      .filter($"x" < 250 && $"y" < 250 && $"z" < 250)
    def parts(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head.inputPartitions.size
    assert(parts(box(clustered)) < parts(box(plain)),
      s"clustered=${parts(box(clustered))} plain=${parts(box(plain))}")
    assert(box(clustered).count() == box(plain).count())
    assert(box(clustered).count() == pts.filter($"x" < 250 && $"y" < 250 && $"z" < 250).count())
  }

  test("pushed predicates agree with in-memory evaluation on random filters") {
    val dir = tmpDir("proppush")
    samplePoints.writeLas(dir)
    val las = spark.read.las(dir)
    val rnd = new scala.util.Random(42)
    val cols = Seq("x", "y", "z", "intensity", "flags")
    def leaf(): org.apache.spark.sql.Column = {
      val c = col(cols(rnd.nextInt(cols.size)))
      val v = rnd.nextInt(1100) - 50
      rnd.nextInt(5) match {
        case 0 => c > v; case 1 => c >= v; case 2 => c < v
        case 3 => c <= v; case 4 => c === v
      }
    }
    (1 to 15).foreach { i =>
      val p =
        if (rnd.nextBoolean()) leaf() && leaf()
        else leaf() || (leaf() && leaf())
      val got = las.filter(p).count()
      val expected = samplePoints.filter(p).count()
      assert(got == expected, s"iteration $i: predicate $p got $got want $expected")
    }
  }

  test("selected decode path produces identical rows to the sequential path") {
    // a tautologically-true pushed filter sends every record through the
    // filler's selection; any drift between its selected and unselected
    // reads (cast chain, zero-extend, nodata) shows up as a row mismatch
    val dir = tmpDir("selpath")
    samplePoints.writeLas(dir)
    val cols = Seq("x", "y", "z", "intensity", "flags", "classification")
    val plain = spark.read.las(dir)
      .select(cols.map(col): _*).orderBy(cols.map(col): _*).collect().toSeq
    val selected = spark.read.las(dir).filter($"x" >= Int.MinValue)
      .select(cols.map(col): _*).orderBy(cols.map(col): _*).collect().toSeq
    assert(selected == plain)
  }

  test("GROUP BY fid emits no row for a file contributing zero records") {
    val dir1 = tmpDir("gbe1")
    val dir2 = tmpDir("gbe2")
    samplePoints.coalesce(1).writeLas(dir1)
    samplePoints.limit(0).coalesce(1).writeLas(dir2) // empty LAS file
    val rows = spark.read.las(dir1, dir2).groupBy("fid").count().collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 10000, rows.toSeq)
  }

  test("GROUP BY fid aggregates are answered from headers, zero data IO") {
    val dir1 = tmpDir("gb1")
    val dir2 = tmpDir("gb2")
    samplePoints.coalesce(1).writeLas(dir1)
    samplePoints.filter($"x" < 500).coalesce(1).writeLas(dir2)
    val both = spark.read.las(dir1, dir2)
    val perFile = both.groupBy("fid").count().orderBy("fid")
    assert(perFile.queryExecution.executedPlan.toString
      .contains("header-aggregate scan"), perFile.queryExecution.executedPlan.toString)
    val counts = perFile.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(counts == Seq((0, 10000L), (1, samplePoints.filter($"x" < 500).count())))
    val mm = both.groupBy("fid").agg(min("x"), max("x")).orderBy("fid")
    assert(mm.queryExecution.executedPlan.toString.contains("header-aggregate scan"))
    val rows = mm.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    assert(rows.head == ((0, 0, 999)) && rows(1)._2 >= 0 && rows(1)._3 < 500)
  }

  test("runtime fid In-filter prunes sections (dynamic file skip under joins)") {
    val dir1 = tmpDir("rt1")
    val dir2 = tmpDir("rt2")
    samplePoints.coalesce(1).writeLas(dir1)
    samplePoints.coalesce(1).writeLas(dir2)
    val both = spark.read.las(dir1, dir2)
    val scan = both.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.scan.asInstanceOf[graft.pointcloud.connector.PointCloudScan]
    assert(scan.filterAttributes().map(_.describe()).toSeq == Seq("fid"))
    def splits = scan.planInputPartitions().toSeq.flatMap {
      case p: graft.pointcloud.connector.PackedPartition => p.splits.toSeq
    }
    val before = splits.length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("fid", Array(0))))
    val after = splits.length
    assert(after > 0 && after < before, s"$after vs $before")
    // e2e: joining against a one-file manifest stays correct
    val manifest = Seq(0).toDF("f")
    val joined = spark.read.las(dir1, dir2)
      .join(broadcast(manifest), $"fid" === $"f")
    assert(joined.count() == 10000)
  }

  test("pushed limit plans only the partitions its row count needs") {
    val dir1 = tmpDir("lim1")
    val dir2 = tmpDir("lim2")
    samplePoints.coalesce(1).writeLas(dir1)
    samplePoints.coalesce(1).writeLas(dir2)
    val df = spark.read.las(dir1, dir2).limit(10)
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.inputPartitions.size == 1, scans.head.inputPartitions)
    assert(df.count() == 10)
    // rows are real records, not padding
    val xs = df.select("x").as[Int].collect()
    assert(xs.forall(x => x >= 0 && x < 1000))
  }

  test("binary scans are vectorized (ColumnarToRow above the scan)") {
    val dir = tmpDir("columnar")
    samplePoints.writeLas(dir)
    val df = spark.read.las(dir).select("x", "intensity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    assert(df.agg(sum("x")).as[Long].head() ==
      samplePoints.agg(sum("x")).as[Long].head())
  }

  test("widenUnsigned zero-extends unsigned fields; default wraps") {
    val dir = tmpDir("unsigned")
    // intensity is u16 in the LAS spec; -1 on disk is 0xFFFF = 65535
    samplePoints.withColumn("intensity", lit(-1).cast("short"))
      .writeLas(dir)
    val wrapped = spark.read.las(dir)
    assert(wrapped.schema("intensity").dataType == ShortType)
    assert(wrapped.select("intensity").head().getShort(0) == -1)
    val widened = spark.read.option("widenUnsigned", "true").las(dir)
    assert(widened.schema("intensity").dataType == IntegerType)
    assert(widened.select("intensity").head().getInt(0) == 65535)
    // signed fields (x) stay untouched
    assert(widened.schema("x").dataType == IntegerType)
    // writing the widened frame back must fail fast with the needed cast,
    // not zero-fill the base field and emit a duplicate ExtraBytes column
    val e = intercept[Exception] { widened.writeLas(tmpDir("unsigned-back")) }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("cast it back")), messages(e).mkString(" | "))
  }

  test("PLY uchar property: wrap by default, 0..255 with widenUnsigned") {
    val dir = tmpDir("plyuchar")
    val header = "ply\nformat binary_little_endian 1.0\nelement vertex 3\n" +
      "property float x\nproperty uchar intensity\nend_header\n"
    val body = java.nio.ByteBuffer.allocate(15).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq((1.0f, 0x01), (2.0f, 0x7f), (3.0f, 0xff)).foreach { case (x, i) =>
      body.putFloat(x); body.put(i.toByte)
    }
    val f = java.nio.file.Paths.get(dir, "u.ply")
    java.nio.file.Files.write(f, header.getBytes("US-ASCII") ++ body.array())
    val wrapped = spark.read.ply(f.toString)
    assert(wrapped.select("intensity").as[Byte].collect().toSeq == Seq(1, 127, -1))
    val widened = spark.read.option("widenUnsigned", "true").ply(f.toString)
    assert(widened.schema("intensity").dataType == ShortType)
    assert(widened.select("intensity").as[Short].collect().toSeq == Seq(1, 127, 255))
  }

  test("multi-element PLY: element option selects vertex or face section") {
    val dir = tmpDir("plymulti")
    val header = "ply\nformat binary_little_endian 1.0\n" +
      "element vertex 2\nproperty float x\nproperty float y\n" +
      "element face 3\nproperty int a\nend_header\n"
    val body = java.nio.ByteBuffer.allocate(2 * 8 + 3 * 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    body.putFloat(1f).putFloat(2f).putFloat(3f).putFloat(4f)
    body.putInt(10).putInt(20).putInt(30)
    val f = java.nio.file.Paths.get(dir, "m.ply")
    java.nio.file.Files.write(f, header.getBytes("US-ASCII") ++ body.array())
    val vertices = spark.read.ply(f.toString)
    assert(vertices.count() == 2 && vertices.columns.contains("x"))
    val faces = spark.read.option("element", "face").ply(f.toString)
    assert(faces.count() == 3)
    assert(faces.select("a").as[Int].collect().toSeq.sorted == Seq(10, 20, 30))
  }

  test("LAS multi-format read merges fmt0 and fmt1 files") {
    val dir1 = tmpDir("fmt0")
    val dir2 = tmpDir("fmt1")
    samplePoints.coalesce(1).writeLas(dir1)                       // format 0
    samplePoints.withColumn("time", ($"x" * 0.5).cast("double"))
      .coalesce(1).writeLas(dir2)                                 // format 1
    val back = spark.read.las(dir1, dir2)
    assert(back.count() == 20000)
    assert(back.schema("time").nullable)
    // fmt0 rows surface null time; fmt1 rows carry it
    assert(back.where($"time".isNull).count() == 10000)
    assert(back.where($"time".isNotNull).count() == 10000)
  }

  test("user-supplied schema overrides inference (widened read)") {
    val dir = tmpDir("userschema")
    samplePoints.writePly(dir)
    // request x as LONG and only a subset of columns
    val schema = StructType(Seq(
      StructField("fid", IntegerType, nullable = false),
      StructField("pid", LongType, nullable = false),
      StructField("x", LongType, nullable = false),
      StructField("intensity", ShortType, nullable = false)))
    val df = spark.read.schema(schema).ply(dir)
    assert(df.schema("x").dataType == LongType)
    assert(df.agg(sum("x")).as[Long].head() ==
      samplePoints.agg(sum($"x".cast("long"))).as[Long].head())
  }

  test("header stats make a small point-cloud table broadcastable") {
    val dir = tmpDir("stats")
    samplePoints.limit(500).coalesce(1).writeLas(dir)
    val pc = spark.read.las(dir)
    val big = Tables.lineitem(spark, sfDir)
      .select(($"l_orderkey" % 1000).cast("int").as("x"), $"l_quantity")
    val joined = big.join(pc.select("x", "intensity"), "x")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("empty frames round-trip: zero-point files parse and scan") {
    val lasDir = tmpDir("emptylas")
    val plyDir = tmpDir("emptyply")
    val empty = samplePoints.filter(lit(false))
    empty.coalesce(1).writeLas(lasDir)
    empty.coalesce(1).writePly(plyDir)
    assert(spark.read.las(lasDir).count() == 0)
    assert(spark.read.ply(plyDir).count() == 0)
    // aggregates over the empty table behave like SQL expects
    val r = spark.read.las(lasDir).agg(count(lit(1)), min("x")).collect().head
    assert(r.getLong(0) == 0 && r.isNullAt(1))
  }

  test("resolve over many files: parallel header reads keep fid = path order") {
    val dir = tmpDir("manyfiles")
    // 200 single-file LAS writes with known per-file content: file k holds
    // points with x == k, under names whose sorted order is the write order
    (0 until 200).foreach { k =>
      spark.range(5).select(
        lit(k).cast("int").as("x"), lit(0).cast("int").as("y"),
        lit(0).cast("int").as("z"))
        .coalesce(1).writeLas(f"$dir/part$k%03d")
    }
    // plus one corrupt file that must be skipped without failing resolve
    Files.write(java.nio.file.Paths.get(dir, "zzz-corrupt"),
      "not a las file".getBytes)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(dir, "zzz-corrupt"),
      java.nio.file.Paths.get(dir, "zzz-corrupt.las"))

    def allLas(d: String): Seq[String] = {
      val f = new java.io.File(d)
      if (f.isDirectory) f.listFiles().sortBy(_.getName).toSeq.flatMap(c => allLas(c.getPath))
      else if (f.getName.endsWith(".las")) Seq(f.getPath)
      else Nil
    }
    val paths = allLas(dir)
    assert(paths.size == 201)

    val t0 = System.nanoTime()
    val back = spark.read.las(paths: _*)
    val coldMs = (System.nanoTime() - t0) / 1e6
    // fid must equal the position of the source file in the given path
    // order regardless of which pool thread parsed its header
    val fidToX = back.select("fid", "x").distinct()
      .as[(Int, Int)].collect().toMap
    assert(back.count() == 200 * 5)
    (0 until 200).foreach { k =>
      val pathIdx = paths.indexWhere(_.contains(f"part$k%03d"))
      assert(fidToX(pathIdx) == k, s"fid $pathIdx should hold x=$k")
    }
    // only sanity-bound the cold resolve time (the header reads run on
    // the shared metadata-read pool; nothing is memoized across reads)
    assert(coldMs < 60000)
  }

  test("unreadable files are skipped with a warning, valid ones read") {
    val dir = tmpDir("badfile")
    samplePoints.coalesce(1).writeLas(dir)
    // a corrupt .las (wrong signature) and a truncated one
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "corrupt.las"),
      "NOTALASFILE-JUNKJUNKJUNK".getBytes ++ new Array[Byte](300))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "truncated.las"),
      "LASF".getBytes ++ new Array[Byte](10))
    val back = spark.read.las(dir)
    assert(back.count() == 10000) // only the valid file's points
  }

  test("writer options: explicit lasformat, 1.4 header, ply element name") {
    // explicit format 2 adds zero-filled rgb columns
    val dir1 = tmpDir("optfmt")
    samplePoints.coalesce(1).writeLas(dir1, Map("lasformat" -> "2"))
    val f2 = spark.read.las(dir1)
    assert(f2.columns.contains("red"))
    assert(f2.where($"red" =!= 0).count() == 0)
    assert(f2.count() == 10000)

    // minor=4 → 375-byte header, still a clean round trip
    val dir2 = tmpDir("opt14")
    samplePoints.coalesce(1).writeLas(dir2, Map("minor" -> "4"))
    val h = {
      val f = new java.io.File(dir2).listFiles().find(_.getName.endsWith(".las")).get
      val in = new java.io.FileInputStream(f)
      try graft.pointcloud.las.LasHeader.read(f.getName, in) finally in.close()
    }
    assert(h.versionMinor == 4 && h.headerSize == 375 && h.pdrCount == 10000)
    assert(spark.read.las(dir2).count() == 10000)

    // ply element name override flows into header + read
    val dir3 = tmpDir("optelem")
    samplePoints.coalesce(1).writePly(dir3, Map("element" -> "points"))
    assert(spark.read.option("element", "points").ply(dir3).count() == 10000)
    // default 'vertex' element absent → the read refuses with a clear error
    intercept[IllegalArgumentException](spark.read.ply(dir3))
  }

  test("major writer option: 1 accepted, anything else refused") {
    val dir = tmpDir("optmajor")
    samplePoints.coalesce(1).writeLas(dir, Map("major" -> "1", "minor" -> "3"))
    assert(spark.read.las(dir).count() == 10000)
    val e1 = intercept[org.apache.spark.SparkException] {
      samplePoints.coalesce(1).writeLas(tmpDir("optmajor2"), Map("major" -> "2"))
    }
    assert(e1.getMessage.contains("major") || e1.getCause.getMessage.contains("major"))
    // a dotted version carries the major in its prefix
    val e2 = intercept[org.apache.spark.SparkException] {
      samplePoints.coalesce(1).writeLas(tmpDir("optmajor3"), Map("version" -> "2.4"))
    }
    assert(e2.getMessage.contains("major") || e2.getCause.getMessage.contains("major"))
  }

  test("a malformed integer option fails naming the option") {
    val dir = tmpDir("intopt")
    samplePoints.coalesce(1).writeLas(dir)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    def failsNaming(name: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      assert(messages(e).contains(s"$name 'abc' is not an integer"), messages(e))
    }
    failsNaming("lasFormat")(
      samplePoints.coalesce(1).writeLas(tmpDir("intopt-fmt"), Map("lasformat" -> "abc")))
    failsNaming("laz.chunkSize")(
      samplePoints.coalesce(1).writeLaz(tmpDir("intopt-laz"), Map("laz.chunkSize" -> "abc")))
    failsNaming("copc.level")(
      samplePoints.coalesce(1).writeCopc(tmpDir("intopt-copc"), Map("copc.level" -> "abc")))
    Seq("maxFilesPerTrigger", "compactFileListThreshold").foreach { name =>
      failsNaming(name) {
        val q = spark.readStream.schema(spark.read.las(dir).schema).format("las")
          .option(name, "abc").load(dir).writeStream.format("noop").start()
        try q.processAllAvailable() finally q.stop()
      }
    }
  }

  test("idColumns=false suppresses fid/pid synthesis") {
    val dir = tmpDir("noids")
    samplePoints.writeLas(dir)
    val back = spark.read.option("idColumns", "false").las(dir)
    assert(!back.columns.contains("fid") && !back.columns.contains("pid"))
    assert(back.count() == 10000)
    assert(back.agg(sum("x")).as[Long].head() ==
      samplePoints.agg(sum("x")).as[Long].head())
  }

  test("writeKeyed: one pass, one self-contained file per key") {
    val df = samplePoints.withColumn("tile", ($"z" % 4).cast("int"))
    val dir = tmpDir("keyedlas")
    df.writeLasKeyed(dir, "tile")
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".las")).sorted
    assert(files.toSeq == Seq("0.las", "1.las", "2.las", "3.las"))
    // each file is self-contained and holds exactly its key's rows
    (0 to 3).foreach { k =>
      assert(spark.read.las(s"$dir/$k.las").count() ==
        df.filter($"tile" === k).count())
    }
    // the key column names the file; it is not stored in the records
    assert(!spark.read.las(s"$dir/0.las").columns.contains("tile"))

    // string keys work too (PLY), with filename sanitization
    val dir2 = tmpDir("keyedply")
    val named = samplePoints.withColumn("sensor",
      concat(lit("scan/"), ($"z" % 2).cast("string")))
    named.writePlyKeyed(dir2, "sensor")
    val plys = new java.io.File(dir2).listFiles().map(_.getName)
      .filter(_.endsWith(".ply")).sorted
    assert(plys.toSeq == Seq("scan_0.ply", "scan_1.ply"))
    assert(spark.read.ply(dir2).count() == 10000)
  }

  test("SchemaMerge widening rules") {
    import SchemaMerge._
    assert(mergeType(IntegerType, LongType) == LongType)
    assert(mergeType(ByteType, ShortType) == ShortType)
    assert(mergeType(FloatType, DoubleType) == DoubleType)
    assert(mergeType(IntegerType, DoubleType) == DoubleType)
    assert(mergeType(ShortType, FloatType) == FloatType)
    intercept[IllegalArgumentException](mergeType(LongType, FloatType))
    intercept[IllegalArgumentException](mergeType(IntegerType, FloatType))
  }
}
