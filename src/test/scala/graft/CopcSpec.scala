package graft

import java.nio.file.Files

import graft.pointcloud.syntax._
import graft.pointcloud.connector.{CopcPrune, LazPlanning}
import graft.pointcloud.las.laz.{Copc, Laz}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{And, EqualTo, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Or}

/** COPC (cloud-optimized point cloud) tests: the octree-chunked writer,
  * the hierarchy round trip, and — the point of the format — CHUNK-LEVEL
  * spatial pruning at split planning, with pid continuity across the
  * pruning gaps. No external COPC fixture exists in this container, so
  * like the LAZ suites these are self-round-trip + structure pins. */
class CopcSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** Format-6 points with x spread over a wide range (the pruning axis),
    * y/z narrow — the anisotropy real scan strips have. */
  private def fmt6Points(n: Int) =
    spark.range(n).select(
      ((col("id") * 37) % 100000).cast("int").as("x"),
      ((col("id") * 7) % 900).cast("int").as("y"),
      ((col("id") % 60) - 30).cast("int").as("z"),
      (col("id") % 4096).cast("short").as("intensity"),
      (((col("id") % 7) + 1) + lit(7 * 16)).cast("byte").as("return"),
      ((col("id") % 2) * 16).cast("byte").as("flags"),
      (col("id") % 64).cast("byte").as("classification"),
      lit(0).cast("byte").as("user"),
      ((col("id") % 3600) - 1800).cast("short").as("angle"),
      (col("id") % 3).cast("short").as("source"),
      (col("id").cast("double") * 0.25).as("time"))

  /** Value comparison without fid/pid: writeCopc legitimately REORDERS
    * records (voxel sort), so positional ids differ from the raw twin.
    * pid continuity is pinned in the pruning test, where both reads see
    * the same file. */
  private def collectAll(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.filterNot(c => c == "fid" || c == "pid").sorted
    df.select(cols.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
  }

  private def lazInfoOf(dir: String) = {
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".laz")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val in = new java.io.ByteArrayInputStream(bytes)
    val header = try graft.pointcloud.las.LasHeader.read(f.toString, in) finally in.close()
    (header, Laz.infoFor(header,
      (off, len) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len),
      bytes.length.toLong), bytes)
  }

  test("COPC round trip equals the uncompressed scan bit for bit, with octree metadata") {
    val pts = fmt6Points(20000)
    val lasDir = tmpDir("copc-raw")
    val copcDir = tmpDir("copc-cmp")
    pts.coalesce(1).writeLas(lasDir, Map("scale" -> "0.01"))
    pts.coalesce(1).writeCopc(copcDir, Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    val raw = spark.read.las(lasDir)
    val cop = spark.read.las(copcDir)
    assert(cop.count() == 20000)
    assert(collectAll(cop) == collectAll(raw))
    // structure: variable chunking, bounds attached, entries sum to count
    val (header, info, bytes) = lazInfoOf(copcDir)
    assert(info.chunkSize == -1)
    assert(info.chunkRawBounds != null)
    assert(info.chunkRawBounds.forall(_ != null)) // our writer describes every chunk
    val readAt = (off: Long, len: Int) =>
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    val cinfoOpt = Copc.readInfo(header, readAt)
    assert(cinfoOpt.nonEmpty)
    val cinfo = cinfoOpt.get
    val entries = Copc.readDataEntries(cinfo, readAt, bytes.length.toLong)
    assert(entries.map(_.pointCount.toLong).sum == 20000L)
    assert(entries.length == info.numChunks)
    // 20000 points at 2048/node forces a subdivided octree
    assert(entries.map(_.level).max > 0)
    // gpstime range streamed into the info VLR
    assert(cinfo.gpsMin == 0.0 && cinfo.gpsMax == (20000 - 1) * 0.25)
  }

  test("bbox planning prunes chunks, splits runs at gaps, and keeps pid exact") {
    val copcDir = tmpDir("copc-prune")
    fmt6Points(40000).coalesce(1)
      .writeCopc(copcDir, Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    val (_, info, _) = lazInfoOf(copcDir)
    // x in [20000, 40000] — a 20% slice of the x range
    val filters: Array[org.apache.spark.sql.sources.Filter] = Array(
      And(GreaterThanOrEqual("x", 20000), LessThanOrEqual("x", 40000)))
    val keep = CopcPrune.keepMask(info, filters, -1)
    assert(keep != null)
    assert(keep.exists(k => !k), "bbox must prune at least one chunk")
    assert(keep.exists(identity), "bbox must keep at least one chunk")
    // planner drops pruned chunks but keeps each chunk's true record base
    val section = graft.pointcloud.Section("mem", 0, info.chunkPoints.sum,
      littleEndian = true, graft.pointcloud.las.LasHeader.schema(6), info.stride)
    val parts = LazPlanning.partitions(section, 0, info, 1L << 20, keep)
    val plannedPoints = parts.map(_.chunkCounts.sum).sum
    assert(plannedPoints == info.chunkPoints.zip(keep).filter(_._2).map(_._1).sum)
    assert(plannedPoints < info.chunkPoints.sum)
    // each partition's startRecord equals the file-absolute record index
    // of its first chunk (pid continuity across pruning gaps)
    val recBase = info.chunkPoints.scanLeft(0L)(_ + _)
    val baseByOffset = (0 until info.numChunks).map { i =>
      (info.firstChunkOffset + info.chunkBytes.take(i).sum) -> recBase(i)
    }.toMap
    parts.foreach(p => assert(p.startRecord == baseByOffset(p.chunkOffsets.head)))
    // end to end: the pruned read returns exactly the filtered rows, pid
    // included — and with chunk-sized partitions the PLANNED partition
    // count proves the pruning actually fired through spark.read (record
    // filters stay residual for LAZ, so the planner must be using the
    // skip-filter set)
    val all = spark.read.las(copcDir).collect()
      .filter(r => { val x = r.getAs[Int]("x"); x >= 20000 && x <= 40000 })
      .map(_.toSeq.toString).sorted.toSeq
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val nFull = plannedSplits(spark.read.las(copcDir)).size
      val prunedDf = spark.read.las(copcDir).where($"x" >= 20000 && $"x" <= 40000)
      assert(plannedSplits(prunedDf).size < nFull,
        "bbox read must plan fewer chunk partitions than the full scan")
      assert(prunedDf.collect().map(_.toSeq.toString).sorted.toSeq == all)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("keepMask narrows over x/y/z conjuncts, Or and In, and stays conservative") {
    val dir = tmpDir("copc-mask")
    fmt6Points(40000).coalesce(1)
      .writeCopc(dir, Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    val (_, info, _) = lazInfoOf(dir)
    val bounds = info.chunkRawBounds
    def overlaps(i: Int, a: Int, lo: Long, hi: Long) =
      bounds(i)(2 * a + 1) >= lo && bounds(i)(2 * a) <= hi
    // conjuncts: x in [10000, 29999] and z == 5; intensity bounds no chunk
    val conj = CopcPrune.keepMask(info, Array(
      GreaterThanOrEqual("x", 10000), LessThanOrEqual("x", 29999),
      EqualTo("z", 5), GreaterThan("intensity", 3)), -1)
    assert(conj.toSeq == info.chunkRawBounds.indices.map(i =>
      overlaps(i, 0, 10000, 29999) && overlaps(i, 2, 5, 5)))
    assert(conj.exists(!_) && conj.exists(identity))
    // a filter on no bounded column keeps every chunk
    val none = CopcPrune.keepMask(info, Array(GreaterThan("intensity", 3)), -1)
    assert(none == null || none.forall(identity))
    // an Or of two disjoint x slices narrows to the chunks of either
    // slice (the former box intersection could not narrow an Or)
    val or = CopcPrune.keepMask(info, Array(Or(
      LessThan("x", 10000), GreaterThanOrEqual("x", 90000))), -1)
    assert(or.toSeq == info.chunkRawBounds.indices.map(i =>
      overlaps(i, 0, Long.MinValue, 9999) || overlaps(i, 0, 90000, Long.MaxValue)))
    assert(or.exists(!_))
    // an In narrows to the chunks holding one of its values
    val in = CopcPrune.keepMask(info, Array(In("x", Array(5, 95000))), -1)
    assert(in.toSeq == info.chunkRawBounds.indices.map(i =>
      overlaps(i, 0, 5, 5) || overlaps(i, 0, 95000, 95000)))
    // a fractional literal bounds the integral column it compares with
    val frac = CopcPrune.keepMask(info, Array(LessThan("x", 9999.5)), -1)
    assert(frac.toSeq == info.chunkRawBounds.indices.map(i =>
      overlaps(i, 0, Long.MinValue, 9999)))
  }

  test("chunk pruning never drops a matching record under random filter trees") {
    val dir = tmpDir("copc-gen")
    fmt6Points(40000).coalesce(1)
      .writeCopc(dir, Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    val (_, info, _) = lazInfoOf(dir)
    val cols = Seq("x", "y", "z", "intensity")
    val unpruned = spark.read.las(dir)
    // each record with its chunk: its file-absolute index (pid) against
    // the chunk bases
    val chunkBase = info.chunkPoints.scanLeft(0L)(_ + _)
    def chunkOf(pid: Long) = java.util.Arrays.binarySearch(chunkBase, pid) match {
      case i if i >= 0 => i
      case i => -i - 2
    }
    val byChunk = unpruned.select(($"pid" +: cols.map(col)): _*).collect()
      .groupBy(r => chunkOf(r.getLong(0)))
      .map { case (c, rs) => c -> rs.map(r => cols.indices.map(i => r.getAs[Number](i + 1).doubleValue)) }
    val rnd = new scala.util.Random(7)
    val spans = Map("x" -> (0, 100000), "y" -> (0, 900), "z" -> (-30, 30),
      "intensity" -> (0, 4096))
    def literal(c: String): Any = {
      val (lo, hi) = spans(c)
      val v = lo - 10 + rnd.nextInt(hi - lo + 20)
      if (rnd.nextBoolean()) Integer.valueOf(v) else java.lang.Double.valueOf(v + 0.5)
    }
    def leaf(): org.apache.spark.sql.sources.Filter = {
      val c = cols(rnd.nextInt(cols.size))
      rnd.nextInt(6) match {
        case 0 => GreaterThan(c, literal(c)); case 1 => GreaterThanOrEqual(c, literal(c))
        case 2 => LessThan(c, literal(c)); case 3 => LessThanOrEqual(c, literal(c))
        case 4 => EqualTo(c, literal(c))
        case _ => In(c, Array.fill(1 + rnd.nextInt(3))(literal(c)))
      }
    }
    def tree(depth: Int): org.apache.spark.sql.sources.Filter =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else if (rnd.nextBoolean()) And(tree(depth - 1), tree(depth - 1))
      else Or(tree(depth - 1), tree(depth - 1))
    def num(v: Any) = v.asInstanceOf[Number].doubleValue
    def eval(f: org.apache.spark.sql.sources.Filter, rec: IndexedSeq[Double]): Boolean = (f: @unchecked) match {
      case GreaterThan(c, v) => rec(cols.indexOf(c)) > num(v)
      case GreaterThanOrEqual(c, v) => rec(cols.indexOf(c)) >= num(v)
      case LessThan(c, v) => rec(cols.indexOf(c)) < num(v)
      case LessThanOrEqual(c, v) => rec(cols.indexOf(c)) <= num(v)
      case EqualTo(c, v) => rec(cols.indexOf(c)) == num(v)
      case In(c, vs) => vs.exists(v => rec(cols.indexOf(c)) == num(v))
      case And(l, r) => eval(l, rec) && eval(r, rec)
      case Or(l, r) => eval(l, rec) || eval(r, rec)
    }
    def column(f: org.apache.spark.sql.sources.Filter): org.apache.spark.sql.Column = (f: @unchecked) match {
      case GreaterThan(c, v) => col(c) > v
      case GreaterThanOrEqual(c, v) => col(c) >= v
      case LessThan(c, v) => col(c) < v
      case LessThanOrEqual(c, v) => col(c) <= v
      case EqualTo(c, v) => col(c) === v
      case In(c, vs) => col(c).isin(vs.toIndexedSeq: _*)
      case And(l, r) => column(l) && column(r)
      case Or(l, r) => column(l) || column(r)
    }
    // the unpruned read, as a relation no pruning reaches
    val flat = spark.createDataFrame(
      java.util.Arrays.asList(unpruned.collect(): _*), unpruned.schema)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSet
    var pruning = 0
    (1 to 200).foreach { i =>
      val f = tree(3)
      val keep = CopcPrune.keepMask(info, Array(f), -1)
      if (keep != null && keep.exists(!_)) pruning += 1
      if (keep != null) keep.indices.filterNot(keep).foreach { c =>
        assert(!byChunk(c).exists(eval(f, _)), s"tree $i: $f pruned chunk $c holding a match")
      }
      // end to end on a sample: the pruned read equals a filter over the
      // unpruned read
      if (i % 20 == 0)
        assert(rows(spark.read.las(dir).where(column(f))) == rows(flat.where(column(f))),
          s"tree $i: $f")
    }
    assert(pruning >= 20, s"only $pruning of 200 trees pruned a chunk")
    // Spark orders NaN above every value: `time < NaN` holds for every
    // record, so neither the gps-range file skip nor a chunk may drop one
    assert(spark.read.las(dir).where($"time" < Double.NaN).count() == 40000)
    // an Or of two disjoint x slices plans fewer chunk splits
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val nFull = plannedSplits(spark.read.las(dir)).size
      val slices = spark.read.las(dir).where($"x" < 10000 || $"x" >= 90000)
      assert(plannedSplits(slices).size < nFull)
      assert(rows(slices) == rows(flat.where($"x" < 10000 || $"x" >= 90000)))
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("a point outside the declared cube is rejected at write time") {
    val err = intercept[Exception] {
      fmt6Points(500).coalesce(1).writeLaz(tmpDir("copc-lie"), Map(
        "scale" -> "0.01",
        // cube that cannot contain x up to 100000*0.01 = 1000.0
        "copc.cube" -> "5,5,0,10", "copc.level" -> "2"))
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: chain(t.getCause)
    assert(chain(err).exists(_.contains("outside the declared copc.cube")))
  }

  test("copc.files range-partitions into spatially disjoint files so whole files skip") {
    val dir = tmpDir("copc-files")
    // 4 input partitions with interleaved x so, WITHOUT the range
    // shuffle, every task file would span the whole x range
    fmt6Points(32000).repartition(4)
      .writeCopc(dir, Map("scale" -> "0.01", "copc.files" -> "4",
        "copc.nodepoints" -> "2048"))
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".laz")).sortBy(_.getName)
    assert(files.length == 4)
    // per-file header bboxes: the voxel key is x-major, so range
    // partitioning must make each file's x span a FRACTION of the
    // global span (disjoint up to one shared voxel band at each seam)
    val spans = files.map { f =>
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val in = new java.io.ByteArrayInputStream(bytes)
      val h = try graft.pointcloud.las.LasHeader.read(f.toString, in) finally in.close()
      (h.pMin(0), h.pMax(0))
    }
    val globalSpan = spans.map(_._2).max - spans.map(_._1).min
    spans.foreach { case (lo, hi) =>
      assert(hi - lo < 0.6 * globalSpan,
        s"file span [$lo, $hi] not a fraction of the global $globalSpan")
    }
    // a narrow-x box must make whole files ineligible at the header
    // (SectionSkip) level: count files whose bbox intersects it
    val touching = spans.count { case (lo, hi) => hi >= 100.0 && lo <= 250.0 }
    assert(touching < files.length, "a narrow box must skip whole files")
    // and the read over that box stays exact
    val got = spark.read.las(dir).where($"x" >= 10000 && $"x" <= 25000)
    val want = fmt6Points(32000).where($"x" >= 10000 && $"x" <= 25000)
    assert(got.count() == want.count())
    assert(got.agg(sum($"x".cast("bigint")), sum($"z".cast("bigint"))).head() ==
      want.agg(sum($"x".cast("bigint")), sum($"z".cast("bigint"))).head())
  }

  test("a bbox-subscribed stream over a COPC dir emits exactly the box (pruned)") {
    // Spark never pushes predicates into a micro-batch source, so the
    // bbox OPTION is the streaming pushdown channel: the source must
    // emit exactly the in-box records (readers apply the box via
    // RecordPredicate) and numInputRows == box count < file count is
    // direct evidence chunk pruning + exact residue both fired
    val dir = tmpDir("copc-stream")
    val out = tmpDir("copc-stream-out")
    val pts = fmt6Points(30000)
    pts.coalesce(1).writeCopc(dir, Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    val q = spark.readStream
      .schema(spark.read.las(dir).schema)
      .format("las").option("bbox", "10000,30000,*,*,*,*").load(dir)
      .select($"x", $"z").writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", tmpDir("copc-stream-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val want = pts.where($"x" >= 10000 && $"x" <= 30000)
    val wantN = want.count()
    val sourceRows = q.recentProgress.map(_.numInputRows).sum
    assert(sourceRows == wantN,
      s"source emitted $sourceRows rows, the box holds $wantN")
    assert(wantN < 30000)
    val got = spark.read.parquet(out)
    assert(got.count() == wantN)
    assert(got.agg(sum($"x".cast("bigint")), sum($"z".cast("bigint"))).head() ==
      want.agg(sum($"x".cast("bigint")), sum($"z".cast("bigint"))).head())
  }

  test("the batch scan honors the same bbox option, including planning-time pruning") {
    val dir = tmpDir("copc-bbox-batch")
    val pts = fmt6Points(30000)
    pts.coalesce(1).writeCopc(dir, Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    val want = pts.where($"x" >= 10000 && $"x" <= 30000)
    val got = spark.read.format("las").option("bbox", "10000,30000,*,*,*,*").load(dir)
    // no WHERE anywhere: the option alone must bound the result
    assert(got.count() == want.count())
    assert(got.agg(sum($"x".cast("bigint")), sum($"z".cast("bigint"))).head() ==
      want.agg(sum($"x".cast("bigint")), sum($"z".cast("bigint"))).head())
    // and it prunes at planning, not just at the reader
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val nFull = plannedSplits(spark.read.las(dir)).size
      assert(plannedSplits(got).size < nFull)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    // malformed boxes fail fast with the offending token
    val err = intercept[Exception] {
      spark.read.format("las").option("bbox", "1,2,3").load(dir).count()
    }
    assert(err.getMessage.contains("bbox"))
    val err2 = intercept[Exception] {
      spark.read.format("las").option("bbox", "9,1,*,*,*,*").load(dir).count()
    }
    assert(err2.getMessage.contains("inverted"))
    // NaN parses as a double but makes every comparison false — a
    // subscription that silently matches nothing must be an error
    val err3 = intercept[Exception] {
      spark.read.format("las").option("bbox", "NaN,900,*,*,*,*").load(dir).count()
    }
    assert(err3.getMessage.contains("not finite"))
    // inverted Long bounds past 2^53 must not slip through a double
    // round-trip (both sides collapse to the same double there)
    val err4 = intercept[Exception] {
      spark.read.format("las")
        .option("bbox", "9007199254740993,9007199254740992,*,*,*,*")
        .load(dir).count()
    }
    assert(err4.getMessage.contains("inverted"))
  }

  test("copc.lod distributes levels deterministically; copc.maxlevel reads the preview") {
    val dir = tmpDir("copc-lod")
    val rawDir = tmpDir("copc-lod-raw")
    val pts = fmt6Points(30000)
    pts.coalesce(1).writeLas(rawDir, Map("scale" -> "0.01"))
    pts.coalesce(1).writeCopc(dir, Map("scale" -> "0.01",
      "copc.nodepoints" -> "2048", "copc.lod" -> "true"))
    // full read: LOD redistributes rows across levels, loses NOTHING
    val full = spark.read.las(dir)
    assert(full.count() == 30000)
    assert(collectAll(full) == collectAll(spark.read.las(rawDir)))
    // the hierarchy really is multi-level (data entries above the leaf)
    val (_, info, _) = lazInfoOf(dir)
    assert(info.chunkLevels != null)
    val levels = info.chunkLevels.toSeq.distinct.sorted
    assert(levels.size > 1, s"expected a multi-level LOD hierarchy, got $levels")
    val leaf = levels.max
    // the preview read returns EXACTLY the deterministic level slice —
    // re-derive each row's level driver-side with the same arithmetic
    val expectPreview = pts.collect().count { r =>
      Copc.lodLevel(Copc.lodHash(r.getAs[Int]("x"), r.getAs[Int]("y"),
        r.getAs[Int]("z")), leaf) <= leaf - 1
    }
    val preview = spark.read.format("las")
      .option("copc.maxlevel", (leaf - 1).toString).load(dir)
    assert(preview.count() == expectPreview)
    assert(expectPreview > 0 && expectPreview < 30000)
    // preview composes with bbox: both masks apply, result stays exact
    val both = spark.read.format("las")
      .option("copc.maxlevel", (leaf - 1).toString).load(dir)
      .where($"x" >= 10000 && $"x" <= 60000)
    val expectBoth = pts.collect().count { r =>
      val x = r.getAs[Int]("x")
      x >= 10000 && x <= 60000 &&
        Copc.lodLevel(Copc.lodHash(x, r.getAs[Int]("y"),
          r.getAs[Int]("z")), leaf) <= leaf - 1
    }
    assert(both.count() == expectBoth)
  }

  test("a copc.maxlevel stream plans coarse chunks only and emits exactly the preview") {
    // the read option is the stream's only pushdown channel (Spark never
    // pushes predicates into a micro-batch source): the source must emit
    // exactly the deterministic preview slice, and numInputRows == that
    // count < full count is split-level evidence the leaf chunks were
    // never planned, not filtered after decode
    val dir = tmpDir("copc-lod-stream")
    val out = tmpDir("copc-lod-stream-out")
    val pts = fmt6Points(30000)
    pts.coalesce(1).writeCopc(dir, Map("scale" -> "0.01",
      "copc.nodepoints" -> "2048", "copc.lod" -> "true"))
    val (_, info, _) = lazInfoOf(dir)
    val leaf = info.chunkLevels.max
    val expectPreview = pts.collect().count { r =>
      Copc.lodLevel(Copc.lodHash(r.getAs[Int]("x"), r.getAs[Int]("y"),
        r.getAs[Int]("z")), leaf) <= leaf - 1
    }
    val q = spark.readStream
      .schema(spark.read.las(dir).schema)
      .format("las").option("copc.maxlevel", (leaf - 1).toString).load(dir)
      .select($"x", $"z").writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", tmpDir("copc-lod-stream-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val sourceRows = q.recentProgress.map(_.numInputRows).sum
    assert(sourceRows == expectPreview,
      s"stream emitted $sourceRows rows, the preview slice holds $expectPreview")
    assert(expectPreview > 0 && expectPreview < 30000)
    assert(spark.read.parquet(out).count() == expectPreview)
  }

  test("copc.maxlevel rejects malformed values and non-COPC sources") {
    // over-delivering the FULL corpus where a ~1/8 preview was declared
    // would be silent wrongness — the option fails instead (the bbox
    // precedent), and a typo'd value fails as a parse error, not an
    // empty result
    val lasDir = tmpDir("ml-las")
    fmt6Points(500).coalesce(1).writeLas(lasDir, Map("scale" -> "0.01"))
    val e1 = intercept[Exception] {
      spark.read.format("las").option("copc.maxlevel", "1").load(lasDir).count()
    }
    assert(e1.getMessage.contains("octree index"))
    // a stream checks the same rule and fails with the same message: on
    // the files present at start, and on a file that arrives later
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    def previewStream(dir: String, tag: String) = spark.readStream
      .schema(spark.read.las(dir).schema)
      .format("las").option("copc.maxlevel", "1").load(dir)
      .writeStream.format("noop")
      .option("checkpointLocation", tmpDir(tag))
      .start()
    val q = previewStream(lasDir, "ml-las-ckpt")
    val e3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try q.processAllAvailable() finally q.stop()
    }
    assert(rootCause(e3).getMessage == rootCause(e1).getMessage)
    val arrivals = tmpDir("ml-arrivals")
    fmt6Points(500).coalesce(1).writeCopc(arrivals, Map("scale" -> "0.01"))
    val q2 = previewStream(arrivals, "ml-arrivals-ckpt")
    val e4 = try {
      q2.processAllAvailable()
      // staged, then moved in atomically, so the stream never lists a
      // half-copied file
      val las = new java.io.File(lasDir).listFiles().filter(_.getName.endsWith(".las")).head
      val staged = java.nio.file.Paths.get(tmpDir("ml-stage"), las.getName)
      Files.copy(las.toPath, staged)
      Files.move(staged, java.nio.file.Paths.get(arrivals, las.getName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
    } finally q2.stop()
    val e5 = intercept[Exception] {
      spark.read.format("las").option("copc.maxlevel", "1").load(arrivals).count()
    }
    assert(rootCause(e5).getMessage.contains("octree index"))
    assert(rootCause(e4).getMessage == rootCause(e5).getMessage)
    val e2 = intercept[Exception] {
      spark.read.format("las").option("copc.maxlevel", "x").load(lasDir).count()
    }
    assert(e2.getMessage.contains("not an integer"))
    // an EMPTY task file (a partition that received zero rows) in a
    // multi-task COPC layout must not block a declared preview — it
    // honors it trivially (the r14 bench incident: two 0-point files
    // failed the whole pc30 read)
    val dirM = tmpDir("ml-empty")
    val pts = fmt6Points(6000)
    // the empty arm must not be STATICALLY empty (PropagateEmptyRelation
    // would erase it) nor AQE-coalesced away (adaptive shuffle reads drop
    // 0-row partitions): a never-true runtime filter + AQE off keeps the
    // zero-row task alive so it writes its empty container
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try pts.repartition(2).union(pts.filter($"intensity" < -1).repartition(1))
      .writeCopc(dirM, Map("scale" -> "0.01", "copc.nodepoints" -> "512",
        "copc.lod" -> "true"))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val files = new java.io.File(dirM).listFiles().filter(_.getName.endsWith(".laz"))
    assert(files.length == 3)
    val n = spark.read.format("las").option("copc.maxlevel", "0").load(dirM).count()
    assert(n > 0 && n < 6000)
  }

  test("a laz-less empty section does not break copc.maxlevel stats estimation") {
    // an empty UNCOMPRESSED task file (zero-count, laz = None) in a COPC
    // directory is admitted by the scan's construction require; stats
    // estimation must treat it as 0 preview rows, not throw on laz.get
    val dir = tmpDir("ml-stats")
    val pts = fmt6Points(6000)
    pts.coalesce(1).writeCopc(dir, Map("scale" -> "0.01",
      "copc.nodepoints" -> "512", "copc.lod" -> "true"))
    val emptyDir = tmpDir("ml-stats-empty")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try pts.filter($"intensity" < -1).repartition(1)
      .writeLas(emptyDir, Map("scale" -> "0.01"))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val empty = new java.io.File(emptyDir).listFiles()
      .filter(_.getName.endsWith(".las")).head
    java.nio.file.Files.copy(empty.toPath,
      java.nio.file.Paths.get(dir, empty.getName))
    val df = spark.read.format("las").option("copc.maxlevel", "0").load(dir)
    // force the stats path explicitly (the crash site), then the read
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0)
    val n = df.count()
    assert(n > 0 && n < 6000)
  }

  test("gpstime range predicates skip whole files via the COPC info VLR") {
    val dir = tmpDir("copc-gps")
    val pts = fmt6Points(8000) // time = id*0.25 -> [0, 2000)
    // two appended batches with IDENTICAL xyz but disjoint gps ranges:
    // any file skipped under a time predicate is skipped by the gps
    // range alone, never by the bbox
    pts.coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    pts.withColumn("time", $"time" + 100000.0).coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"), mode = "append")
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".laz"))
    assert(files.length == 2, "append must land beside the first file")
    // the resolve attaches the gps range from the info VLR
    val (_, info, _) = lazInfoOf(dir)
    assert(info.gpsRange != null)
    val full = spark.read.las(dir)
    assert(full.count() == 16000)
    val nFull = plannedSplits(full).size
    val sliced = spark.read.las(dir).where($"time" >= 100000.0)
    assert(plannedSplits(sliced).size < nFull,
      "a time-range predicate must skip the out-of-range file at planning")
    assert(sliced.count() == 8000)
    assert(sliced.agg(min($"time")).head().getDouble(0) == 100000.0)
    // a window spanning both ranges keeps both files and stays exact
    val both = spark.read.las(dir)
      .where($"time" >= 1000.0 && $"time" <= 101000.0)
    assert(both.count() ==
      pts.filter($"time" >= 1000.0).count() +
        pts.filter($"time" + 100000.0 <= 101000.0).count())
  }

  test("a timerange-subscribed stream skips out-of-range files and emits exactly the window") {
    // the temporal twin of the bbox subscription: Spark never pushes
    // predicates into a micro-batch source, so a consumer tailing the
    // lake for one time window DECLARES it; the gps-range file skip
    // must keep numInputRows at the window's count, and the record
    // predicate makes the window exact
    val dir = tmpDir("copc-tr")
    val out = tmpDir("copc-tr-out")
    val pts = fmt6Points(8000) // time = id*0.25 -> [0, 2000)
    pts.coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    pts.withColumn("time", $"time" + 100000.0).coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"), mode = "append")
    val q = spark.readStream
      .schema(spark.read.las(dir).schema)
      .format("las").option("timerange", "100500,*").load(dir)
      .select($"x", $"time").writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", tmpDir("copc-tr-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val wantN = pts.filter($"time" + 100000.0 >= 100500.0).count()
    val sourceRows = q.recentProgress.map(_.numInputRows).sum
    assert(sourceRows == wantN,
      s"stream emitted $sourceRows rows, the window holds $wantN")
    assert(wantN > 0 && wantN < 16000)
    val got = spark.read.parquet(out)
    assert(got.count() == wantN)
    assert(got.agg(min($"time")).head().getDouble(0) == 100500.0)
    // batch honors the identical option, with planning-time file skip
    val batch = spark.read.format("las")
      .option("timerange", "100500,*").load(dir)
    assert(batch.count() == wantN)
    assert(plannedSplits(batch).size <
      plannedSplits(spark.read.las(dir)).size)
    // malformed windows fail fast
    val e1 = intercept[Exception] {
      spark.read.format("las").option("timerange", "9,1").load(dir).count()
    }
    assert(e1.getMessage.contains("inverted"))
    val e2 = intercept[Exception] {
      spark.read.format("las").option("timerange", "NaN,5").load(dir).count()
    }
    assert(e2.getMessage.contains("not finite"))
    val e3 = intercept[Exception] {
      spark.read.format("las").option("timerange", "*,*").load(dir).count()
    }
    assert(e3.getMessage.contains("binds nothing"))
  }

  test("bbox and timerange subscriptions compose on one stream") {
    // a consumer can subscribe to a REGION and a TIME WINDOW at once:
    // both option families synthesize into the same filter set, so the
    // stream must emit exactly the conjunction
    val dir = tmpDir("copc-both")
    val out = tmpDir("copc-both-out")
    val pts = fmt6Points(8000) // time = id*0.25 -> [0, 2000)
    pts.coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    pts.withColumn("time", $"time" + 100000.0).coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"), mode = "append")
    val q = spark.readStream
      .schema(spark.read.las(dir).schema)
      .format("las")
      .option("bbox", "10000,60000,*,*,*,*")
      .option("timerange", "100000,*").load(dir)
      .select($"x", $"time").writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", tmpDir("copc-both-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val wantN = pts.filter($"x" >= 10000 && $"x" <= 60000).count()
    val sourceRows = q.recentProgress.map(_.numInputRows).sum
    assert(sourceRows == wantN,
      s"stream emitted $sourceRows rows, the box-and-window holds $wantN")
    assert(wantN > 0 && wantN < 8000)
    val got = spark.read.parquet(out)
    assert(got.count() == wantN)
    assert(got.agg(min($"time")).head().getDouble(0) >= 100000.0)
    assert(got.agg(min($"x")).head().getInt(0) >= 10000)
  }

  test("an unknown (0/0) gps range never skips a file; records stay exact") {
    // the published sentinel for "gps range not populated" is 0/0 —
    // a file whose time column is all null writes it; the planner must
    // keep the file (conservative) and the record predicate alone
    // decides
    val dir = tmpDir("copc-gps0")
    val pts = fmt6Points(4000).withColumn("time", lit(null).cast("double"))
    pts.coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    val (_, info, _) = lazInfoOf(dir)
    assert(info.gpsRange == null, "0/0 sentinel must not become a range")
    val full = spark.read.las(dir)
    val nFull = plannedSplits(full).size
    // nulls never match a range predicate: zero rows, but the FILE was
    // not skipped at planning (partition count unchanged — the pruning
    // had no gps evidence to act on)
    val sliced = spark.read.las(dir).where($"time" >= 1.0 && $"time" <= 2.0)
    assert(plannedSplits(sliced).size == nFull)
    assert(sliced.count() == 0)
    assert(full.count() == 4000)
  }

  test("a file mixing null and non-null times widens its gps range to the nulls' encoded 0.0") {
    // null times ENCODE as raw 0.0 and read back as time=0.0; a range
    // built from the non-null values alone ([500, 1500]) would let a
    // pushed `time <= 1` predicate whole-file-skip rows the record
    // predicate matches — the gps range must stay conservative wrt
    // READ-BACK values, so a mixed file widens it to include 0.0
    val dir = tmpDir("copc-gpsmix")
    val pts = fmt6Points(4000).withColumn("time",
      when($"x" % 2 === 0, $"time" + 500.0)) // odd-x rows: null time
    pts.coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    val (_, info, _) = lazInfoOf(dir)
    assert(info.gpsRange != null, "a mixed file still declares a range")
    assert(info.gpsRange(0) == 0.0,
      s"gps range min ${info.gpsRange(0)} must widen to the nulls' encoded 0.0")
    assert(info.gpsRange(1) >= 500.0)
    // the window that only the null rows' encoded zeros satisfy: the
    // file must NOT be skipped, and the read-back zeros must all match
    val zeros = spark.read.las(dir).where($"time" >= -1.0 && $"time" <= 1.0)
    assert(zeros.count() == pts.filter($"x" % 2 =!= 0).count(),
      "the widened range must keep the file; encoded-zero rows match the window")
  }

  test("compacting an LOD layout with copc.lod preserves the preview read") {
    val frag = tmpDir("copc-lodfrag")
    val compact = tmpDir("copc-lodcompact")
    val pts = fmt6Points(30000)
    // fixed leaf level so the fragment and the compacted rewrite agree
    // on the deterministic level split
    val opts = Map("scale" -> "0.01", "copc.nodepoints" -> "2048",
      "copc.lod" -> "true", "copc.level" -> "2")
    pts.filter($"x" % 2 === 0).coalesce(1).writeCopc(frag, opts)
    pts.filter($"x" % 2 === 1).coalesce(1).writeCopc(frag, opts, mode = "append")
    graft.pointcloud.syntax.compactCopc(spark, frag, compact,
      opts + ("copc.files" -> "2"))
    // full read lossless
    assert(collectAll(spark.read.las(compact)) == collectAll(spark.read.las(frag)))
    // the preview slice is a deterministic function of the raw
    // coordinates, so it survives compaction exactly
    val expectPreview = pts.collect().count { r =>
      Copc.lodLevel(Copc.lodHash(r.getAs[Int]("x"), r.getAs[Int]("y"),
        r.getAs[Int]("z")), 2) <= 1
    }
    val preview = spark.read.format("las")
      .option("copc.maxlevel", "1").load(compact)
    assert(preview.count() == expectPreview)
    assert(expectPreview > 0 && expectPreview < 30000)
  }

  test("append into a copc.files layout leaves old files byte-identical and pruning still fires") {
    val dir = tmpDir("copc-append")
    val pts = fmt6Points(32000)
    pts.filter($"x" % 5 =!= 1).repartition(4).writeCopc(dir,
      Map("scale" -> "0.01", "copc.files" -> "4", "copc.nodepoints" -> "2048"))
    val before = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".laz"))
      .map(f => (f.getName, f.length)).sortBy(_._1).toSeq
    pts.filter($"x" % 5 === 1).coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"), mode = "append")
    val after = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".laz"))
      .map(f => (f.getName, f.length)).sortBy(_._1).toSeq
    assert(after.length == before.length + 1,
      s"append must land new files beside the old: $before -> $after")
    before.foreach(old => assert(after.contains(old),
      s"append must not rewrite old file $old"))
    // append task files embed the FULL filename-safe queryId (a 32-char
    // UUID token), never a truncated prefix — a prefix would make the
    // "a restarted JVM's task ids can never clobber an old append"
    // guarantee merely probabilistic (the streaming sink's own
    // queryToken rationale)
    val appended = after.map(_._1).filterNot(n => before.exists(_._1 == n))
    appended.foreach { n =>
      val m = "^part-\\d{5}-\\d+-([a-zA-Z0-9]+)\\.laz$".r.findFirstMatchIn(n)
      assert(m.isDefined, s"append file '$n' lacks the query token suffix")
      assert(m.get.group(1).length >= 32,
        s"append file '$n' carries a TRUNCATED query token (${m.get.group(1).length} chars)")
    }
    val full = spark.read.las(dir)
    assert(full.count() == 32000)
    // bbox read over the union: pruned at planning, exact at the record
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val nFull = plannedSplits(spark.read.las(dir)).size
      val pruned = spark.read.las(dir).where($"x" >= 10000 && $"x" <= 25000)
      assert(plannedSplits(pruned).size < nFull,
        "bbox over the appended union must still prune chunk partitions")
      assert(pruned.count() ==
        pts.filter($"x" >= 10000 && $"x" <= 25000).count())
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("compactCopc rewrites a fragmented directory losslessly and pruning still fires") {
    val frag = tmpDir("copc-frag")
    val compact = tmpDir("copc-compact")
    val pts = fmt6Points(32000)
    // a season of appends: 4 batches, each its own file/cube/octree
    (0 until 4).foreach { b =>
      pts.filter($"x" % 4 === b).coalesce(1).writeCopc(frag,
        Map("scale" -> "0.01", "copc.nodepoints" -> "2048"),
        mode = if (b == 0) "overwrite" else "append")
    }
    val fragFiles = new java.io.File(frag).listFiles()
      .count(_.getName.endsWith(".laz"))
    assert(fragFiles == 4)
    graft.pointcloud.syntax.compactCopc(spark, frag, compact,
      Map("scale" -> "0.01", "copc.files" -> "2", "copc.nodepoints" -> "2048"))
    val compactFiles = new java.io.File(compact).listFiles()
      .count(_.getName.endsWith(".laz"))
    assert(compactFiles == 2, s"expected 2 compacted files, got $compactFiles")
    // lossless: same rows, value for value (fid/pid are positional)
    assert(collectAll(spark.read.las(compact)) == collectAll(spark.read.las(frag)))
    // the compacted layout prunes at planning like any fresh writeCopc
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val nFull = plannedSplits(spark.read.las(compact)).size
      val pruned = spark.read.las(compact).where($"x" >= 10000 && $"x" <= 25000)
      assert(plannedSplits(pruned).size < nFull)
      assert(pruned.count() ==
        pts.filter($"x" >= 10000 && $"x" <= 25000).count())
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("chunkcap overflow splits level-locally: every hierarchy key single-entry, values exact") {
    // 20000 points forced into a shallow octree (level 1) with a tiny
    // chunk cap: the old encoding emitted ~78 cap-sized chunks sharing
    // 8 voxel keys (off-spec for foreign readers); the splitter must
    // descend until each chunk owns its voxel
    val dir = tmpDir("copc-split")
    val twin = tmpDir("copc-split-twin")
    val pts = fmt6Points(20000)
    pts.coalesce(1).writeCopc(dir, Map("scale" -> "0.01", "copc.level" -> "1",
      "copc.chunkcap" -> "256", "copc.overflowbuffer" -> "32768"))
    pts.coalesce(1).writeCopc(twin, Map("scale" -> "0.01",
      "copc.nodepoints" -> "2048")) // an ordinary non-overflowing layout
    // value-identical read
    assert(collectAll(spark.read.las(dir)) == collectAll(spark.read.las(twin)))
    // hierarchy: every (level,x,y,z) key appears ONCE, splitting went
    // deeper than the declared leaf level, and the point total holds
    val (header, _, bytes) = lazInfoOf(dir)
    def readAt(off: Long, len: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    val ci = Copc.readInfo(header, readAt).get
    val data = Copc.readDataEntries(ci, readAt, bytes.length.toLong)
    val dup = data.groupBy(e => (e.level, e.x, e.y, e.z)).filter(_._2.size > 1)
    assert(dup.isEmpty, s"multi-entry keys survived the split: ${dup.keys.take(3)}")
    assert(data.map(_.pointCount.toLong).sum == 20000L)
    assert(data.forall(_.pointCount <= 256),
      s"a chunk exceeds the cap: ${data.map(_.pointCount).max}")
    assert(data.exists(_.level > 1), "overflow must descend below the leaf level")
    // split chunks still prune: a narrow x-box reads fewer partitions
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val nFull = plannedSplits(spark.read.las(dir)).size
      val pruned = spark.read.las(dir).where($"x" >= 10000 && $"x" <= 25000)
      assert(plannedSplits(pruned).size < nFull)
      assert(pruned.count() ==
        pts.filter($"x" >= 10000 && $"x" <= 25000).count())
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    // past copc.overflowbuffer the run SPILLS to a task-local temp file
    // and still splits level-locally — single-entry keys are now
    // UNCONDITIONAL on run length (the old memory-bound fallback
    // re-shared keys; r16's one remaining foreign-reader caveat).
    // copc.level 0 puts ALL 20000 points in one level-0 voxel run, 20×
    // the 1024-point buffer — the spill path end to end
    val capped = tmpDir("copc-split-capped")
    pts.coalesce(1).writeCopc(capped, Map("scale" -> "0.01", "copc.level" -> "0",
      "copc.chunkcap" -> "256", "copc.overflowbuffer" -> "1024"))
    assert(spark.read.las(capped).count() == 20000)
    assert(collectAll(spark.read.las(capped)) == collectAll(spark.read.las(twin)))
    val (cheader, _, cbytes) = lazInfoOf(capped)
    def creadAt(off: Long, len: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(cbytes, off.toInt, off.toInt + len)
    val cci = Copc.readInfo(cheader, creadAt).get
    val cdata = Copc.readDataEntries(cci, creadAt, cbytes.length.toLong)
    val cdup = cdata.groupBy(e => (e.level, e.x, e.y, e.z)).filter(_._2.size > 1)
    assert(cdup.isEmpty, s"spilled run re-shared keys: ${cdup.keys.take(3)}")
    assert(cdata.map(_.pointCount.toLong).sum == 20000L)
    assert(cdata.forall(_.pointCount <= 256))
    // no spill residue survives the write
    val strays = java.nio.file.Files.list(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      .iterator()
    var leaked = List.empty[String]
    while (strays.hasNext) {
      val n = strays.next().getFileName.toString
      if (n.startsWith("graft-copc-run")) leaked ::= n
    }
    assert(leaked.isEmpty, s"run spill files leaked: $leaked")
    // the DEFAULT overflow bound (no option set) on an overflowing run:
    // the r16 probe caught a val-initialization-order bug where the
    // default read a not-yet-initialized chunk cap as 0 and the first
    // buffer growth zeroed the run buffer (arraycopy into byte[0]) —
    // this exercises growth AND the default bound-hit flush
    val dflt = tmpDir("copc-split-dflt")
    pts.coalesce(1).writeCopc(dflt, Map("scale" -> "0.01", "copc.level" -> "1",
      "copc.chunkcap" -> "256"))
    assert(spark.read.las(dflt).count() == 20000)
    assert(collectAll(spark.read.las(dflt)) == collectAll(spark.read.las(twin)))
  }

  test("deleteFromCopc: straddled files rewritten in place, disjoint untouched, emptied deleted") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("copc-takedown")
    val pts = fmt6Points(8000)
      .withColumn("time", ($"x" % 2).cast("double") * lit(1000000.0) +
        $"y".cast("double"))
    // two time bands in two appended files
    pts.filter($"x" % 2 === 0).coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    pts.filter($"x" % 2 === 1).coalesce(1).writeCopc(dir,
      Map("scale" -> "0.01", "copc.nodepoints" -> "2048"), mode = "append")
    def files(): Map[String, String] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".laz"))
        .map { f =>
          md.reset()
          f.getName -> md.digest(java.nio.file.Files.readAllBytes(f.toPath))
            .map("%02x".format(_)).mkString
        }.toMap
    }
    val before = files()
    assert(before.size == 2)
    // a window INSIDE band 1: the band-1 file must be rewritten in
    // place (same name, different bytes), the band-0 file untouched
    val touched = graft.pointcloud.syntax.deleteFromCopc(spark, dir,
      1000000.0, 1000400.0, Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    assert(touched.size == 1, s"expected 1 touched file, got $touched")
    val after = files()
    assert(after.keySet == before.keySet, "in-place rewrite must keep filenames")
    val changed = after.filter { case (f, h) => before(f) != h }.keys.toSeq
    assert(changed.size == 1 && touched.head.endsWith(changed.head))
    // value contract: exactly the anti-filtered source survives —
    // compared through a reference write of the expected survivors so
    // both sides flow through the identical encode/decode path
    val expect = pts.filter(!($"time" >= 1000000.0 && $"time" <= 1000400.0))
    val twin = tmpDir("copc-takedown-twin")
    expect.coalesce(1).writeCopc(twin, Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    assert(spark.read.las(dir).count() == expect.count())
    assert(collectAll(spark.read.las(dir)) == collectAll(spark.read.las(twin)))
    // a window covering ALL of band 0: its file is deleted outright
    val touched2 = graft.pointcloud.syntax.deleteFromCopc(spark, dir,
      0.0, 999999.0, Map("scale" -> "0.01", "copc.nodepoints" -> "2048"))
    assert(touched2.size == 1)
    assert(files().size == 1, "a fully-emptied file must disappear")
    assert(spark.read.las(dir).count() ==
      pts.filter($"x" % 2 === 1 &&
        !($"time" >= 1000000.0 && $"time" <= 1000400.0)).count())
    // an all-missing window is a no-op
    assert(graft.pointcloud.syntax.deleteFromCopc(spark, dir,
      9e9, 9.1e9, Map("scale" -> "0.01")).isEmpty)
  }

  test("deleteFromCopc: a window straddling several files rewrites them concurrently, value-identical") {
    import org.apache.spark.sql.functions._
    val dir = tmpDir("copc-takedown-par")
    // four time bands in four appended files: band k holds
    // times k*1e6 + y (y in [0, 900))
    val pts = fmt6Points(8000)
      .withColumn("time", ($"x" % 4).cast("double") * lit(1000000.0) +
        $"y".cast("double"))
    val opts = Map("scale" -> "0.01", "copc.nodepoints" -> "2048")
    (0 until 4).foreach { k =>
      pts.filter($"x" % 4 === k).coalesce(1).writeCopc(dir, opts,
        mode = if (k == 0) "overwrite" else "append")
    }
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".laz")) == 4)
    // one contiguous window straddling EVERY band's file ([500, 3000400]
    // covers band 0 partially from y >= 500, bands 1-2 fully, band 3 up
    // to y <= 400) — the >1-affected-files path runs the rewrites from
    // the driver pool; band 1 and 2's files are deleted outright, bands
    // 0 and 3 rewritten in place
    val removeLo = 500.0
    val removeHi = 3000400.0
    val touched = graft.pointcloud.syntax.deleteFromCopc(spark, dir,
      removeLo, removeHi, opts)
    assert(touched.size == 4, s"expected all 4 files affected, got $touched")
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".laz")) == 2,
      "fully-covered band files must be deleted")
    // value contract: exactly the anti-filtered source survives, via a
    // reference write through the identical encode/decode path
    val expect = pts.filter(!($"time" >= removeLo && $"time" <= removeHi))
    val twin = tmpDir("copc-takedown-par-twin")
    expect.coalesce(1).writeCopc(twin, opts)
    assert(spark.read.las(dir).count() == expect.count())
    assert(collectAll(spark.read.las(dir)) == collectAll(spark.read.las(twin)))
  }

  test("a legal chunkcap past 2^22 with no explicit overflowbuffer still writes") {
    // the default overflow bound used to be min(8*cap, 2^22), which for
    // caps in (2^22, 2^24] fell BELOW the cap and aborted the write with
    // a message about an option the user never set; the default now
    // floors at the cap itself
    val dir = tmpDir("copc-bigcap")
    val pts = fmt6Points(2000)
    pts.coalesce(1).writeCopc(dir, Map("scale" -> "0.01", "copc.level" -> "1",
      "copc.chunkcap" -> (1 << 23).toString))
    assert(spark.read.las(dir).count() == 2000)
    // an EXPLICITLY sub-cap bound still trips the loud require
    val err = intercept[org.apache.spark.SparkException] {
      pts.coalesce(1).writeCopc(tmpDir("copc-bigcap-bad"),
        Map("scale" -> "0.01", "copc.level" -> "1",
          "copc.chunkcap" -> (1 << 23).toString,
          "copc.overflowbuffer" -> "1024"))
    }
    assert(Option(err.getMessage).getOrElse("").contains("overflowBuffer") ||
      Option(err.getCause).exists(c =>
        Option(c.getMessage).getOrElse("").contains("overflowBuffer")))
  }

  test("copc.pageentries splits the hierarchy into a page graph that reads back exactly") {
    val dir = tmpDir("copc-paged")
    val flat = tmpDir("copc-flat")
    val pts = fmt6Points(20000)
    pts.coalesce(1).writeCopc(dir, Map("scale" -> "0.01",
      "copc.nodepoints" -> "2048", "copc.pageentries" -> "4"))
    pts.coalesce(1).writeCopc(flat, Map("scale" -> "0.01",
      "copc.nodepoints" -> "2048"))
    // the paged file reads back value-identically to its flat twin
    assert(collectAll(spark.read.las(dir)) == collectAll(spark.read.las(flat)))
    def graphOf(d: String) = {
      val (header, _, bytes) = lazInfoOf(d)
      def readAt(off: Long, len: Int): Array[Byte] =
        java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
      val ci = Copc.readInfo(header, readAt).get
      (ci, readAt _, bytes.length.toLong)
    }
    // the root page is a PROPER page graph: bounded size, and at least
    // one child-page reference entry (pointCount -1)
    val (ci, readAt, len) = graphOf(dir)
    val rootEntries = Copc.parseEntries(
      readAt(ci.rootHierOffset, ci.rootHierSize.toInt))
    assert(rootEntries.exists(_.pointCount == -1),
      s"paged hierarchy must carry child-page references, got $rootEntries")
    val (fci, freadAt, flen) = graphOf(flat)
    val flatRoot = Copc.parseEntries(freadAt(fci.rootHierOffset, fci.rootHierSize.toInt))
    assert(flatRoot.forall(_.pointCount != -1), "flat twin must stay single-page")
    assert(ci.rootHierSize < fci.rootHierSize,
      "the paged root page must be smaller than the monolithic one")
    // walking the page graph yields EXACTLY the flat twin's data entries
    def key(e: Copc.Entry) = (e.level, e.x, e.y, e.z, e.byteSize, e.pointCount)
    val paged = Copc.readDataEntries(ci, readAt, len).map(key).sorted
    val unpaged = Copc.readDataEntries(fci, freadAt, flen).map(key).sorted
    assert(paged == unpaged,
      s"page graph lost/invented entries: ${paged.size} vs ${unpaged.size}")
    assert(paged.nonEmpty)
    // chunk pruning still fires through the page graph
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try {
      val nFull = plannedSplits(spark.read.las(dir)).size
      val pruned = spark.read.las(dir).where($"x" >= 10000 && $"x" <= 25000)
      assert(plannedSplits(pruned).size < nFull,
        "bbox pruning must bind through the paged hierarchy")
      assert(pruned.count() ==
        pts.filter($"x" >= 10000 && $"x" <= 25000).count())
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("hierarchy paging round-trips arbitrary entry sets at any page budget") {
    // property sweep (seeded): random octree entry sets — mixed levels,
    // duplicate voxels (the multi-entry overflow shape), empty ancestor
    // entries — paged at random budgets must walk back to EXACTLY the
    // data entries, and a budget covering everything must serialize
    // byte-identically to the unpaged layout
    val rnd = new scala.util.Random(20260815L)
    for (iter <- 0 until 50) {
      val maxLevel = 1 + rnd.nextInt(6)
      val n = 1 + rnd.nextInt(300)
      val entries = (0 until n).map { _ =>
        val l = rnd.nextInt(maxLevel + 1)
        val m = 1 << l
        Copc.Entry(l, rnd.nextInt(m), rnd.nextInt(m), rnd.nextInt(m),
          math.abs(rnd.nextLong()) % (1L << 40), 1 + rnd.nextInt(1 << 20),
          if (rnd.nextInt(5) == 0) 0 else 1 + rnd.nextInt(1 << 16))
      }
      // the writer always ships the ancestor closure, so the page tree
      // has a level-0 root to hang references from
      val all = Copc.ancestorEntries(entries.filter(_.pointCount > 0)) ++ entries
      val budget = 1 + rnd.nextInt(2 * all.size)
      val start = rnd.nextInt(1 << 16).toLong
      val (payload, rootSize) = Copc.pagedHierarchyPayload(all, budget, start)
      assert(rootSize <= payload.length && rootSize % Copc.EntryLen == 0)
      val file = new Array[Byte](start.toInt + payload.length)
      System.arraycopy(payload, 0, file, start.toInt, payload.length)
      def readAt(off: Long, len: Int): Array[Byte] =
        java.util.Arrays.copyOfRange(file, off.toInt, off.toInt + len)
      val info = Copc.Info(0, 0, 0, 1, 2, start, rootSize.toLong, 0, 0)
      val got = Copc.readDataEntries(info, readAt, file.length.toLong)
      def key(e: Copc.Entry) =
        (e.level, e.x, e.y, e.z, e.offset, e.byteSize, e.pointCount)
      val want = all.filter(_.pointCount > 0).map(key).sorted
      assert(got.map(key).sorted == want,
        s"iter $iter budget $budget entries ${all.size}")
      val (flat, flatRoot) = Copc.pagedHierarchyPayload(all, all.size, start)
      assert(flat.sameElements(Copc.entriesPayload(all)) && flatRoot == flat.length,
        s"iter $iter: a covering budget must be byte-identical to the unpaged layout")
    }
  }

  test("writer entry budget and reader hierarchy bound agree at the same threshold") {
    // writer side: the shared predicate trips one past the bound (tiny
    // spec bound, then the production default)
    Copc.requireEntryBudget(8, "f", bound = 8)
    val we = intercept[IllegalArgumentException] {
      Copc.requireEntryBudget(9, "f", bound = 8)
    }
    assert(we.getMessage.contains("9 entries"))
    Copc.requireEntryBudget(Copc.MaxEntries.toLong, "f")
    intercept[IllegalArgumentException] {
      Copc.requireEntryBudget(Copc.MaxEntries.toLong + 1, "f")
    }
    // reader side: a root page declaring one entry past MaxEntries is
    // rejected BEFORE any byte is read (the require precedes readAt), so
    // the two sides agree at exactly the same threshold
    val info = Copc.Info(0, 0, 0, 1, 2, rootHierOffset = 0,
      rootHierSize = (Copc.MaxEntries.toLong + 1) * Copc.EntryLen, 0, 0)
    val re = intercept[IllegalArgumentException] {
      Copc.readDataEntries(info,
        (_, _) => fail("reader bound must fire before any read"),
        Long.MaxValue)
    }
    assert(re.getMessage.contains("reader bound"))
    // and exactly AT the bound the reader proceeds to the read itself
    val okInfo = info.copy(rootHierSize = Copc.MaxEntries.toLong * Copc.EntryLen)
    val reached = intercept[RuntimeException] {
      Copc.readDataEntries(okInfo,
        (_, _) => throw new RuntimeException("reached readAt"), Long.MaxValue)
    }
    assert(reached.getMessage.contains("reached readAt"))
  }

  test("spilled run length an exact multiple of the overflow bound still flushes on key change") {
    // after spillRun, chunkFill is 0 while the spill file stays open: a
    // key change arriving exactly at that boundary must still flush the
    // run, or the next voxel's records append into the PREVIOUS voxel's
    // spill and the merged run is emitted under the later key — chunks
    // then claim points outside their voxel (octantOf clamps them into
    // the wrong subtree) and bbox chunk pruning silently drops rows.
    // 2048 low-x points (= 2 × overflowbuffer exactly) then 1024 high-x
    // points (also an exact multiple, so the bug fires whichever voxel
    // sorts first)
    val dir = tmpDir("copc-exact-spill")
    val pts = spark.range(3072).select(
      when(col("id") < 2048, (col("id") % 997).cast("int"))
        .otherwise((lit(60000) + col("id") % 997).cast("int")).as("x"),
      lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"),
      (col("id") % 4096).cast("short").as("intensity"),
      (((col("id") % 7) + 1) + lit(7 * 16)).cast("byte").as("return"),
      ((col("id") % 2) * 16).cast("byte").as("flags"),
      (col("id") % 64).cast("byte").as("classification"),
      lit(0).cast("byte").as("user"),
      ((col("id") % 3600) - 1800).cast("short").as("angle"),
      (col("id") % 3).cast("short").as("source"),
      (col("id").cast("double") * 0.25).as("time"))
    pts.coalesce(1).writeCopc(dir, Map("scale" -> "0.01", "copc.level" -> "1",
      "copc.chunkcap" -> "256", "copc.overflowbuffer" -> "1024"))
    assert(spark.read.las(dir).count() == 3072)
    // structural pin: BOTH x-halves of the octree hold entries (a merged
    // run lands entirely under one level-1 voxel's subtree)
    val (header, _, bytes) = lazInfoOf(dir)
    def readAt(off: Long, len: Int): Array[Byte] =
      java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len)
    val ci = Copc.readInfo(header, readAt).get
    val data = Copc.readDataEntries(ci, readAt, bytes.length.toLong)
    assert(data.map(_.pointCount.toLong).sum == 3072L)
    val deep = data.filter(_.level >= 1)
    assert(deep.exists(e => e.x < (1 << (e.level - 1))),
      "no hierarchy entry in the low-x half: runs merged across the key change")
    assert(deep.exists(e => e.x >= (1 << (e.level - 1))),
      "no hierarchy entry in the high-x half: runs merged across the key change")
    val dup = data.groupBy(e => (e.level, e.x, e.y, e.z)).filter(_._2.size > 1)
    assert(dup.isEmpty, s"multi-entry keys: ${dup.keys.take(3)}")
    // behavioral pin: chunk pruning answers exactly under both clusters
    assert(spark.read.las(dir).where($"x" <= 1000).count() == 2048)
    assert(spark.read.las(dir).where($"x" >= 59000).count() == 1024)
  }

  test("COPC survives schema-merged multi-file reads and header file-skip still applies") {
    val dir = tmpDir("copc-multi")
    val pts = fmt6Points(12000)
    pts.filter($"x" < 50000).coalesce(1).writeCopc(s"$dir/a", Map("scale" -> "0.01"))
    pts.filter($"x" >= 50000).coalesce(1).writeCopc(s"$dir/b", Map("scale" -> "0.01"))
    val both = spark.read.las(s"$dir/a", s"$dir/b")
    assert(both.count() == 12000)
    // file-level skip (header bbox) composes with chunk pruning: a query
    // outside file b's x range must still answer correctly
    val low = both.where($"x" < 25000)
    assert(low.count() == pts.filter($"x" < 25000).count())
  }
}
