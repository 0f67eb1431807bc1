package graft

import java.nio.file.Files

import graft.pointcloud.syntax._
import org.apache.spark.sql.functions._

/** End-to-end LAZ (compressed LAS) connector tests: write .laz through
  * the sink, read it back through the same `spark.read.las` table, and
  * require bit-exact agreement with the uncompressed twin — the
  * self-round-trip gate (no .laz fixtures exist in this environment;
  * see the laz package scaladoc for what that does and does not prove).
  */
class LazSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  /** Scan-shaped format-0 points: mostly-local x/y deltas, a few jumps. */
  private def fmt0Points(n: Int) =
    spark.range(n).select(
      ((col("id") * 13) % 2000 + (col("id") / 500) * 100000).cast("int").as("x"),
      ((col("id") * 7) % 300).cast("int").as("y"),
      ((col("id") % 50) - 25).cast("int").as("z"),
      (col("id") % 4096).cast("short").as("intensity"),
      ((col("id") % 5 + 1) + ((col("id") % 5 + 1).cast("int") * 8)).cast("byte").as("flags"),
      (col("id") % 32).cast("byte").as("classification"),
      (col("id") % 90 - 45).cast("byte").as("angle"),
      lit(0).cast("byte").as("user"),
      (col("id") % 3).cast("short").as("source"))

  private def collectAll(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.filterNot(c => c == "fid" || c == "pid").sorted
    df.select(cols.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
  }

  test("LAZ round trip equals the uncompressed scan bit for bit (format 0, multi-chunk)") {
    val pts = fmt0Points(30000)
    val lasDir = tmpDir("laz-raw")
    val lazDir = tmpDir("laz-cmp")
    pts.writeLas(lasDir, Map("scale" -> "0.01"))
    // 4k-point chunks => 8 chunks per task file: the multi-chunk path
    pts.writeLaz(lazDir, Map("scale" -> "0.01", "laz.chunkSize" -> "4096"))
    val raw = spark.read.las(lasDir)
    val laz = spark.read.las(lazDir)
    assert(laz.count() == 30000)
    assert(collectAll(laz) == collectAll(raw))
    // compression is real: the .laz payload beats the raw .las bytes
    def bytes(dir: String, ext: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(ext)).map(_.length).sum
    val rawBytes = bytes(lasDir, ".las")
    val lazBytes = bytes(lazDir, ".laz")
    assert(lazBytes < rawBytes / 2,
      s"expected >2x compression on scan-shaped points, got $rawBytes -> $lazBytes")
  }

  test("LAZ format 1 (GPS time) round trips, including constant and jumping times") {
    val pts = fmt0Points(8000).withColumn("time",
      (col("x").cast("double") * 0.001 + floor(col("y") / 100) * 1.0e6).as("time"))
    val lasDir = tmpDir("laz1-raw")
    val lazDir = tmpDir("laz1-cmp")
    pts.writeLas(lasDir)
    pts.writeLaz(lazDir, Map("laz.chunkSize" -> "1000"))
    val raw = spark.read.las(lasDir)
    val laz = spark.read.las(lazDir)
    assert(collectAll(laz) == collectAll(raw))
    assert(laz.schema("time").dataType == org.apache.spark.sql.types.DoubleType)
  }

  test("LAZ formats 2/3 (RGB) round trip, including grayscale and color runs") {
    // format 3: time + rgb; grayscale stretches (r==g==b) exercise the
    // copy-across branch, colored spans the per-channel deltas
    val pts = fmt0Points(6000)
      .withColumn("time", col("x").cast("double") * 0.5)
      .withColumn("red", (col("x") % 1000).cast("short"))
      .withColumn("green",
        when(col("y") % 3 === 0, (col("x") % 1000)).otherwise(col("y") % 700).cast("short"))
      .withColumn("blue",
        when(col("y") % 3 === 0, (col("x") % 1000)).otherwise(col("y") % 500).cast("short"))
    val lasDir = tmpDir("laz3-raw")
    val lazDir = tmpDir("laz3-cmp")
    pts.writeLas(lasDir)
    pts.writeLaz(lazDir, Map("laz.chunkSize" -> "1500"))
    assert(collectAll(spark.read.las(lazDir)) == collectAll(spark.read.las(lasDir)))
    // format 2: rgb without time
    val pts2 = pts.drop("time")
    val lazDir2 = tmpDir("laz2-cmp")
    val lasDir2 = tmpDir("laz2-raw")
    pts2.writeLas(lasDir2)
    pts2.writeLaz(lazDir2)
    assert(collectAll(spark.read.las(lazDir2)) == collectAll(spark.read.las(lasDir2)))
  }

  /** Scan-shaped LAS 1.4 format-6 points: 4-bit returns, two scanner
    * channels interleaved (flags bits 4-5), i16 angles, f64 time. */
  private def fmt6Points(n: Int) =
    spark.range(n).select(
      ((col("id") * 13) % 2000 + (col("id") / 500) * 100000).cast("int").as("x"),
      ((col("id") * 7) % 300).cast("int").as("y"),
      ((col("id") % 50) - 25).cast("int").as("z"),
      (col("id") % 4096).cast("short").as("intensity"),
      // unsigned return byte (r | n<<4) wrapped into the signed Byte domain
      when((col("id") % 9 + 1) * 17 > 127, (col("id") % 9 + 1) * 17 - 256)
        .otherwise((col("id") % 9 + 1) * 17).cast("byte").as("return"),
      (((col("id") % 2) * 16) + (col("id") % 8)).cast("byte").as("flags"),
      (col("id") % 64).cast("byte").as("classification"),
      lit(0).cast("byte").as("user"),
      ((col("id") % 3600) - 1800).cast("short").as("angle"),
      (col("id") % 3).cast("short").as("source"),
      (col("id").cast("double") * 0.0005 + floor(col("id") / 700) * 1.0e5).as("time"))

  test("LAZ layered (format 6) round trips bit-exactly, multi-chunk, two scanner channels") {
    val pts = fmt6Points(20000)
    val lasDir = tmpDir("laz6-raw")
    val lazDir = tmpDir("laz6-cmp")
    pts.writeLas(lasDir, Map("scale" -> "0.01"))
    pts.writeLaz(lazDir, Map("scale" -> "0.01", "laz.chunkSize" -> "3000"))
    val raw = spark.read.las(lasDir)
    val laz = spark.read.las(lazDir)
    assert(laz.count() == 20000)
    assert(collectAll(laz) == collectAll(raw))
    def bytes(dir: String, ext: String) =
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(ext)).map(_.length).sum
    assert(bytes(lazDir, ".laz") < bytes(lasDir, ".las") / 2,
      s"expected >2x layered compression on scan-shaped 1.4 points")
  }

  test("LAZ layered formats 7 (RGB) and 8 (RGB+NIR) round trip with ExtraBytes") {
    val base = fmt6Points(7000)
      .withColumn("red", (col("x") % 1000).cast("short"))
      .withColumn("green",
        when(col("y") % 3 === 0, col("x") % 1000).otherwise(col("y") % 700).cast("short"))
      .withColumn("blue",
        when(col("y") % 3 === 0, col("x") % 1000).otherwise(col("y") % 500).cast("short"))
    for ((pts, tag) <- Seq(
        (base, "laz7"),
        (base.withColumn("nir", (col("x") % 2048).cast("short"))
          .withColumn("reflectance", (col("x") % 128).cast("short")), "laz8"))) {
      val lasDir = tmpDir(s"$tag-raw")
      val lazDir = tmpDir(s"$tag-cmp")
      pts.writeLas(lasDir)
      pts.writeLaz(lazDir, Map("laz.chunkSize" -> "1200"))
      assert(collectAll(spark.read.las(lazDir)) == collectAll(spark.read.las(lasDir)), tag)
    }
  }

  test("LAZ carries ExtraBytes columns through the BYTE item") {
    val pts = fmt0Points(4000)
      .withColumn("reflectance", (col("x") % 128).cast("short"))
      .withColumn("ring", (col("y") % 64).cast("byte"))
    val lasDir = tmpDir("lazxb-raw")
    val lazDir = tmpDir("lazxb-cmp")
    pts.writeLas(lasDir)
    pts.writeLaz(lazDir, Map("laz.chunkSize" -> "900"))
    val laz = spark.read.las(lazDir)
    // the extra columns surface with their declared types and values
    assert(laz.schema("reflectance").dataType == org.apache.spark.sql.types.ShortType)
    assert(collectAll(laz) == collectAll(spark.read.las(lasDir)))
  }

  test("LAZ container: format bit, laszip VLR, chunk table offset are spec-shaped") {
    val lazDir = tmpDir("laz-golden")
    fmt0Points(5000).coalesce(1).writeLaz(lazDir, Map("laz.chunkSize" -> "2000"))
    val f = new java.io.File(lazDir).listFiles().filter(_.getName.endsWith(".laz")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // point-format byte carries the LASzip compressed bit
    assert((bytes(104) & 0x80) != 0, "format byte must flag compression")
    assert((bytes(104) & 0x3f) == 0)
    // one VLR: the laszip record (user id at +2, record id 22204 at +18)
    val headerSize = bb.getShort(94)
    assert(bb.getInt(100) == 1, "exactly one VLR (laszip)")
    val uid = new String(bytes.slice(headerSize + 2, headerSize + 16).takeWhile(_ != 0))
    assert(uid == "laszip encoded", uid)
    assert((bb.getShort(headerSize + 18) & 0xFFFF) == 22204)
    // offset-to-point-data points at the i64 chunk-table offset; the
    // table starts with u32 version 0 + u32 chunk count 3 (5000 @ 2000)
    val pdrOffset = bb.getInt(96)
    val tableOffset = bb.getLong(pdrOffset)
    assert(tableOffset > pdrOffset + 8 && tableOffset < bytes.length)
    assert(bb.getInt(tableOffset.toInt) == 0, "chunk table version")
    assert(bb.getInt(tableOffset.toInt + 4) == 3, "chunk count for 5000 points @ 2000")
  }

  test("LAZ scans keep header-aggregate and limit pushdown; record filters stay residual") {
    val lazDir = tmpDir("laz-push")
    fmt0Points(10000).writeLaz(lazDir, Map("laz.chunkSize" -> "1024"))
    val laz = spark.read.las(lazDir)
    // COUNT answered from headers (no data IO): plan is the header-agg scan
    val cnt = laz.groupBy().count()
    assert(cnt.queryExecution.executedPlan.toString.contains("header-aggregate"),
      cnt.queryExecution.executedPlan.toString)
    assert(cnt.head().getLong(0) == 10000)
    // pushed limit truncates chunk partitions instead of scanning all
    assert(laz.limit(700).count() == 700)
    // a predicate still answers correctly (residual evaluation)
    val filtered = laz.filter($"x" > 100000).count()
    val expected = fmt0Points(10000).filter($"x" > 100000).count()
    assert(filtered == expected)
  }

  test("LAZ scan is vectorized and synthesizes pid identically to the raw path") {
    val lasDir = tmpDir("lazvec-raw")
    val lazDir = tmpDir("lazvec-cmp")
    val pts = fmt0Points(9000)
    pts.coalesce(1).writeLas(lasDir)
    pts.coalesce(1).writeLaz(lazDir, Map("laz.chunkSize" -> "1000"))
    val laz = spark.read.las(lazDir)
    // the chunk-decoded scan feeds whole-stage codegen through the same
    // ColumnarToRow bridge as the raw reader
    val plan = laz.select($"x", $"pid").queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), plan)
    // pid must be the in-file point index across chunk boundaries — a
    // drifted per-chunk base would shift every (pid, x) pair
    val rawPairs = spark.read.las(lasDir).select($"pid", $"x")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val lazPairs = laz.select($"pid", $"x")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(lazPairs == rawPairs)
  }

  test("keyed writes compose with compression: one .laz per tile, values intact") {
    val dir = tmpDir("laz-keyed")
    val pts = fmt0Points(5000).withColumn("tile", (col("x") % 3).cast("int"))
    pts.writeLasKeyed(dir, "tile",
      Map("compress" -> "laz", "laz.chunkSize" -> "700"))
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".laz")).sorted
    assert(files.length == 3, files.mkString(","))
    val back = spark.read.las(dir)
    assert(back.count() == 5000)
    assert(back.agg(sum($"x".cast("long")), sum($"intensity".cast("long")))
      .head().toSeq ==
      pts.agg(sum($"x".cast("long")), sum($"intensity".cast("long"))).head().toSeq)
  }

  test("claimed-pushed filters are honored by a .laz landing mid-stream") {
    // at stream start the directory holds only .las, so the builder
    // CLAIMS the pushable predicate (Spark drops its own Filter); the
    // .laz landing later must still be filtered by the reader, or
    // compressed rows leak unfiltered
    val dir = tmpDir("laz-pushed")
    val out = tmpDir("laz-pushed-out")
    fmt0Points(3000).coalesce(1).writeLas(dir)
    val stream = spark.readStream
      .schema(spark.read.las(dir).schema)
      .format("las").load(dir)
      .filter($"x" > 100000)
    val q = stream.select($"x").writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", tmpDir("laz-pushed-ckpt"))
      .start()
    try {
      q.processAllAvailable()
      // land a .laz mid-stream (atomic move, like a real producer)
      val stage = tmpDir("laz-pushed-stage")
      fmt0Points(3000).coalesce(1).writeLaz(stage, Map("laz.chunkSize" -> "500"))
      val lazFile = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".laz")).head
      java.nio.file.Files.move(lazFile.toPath,
        java.nio.file.Paths.get(dir, "landed.laz"))
      q.processAllAvailable()
    } finally q.stop()
    val expectedPerFile = fmt0Points(3000).filter($"x" > 100000).count()
    assert(spark.read.parquet(out).count() == 2 * expectedPerFile)
  }

  test("a .laz landing in a streamed LAS directory is ingested chunk-aligned") {
    val dir = tmpDir("laz-stream")
    val out = tmpDir("laz-stream-out")
    fmt0Points(6000).coalesce(1).writeLaz(dir, Map("laz.chunkSize" -> "1000"))
    val stream = spark.readStream
      .schema(spark.read.las(dir).schema)
      .format("las").load(dir)
    val q = stream.select($"x", $"y", $"z").writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", tmpDir("laz-stream-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.read.parquet(out)
    assert(got.count() == 6000)
    assert(got.agg(sum($"x".cast("long"))).head().getLong(0) ==
      fmt0Points(6000).agg(sum($"x".cast("long"))).head().getLong(0))
  }

  test("streamed .laz (leading chunk-table slot -1, table at EOF) reads back identically") {
    // the published non-seekable-writer layout: the writer cannot come
    // back to patch the leading i64 slot, so it writes -1 there, appends
    // the chunk table at EOF and stores the table's position in the
    // file's LAST 8 bytes. Rewrite a normally written .laz into that
    // layout and the reader must resolve it chunk-aligned, same rows.
    val pts = fmt0Points(10000)
    val dir = tmpDir("laz-streamed")
    pts.writeLaz(dir, Map("scale" -> "0.01", "laz.chunkSize" -> "2048"))
    val expect = collectAll(spark.read.las(dir))
    val rewritten = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".laz")).map { f =>
        val bytes = Files.readAllBytes(f.toPath)
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val pdrOffset = bb.getInt(96) // u32 "offset to point data", LAS header
        val tableOffset = bb.getLong(pdrOffset)
        bb.putLong(pdrOffset, -1L)
        val out = java.nio.ByteBuffer.allocate(bytes.length + 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        out.put(bytes); out.putLong(tableOffset)
        Files.write(f.toPath, out.array())
        // the write above bypasses Hadoop's checksummed stream: drop the
        // stale .crc sidecar or LocalFileSystem rejects the rewrite
        val crc = new java.io.File(f.getParentFile, "." + f.getName + ".crc")
        if (crc.exists()) crc.delete()
        f.getName
      }
    assert(rewritten.nonEmpty, "expected at least one .laz file to rewrite")
    val back = spark.read.las(dir)
    assert(back.count() == 10000)
    assert(collectAll(back) == expect)
  }

  test("streamed .laz with trailing EVLRs reads the footer from before the EVLR block") {
    // a legal streamed LAZ 1.4 file may carry EVLRs after the chunk
    // table: the 8-byte table-offset footer then ends the POINT REGION
    // (just before the declared EVLR block), not the file — reading the
    // file's literal last 8 bytes would land in EVLR payload and skip
    // the whole file as unreadable
    val pts = fmt0Points(6000)
    val dir = tmpDir("laz-streamed-evlr")
    pts.coalesce(1).writeLaz(dir, Map("scale" -> "0.01",
      "laz.chunkSize" -> "2048", "minor" -> "4"))
    val expect = collectAll(spark.read.las(dir))
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".laz")).head
    val bytes = Files.readAllBytes(f.toPath)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val pdrOffset = bb.getInt(96)
    val tableOffset = bb.getLong(pdrOffset)
    bb.putLong(pdrOffset, -1L) // streamed layout
    // trailing EVLR: 60-byte container (user "test", record 7) + payload
    val evlr = new Array[Byte](60 + 16)
    val eb = java.nio.ByteBuffer.wrap(evlr)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    eb.position(2); eb.put("test".getBytes("US-ASCII"))
    eb.putShort(18, 7.toShort)
    eb.putLong(20, 16L)
    val out = java.nio.ByteBuffer.allocate(bytes.length + 8 + evlr.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(bytes); out.putLong(tableOffset); out.put(evlr)
    // LAS 1.4 header: evlrOffset u64 at 235, evlrCount u32 at 243
    out.putLong(235, bytes.length.toLong + 8)
    out.putInt(243, 1)
    Files.write(f.toPath, out.array())
    val crc = new java.io.File(f.getParentFile, "." + f.getName + ".crc")
    if (crc.exists()) crc.delete()
    val back = spark.read.las(dir)
    assert(back.count() == 6000)
    assert(collectAll(back) == expect)
  }

  test("variable chunk table round-trips irregular point/byte counts") {
    import graft.pointcloud.las.laz.LazFile
    val pts = Seq(700L, 1300L, 250L, 1L, 16777216L)
    val bts = Seq(91234L, 5L, Int.MaxValue.toLong, 1L, 77L)
    val table = LazFile.chunkTableBytes(bts, Some(pts))
    // resolve-time shape: version 0, chunk count 5 in the uncompressed
    // prefix, then the interleaved IC-coded entries
    val buf = java.nio.ByteBuffer.wrap(table)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(buf.getInt(0) == 0 && buf.getInt(4) == 5)
  }

  test("variable-chunked .laz (chunkPlan) declares size -1 and round trips bit for bit") {
    val pts = fmt0Points(10000)
    val lasDir = tmpDir("lazvar-raw")
    val lazDir = tmpDir("lazvar-cmp")
    pts.coalesce(1).writeLas(lasDir)
    // irregular plan cycles 700/1300/250 => chunk boundaries follow the
    // plan, not a fixed stride; last chunk is a partial 150
    pts.coalesce(1).writeLaz(lazDir, Map("laz.chunkplan" -> "700,1300,250"))
    val lazFile = new java.io.File(lazDir).listFiles()
      .filter(_.getName.endsWith(".laz")).head
    // the laszip VLR must declare the variable sentinel, and infoFor
    // must resolve the per-chunk point counts from the table variant:
    // 700/1300/250 cycled over 10000 points (4 full 2250-cycles + 700)
    // ends in a partial 300-point chunk
    val bytes = java.nio.file.Files.readAllBytes(lazFile.toPath)
    val in = new java.io.ByteArrayInputStream(bytes)
    val header = try graft.pointcloud.las.LasHeader.read(lazFile.toString, in)
      finally in.close()
    val info = graft.pointcloud.las.laz.Laz.infoFor(header,
      (off, len) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + len),
      bytes.length.toLong)
    assert(info.chunkSize == -1)
    val expectedPlan = Iterator.continually(Seq(700L, 1300L, 250L)).flatten
      .scanLeft(0L)(_ + _).drop(1).takeWhile(_ < 10000).size + 1
    assert(info.chunkPoints.length == expectedPlan)
    assert(info.chunkPoints.sum == 10000L)
    assert(info.chunkPoints.take(3).toSeq == Seq(700L, 1300L, 250L))
    assert(info.chunkPoints.last == 300L)
    val raw = spark.read.las(lasDir)
    val laz = spark.read.las(lazDir)
    assert(laz.count() == 10000)
    assert(collectAll(laz) == collectAll(raw))
  }

  test("a corrupt variable chunk table is skipped at resolve time, not decoded") {
    val dir = tmpDir("lazvar-bad")
    fmt0Points(3000).coalesce(1)
      .writeLaz(dir, Map("laz.chunkplan" -> "800,350"))
    val good = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".laz")).head
    // second file: same bytes, chunk-table entry count bumped — the
    // decoded point counts can no longer sum to the header's pdrCount,
    // so Laz.infoFor must reject on the DRIVER's skip-unreadable path
    // (one warning, other files still served), never mid-decode
    val bytes = java.nio.file.Files.readAllBytes(good.toPath)
    val in = new java.io.ByteArrayInputStream(bytes)
    val header = try graft.pointcloud.las.LasHeader.read(good.toString, in)
      finally in.close()
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val tableOffset = bb.getLong(header.pdrOffset.toInt)
    bb.putInt(tableOffset.toInt + 4, bb.getInt(tableOffset.toInt + 4) + 1)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "corrupt.laz"), bytes)
    val got = spark.read.las(dir)
    assert(got.count() == 3000) // the good file alone
    assert(got.select(countDistinct($"fid")).head().getLong(0) == 1)
  }

  test("variable-chunked .laz splits chunk-aligned with exact pid continuity") {
    val lazDir = tmpDir("lazvar-split")
    fmt0Points(9000).coalesce(1)
      .writeLaz(lazDir, Map("laz.chunkplan" -> "2000,500,3500"))
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // force multi-partition: each split takes whole chunks, and the
      // per-partition record base is the PREFIX SUM of irregular chunk
      // counts (a fixed chunkSize*first would drift every pid)
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
      val laz = spark.read.las(lazDir)
      assert(laz.rdd.getNumPartitions > 1)
      val pids = laz.select($"pid").as[Long].collect().sorted
      assert(pids.toSeq == (0L until 9000L))
      val rawSum = fmt0Points(9000).agg(sum($"x".cast("long"))).head().getLong(0)
      assert(laz.agg(sum($"x".cast("long"))).head().getLong(0) == rawSum)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }
}
