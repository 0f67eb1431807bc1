package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming semantics: sessionization state must carry
  * across micro-batches (the oracle check only exercises a single
  * batch), and windowed aggregation must be exact in complete mode.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private val Min = 60L * 1000000 // one minute in micros

  test("sessionize carries open sessions across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val sessions = EventStreams.sessionize(input.toDS(), gapMinutes = 30)
    val q = sessions.writeStream.format("memory")
      .queryName("sess_test").outputMode("update").start()
    try {
      // batch 1: user 1 events at t=0,10min (one open session)
      input.addData(Event(1, 0, 1, "a", 1.0), Event(2, 10 * Min, 1, "a", 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_test").count() == 0) // still open

      // batch 2: t=20min extends the session; t=120min closes it
      input.addData(Event(3, 20 * Min, 1, "a", 3.0), Event(4, 120 * Min, 1, "a", 4.0))
      q.processAllAvailable()
      val closed = spark.table("sess_test").as[Session].collect()
      assert(closed.toSeq == Seq(Session(1, 0, 20 * Min, 3, 6.0)))

      // batch 3: another gap closes the 120min session
      input.addData(Event(5, 240 * Min, 1, "a", 5.0))
      q.processAllAvailable()
      assert(spark.table("sess_test").count() == 2)
    } finally q.stop()
  }

  test("windowed aggregation is provider-agnostic: RocksDB state store matches default") {
    // At 100 TB the default HDFS-backed store keeps all state on the JVM
    // heap; RocksDB spills to local disk with bounded memory. Results
    // must be identical — the provider is a deployment knob, not a
    // semantics change.
    val sfDir = this.sfDir
    def run(): Array[org.apache.spark.sql.Row] = {
      val out = graft.SparkEntry.queries("st01_windowed_stream")(spark, sfDir)
      out.collect()
    }
    val default = run()
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = run()
      assert(rocks.length > 0 && (rocks sameElements default))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("append mode with watermark emits only closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("ts", "value")
      .withColumn("event_type", org.apache.spark.sql.functions.lit("e"))
    val agg = EventStreams.withWatermark(df, "10 minutes")
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"), $"event_type")
      .count()
    val q = agg.writeStream.format("memory")
      .queryName("wm_test").outputMode("append").start()
    try {
      def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      input.addData((t(0, 10), 1.0), (t(0, 20), 2.0))
      q.processAllAvailable()
      // watermark still inside hour 0: nothing closed yet
      assert(spark.table("wm_test").count() == 0)
      // events far past hour 0 advance the watermark; hour-0 window closes
      input.addData((t(2, 0), 3.0))
      q.processAllAvailable()
      input.addData((t(3, 0), 4.0))
      q.processAllAvailable()
      val closed = spark.table("wm_test").collect()
      assert(closed.exists(_.getLong(2) == 2), closed.mkString(","))
    } finally q.stop()
  }

  test("LAS directory streams: new files arrive as new micro-batches") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-lasstream").toString
    def pts(lo: Int) = spark.range(100).select(
      ($"id" + lo).cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    pts(0).coalesce(1).writeLas(dir)

    val stream = spark.readStream.format("las").load(dir)
      .select("x", "pid")
    val q = stream.writeStream.format("memory")
      .queryName("las_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("las_stream").count() == 100)
      // a new file arriving in the directory becomes the next micro-batch
      val dir2 = java.nio.file.Files.createTempDirectory("graft-lasstream2").toString
      pts(1000).coalesce(1).writeLas(dir2)
      val newFile = new java.io.File(dir2).listFiles().find(_.getName.endsWith(".las")).get
      java.nio.file.Files.copy(newFile.toPath,
        java.nio.file.Paths.get(dir, "zz-" + newFile.getName))
      q.processAllAvailable()
      assert(spark.table("las_stream").count() == 200)
      assert(spark.table("las_stream").agg(max("x")).head().getInt(0) == 1099)
    } finally q.stop()
  }

  test("streaming LAS read applies pushed record filters") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-streamfilter").toString
    spark.range(1000).select(
      col("id").cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
      .coalesce(1).writeLas(dir)
    val stream = spark.readStream.format("las").load(dir)
      .filter(col("x") >= 990).select("x")
    val q = stream.writeStream.format("memory")
      .queryName("filtered_las_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("filtered_las_stream").as[Int].collect().sorted
      assert(got.toSeq == (990 until 1000).toSeq, got.mkString(","))
    } finally q.stop()
  }

  test("PLY directory streams through the same micro-batch source") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-plystream").toString
    def pts(lo: Int) = spark.range(100).select(
      ($"id" + lo).cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(7).cast("short").as("intensity"))
    pts(0).coalesce(1).writePly(dir)
    val stream = spark.readStream.format("ply").load(dir).select("x")
    val q = stream.writeStream.format("memory")
      .queryName("ply_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("ply_stream").count() == 100)
      val dir2 = java.nio.file.Files.createTempDirectory("graft-plystream2").toString
      pts(1000).coalesce(1).writePly(dir2)
      val newFile = new java.io.File(dir2).listFiles().find(_.getName.endsWith(".ply")).get
      java.nio.file.Files.copy(newFile.toPath,
        java.nio.file.Paths.get(dir, "zz-" + newFile.getName))
      q.processAllAvailable()
      assert(spark.table("ply_stream").count() == 200)
      assert(spark.table("ply_stream").agg(max("x")).head().getInt(0) == 1099)
    } finally q.stop()
  }

  test("XYZ text streams one partition per file, null-padding short lines") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-xyzstream").toString
    Seq((1.0f, 2.0f, 3.0f, Some(10.toByte)), (4.5f, 5.5f, 6.5f, None))
      .toDF("x", "y", "z", "r").coalesce(1).writeXyz(dir)
    val stream = spark.readStream.format("xyz").load(dir).select("x", "r", "g")
    val q = stream.writeStream.format("memory")
      .queryName("xyz_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("xyz_stream").orderBy("x").collect()
      assert(got.length == 2)
      assert(got(0).getFloat(0) == 1.0f && got(0).getByte(1) == 10)
      // columns absent from the written lines stream back as null
      assert(got.forall(_.isNullAt(2)) && got(1).isNullAt(1))
    } finally q.stop()
  }

  test("streaming LAS sink: epochs land as self-contained files, replace-idempotent") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("graft-sinkin").toString
    val out = java.nio.file.Files.createTempDirectory("graft-sinkout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sinkckpt").toString
    def pts(lo: Int) = spark.range(100).select(
      ($"id" + lo).cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    pts(0).coalesce(1).writeLas(in)
    val stream = spark.readStream.format("las").load(in)
      .drop("fid", "pid")
    val q = stream.writeStreamPointCloud("las", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.read.las(out).count() == 100)
      // second input file → second epoch → new self-contained output files
      val d2 = java.nio.file.Files.createTempDirectory("graft-sinkin2").toString
      pts(1000).coalesce(1).writeLas(d2)
      val f2 = new java.io.File(d2).listFiles().find(_.getName.endsWith(".las")).get
      java.nio.file.Files.copy(f2.toPath, java.nio.file.Paths.get(in, "zz-" + f2.getName))
      q.processAllAvailable()
      val back = spark.read.las(out)
      assert(back.count() == 200)
      assert(back.agg(max("x")).head().getInt(0) == 1099)
      val names = new java.io.File(out).listFiles().map(_.getName)
        .filter(_.endsWith(".las")).sorted
      assert(names.forall(_.startsWith("epoch-")), names.mkString(","))
      assert(names.map(_.split("-")(1)).distinct.length >= 2, "expected ≥2 epochs")
      // replace idempotence: a stale file left by a FAILED attempt of an
      // epoch is deleted when that epoch commits with a different file set —
      // but ONLY this query's own files (epoch+token prefix): a foreign
      // query's epoch-5 file in the same dir must survive the sweep
      val tok = graft.pointcloud.connector.PointCloudStreamingWrite.queryToken("testq")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, s"epoch-5-q$tok-part-00000-99.las"), Array[Byte](1, 2, 3))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "epoch-5-qother00-part-00000-7.las"), Array[Byte](9))
      new graft.pointcloud.connector.PointCloudStreamingWrite(
        graft.pointcloud.connector.FormatKind.Las, out, stream.schema, Map.empty, "testq")
        .commit(5, Array.empty)
      assert(!new java.io.File(out, s"epoch-5-q$tok-part-00000-99.las").exists())
      assert(new java.io.File(out, "epoch-5-qother00-part-00000-7.las").exists())
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(out, "epoch-5-qother00-part-00000-7.las"))
      assert(spark.read.las(out).count() == 200) // committed epochs untouched
    } finally q.stop()
  }

  test("a foreign tokenless epoch file survives a real streaming commit") {
    // the commit sweep is token-scoped: plant a tokenless epoch-0 file
    // (no query's token), run ONE epoch through the real sink, and the
    // file must still be there
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("graft-sweepin").toString
    val out = java.nio.file.Files.createTempDirectory("graft-sweepout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sweepckpt").toString
    spark.range(10).select(
        $"id".cast("int").as("x"), lit(0).cast("int").as("y"),
        lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
        lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
        lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
        lit(0).cast("short").as("source"))
      .coalesce(1).writeLas(in)
    val foreign = java.nio.file.Paths.get(out, "epoch-0-part-00000-3.las")
    java.nio.file.Files.write(foreign, Array[Byte](1, 2, 3))
    val q = spark.readStream.format("las").load(in).drop("fid", "pid")
      .writeStreamPointCloud("las", out)
      .option("checkpointLocation", ckpt).outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(java.nio.file.Files.exists(foreign), "a foreign tokenless file must survive")
  }

  test("epoch replay: committed census is invariant under any leftover subset") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    // property pin of the idempotence claim: whatever subset of a FAILED
    // attempt's files survives until the replayed epoch commits, the
    // directory afterwards holds exactly the committed attempt's files
    val out = java.nio.file.Files.createTempDirectory("graft-replay").toString
    val src = java.nio.file.Files.createTempDirectory("graft-replaysrc").toString
    val pts = spark.range(10).select(
      $"id".cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    pts.coalesce(1).writeLas(src)
    val lasBytes = java.nio.file.Files.readAllBytes(
      new java.io.File(src).listFiles().find(_.getName.endsWith(".las")).get.toPath)
    val tok = graft.pointcloud.connector.PointCloudStreamingWrite.queryToken("replayq")
    val prevNames = (0 until 5).map(i => f"epoch-3-q$tok-part-$i%05d-1$i.las")
    val newNames = (0 until 3).map(i => f"epoch-3-q$tok-part-$i%05d-2$i.las")
    val sink = new graft.pointcloud.connector.PointCloudStreamingWrite(
      graft.pointcloud.connector.FormatKind.Las, out, pts.schema, Map.empty, "replayq")
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 8) {
      new java.io.File(out).listFiles().foreach(f => f.delete())
      val leftovers = prevNames.filter(_ => rnd.nextBoolean())
      (leftovers ++ newNames).foreach { n =>
        java.nio.file.Files.write(java.nio.file.Paths.get(out, n), lasBytes)
      }
      val msgs = newNames.map(n => graft.pointcloud.connector.LasPartMessage(
        new java.io.File(out, n).getPath, 10L)
        : org.apache.spark.sql.connector.write.WriterCommitMessage).toArray
      sink.commit(3, msgs)
      val remaining = new java.io.File(out).listFiles().map(_.getName)
        .filter(_.endsWith(".las")).toSet
      assert(remaining == newNames.toSet, s"trial $trial leftovers=$leftovers")
      assert(spark.read.las(out).count() == 30, s"trial $trial")
    }
  }

  test("streaming skips an unreadable file and keeps ingesting valid ones") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-skipstream").toString
    def pts(lo: Int) = spark.range(50).select(
      ($"id" + lo).cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    def addFile(lo: Int, name: String): Unit = {
      val d = java.nio.file.Files.createTempDirectory("graft-skipsrc").toString
      pts(lo).coalesce(1).writeLas(d)
      val f = new java.io.File(d).listFiles().find(_.getName.endsWith(".las")).get
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(dir, name))
    }
    addFile(0, "aa.las")
    val stream = spark.readStream.format("las").load(dir).select("x")
    val q = stream.writeStream.format("memory")
      .queryName("skip_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("skip_stream").count() == 50)
      // a corrupt file arriving mid-stream is deferred (never admitted to
      // the offset), and a later valid file still becomes its own batch
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bb.las"),
        "not a las file at all".getBytes)
      addFile(1000, "cc.las")
      q.processAllAvailable()
      assert(spark.table("skip_stream").count() == 100)
      assert(spark.table("skip_stream").agg(max("x")).head().getInt(0) == 1049)
      // the mid-copy scenario: once the "copy" completes (the path turns
      // into a valid file), the previously deferred file IS ingested —
      // deferral retries, it does not burn the file
      val d2 = java.nio.file.Files.createTempDirectory("graft-skipfix").toString
      pts(2000).coalesce(1).writeLas(d2)
      val fixed = new java.io.File(d2).listFiles().find(_.getName.endsWith(".las")).get
      java.nio.file.Files.copy(fixed.toPath, java.nio.file.Paths.get(dir, "bb.las"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      assert(spark.table("skip_stream").count() == 150)
      assert(spark.table("skip_stream").agg(max("x")).head().getInt(0) == 2049)
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds each batch; fids stay first-seen stable") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-boundstream").toString
    def pts(lo: Int) = spark.range(50).select(
      ($"id" + lo).cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    for ((name, lo) <- Seq(("aa.las", 0), ("bb.las", 1000), ("cc.las", 2000))) {
      val d = java.nio.file.Files.createTempDirectory("graft-boundsrc").toString
      pts(lo).coalesce(1).writeLas(d)
      val f = new java.io.File(d).listFiles().find(_.getName.endsWith(".las")).get
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(dir, name))
    }
    // all three files are present BEFORE the stream starts; the bound
    // forces one file per micro-batch instead of one bulk batch
    val q = spark.readStream.format("las").option("maxFilesPerTrigger", "1")
      .load(dir).select("fid", "x")
      .writeStream.format("memory").queryName("bound_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val t = spark.table("bound_stream")
      assert(t.count() == 150)
      // ≥3 non-empty micro-batches: the bound was real
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        q.recentProgress.map(_.numInputRows).mkString(","))
      // fid = index in first-seen (sorted-name) order, regardless of
      // which batch carried the file: aa→0, bb→1, cc→2
      val byFid = t.groupBy("fid").agg(min("x").as("lo"), max("x").as("hi"))
        .collect().map(r => (r.getInt(0), (r.getInt(1), r.getInt(2)))).toMap
      assert(byFid == Map(0 -> (0, 49), 1 -> (1000, 1049), 2 -> (2000, 2049)))
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains ALL files even under maxFilesPerTrigger") {
    // without SupportsTriggerAvailableNow the engine wraps the source,
    // calls latestOffset once, and a bounded trigger silently stops
    // after the first batch's admissions — only 1 of 3 files ingested
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-anstream").toString
    def pts(lo: Int) = spark.range(40).select(
      ($"id" + lo).cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    for ((name, lo) <- Seq(("aa.las", 0), ("bb.las", 1000), ("cc.las", 2000))) {
      val d = java.nio.file.Files.createTempDirectory("graft-ansrc").toString
      pts(lo).coalesce(1).writeLas(d)
      val f = new java.io.File(d).listFiles().find(_.getName.endsWith(".las")).get
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(dir, name))
    }
    val q = spark.readStream.format("las").option("maxFilesPerTrigger", "1")
      .load(dir).select("fid", "x")
      .writeStream.format("memory").queryName("an_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(60000)
      assert(spark.table("an_stream").count() == 120)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        q.recentProgress.map(_.numInputRows).mkString(","))
    } finally q.stop()
  }

  test("mid-copy file with a landed header is deferred until its data arrives") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-midcopy").toString
    def pts(lo: Int) = spark.range(50).select(
      ($"id" + lo).cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    def lasBytes(lo: Int): Array[Byte] = {
      val d = java.nio.file.Files.createTempDirectory("graft-midsrc").toString
      pts(lo).coalesce(1).writeLas(d)
      val f = new java.io.File(d).listFiles().find(_.getName.endsWith(".las")).get
      java.nio.file.Files.readAllBytes(f.toPath)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "aa.las"), lasBytes(0))
    val q = spark.readStream.format("las").load(dir).select("x")
      .writeStream.format("memory").queryName("midcopy_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("midcopy_stream").count() == 50)
      // "bb.las" lands with a COMPLETE header but only half its data —
      // the non-atomic-copy shape. Admission must defer it (no rows, no
      // failure), not read it short.
      val full = lasBytes(1000)
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bb.las"),
        full.take(full.length - 200))
      q.processAllAvailable()
      assert(spark.table("midcopy_stream").count() == 50)
      // the copy completes -> next trigger ingests the whole file
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "bb.las"), full)
      q.processAllAvailable()
      assert(spark.table("midcopy_stream").count() == 100)
      assert(spark.table("midcopy_stream").agg(max("x")).head().getInt(0) == 1049)
    } finally q.stop()
  }

  test("late file sorting before processed names: stable fids, still ingested") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-latestream").toString
    def pts(lo: Int) = spark.range(100).select(
      ($"id" + lo).cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    def addFile(lo: Int, name: String): Unit = {
      val d = java.nio.file.Files.createTempDirectory("graft-late").toString
      pts(lo).coalesce(1).writeLas(d)
      val f = new java.io.File(d).listFiles().find(_.getName.endsWith(".las")).get
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(dir, name))
    }
    addFile(0, "mm.las")
    val stream = spark.readStream.format("las").load(dir).select("x", "fid")
    val q = stream.writeStream.format("memory")
      .queryName("late_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("late_stream").where($"x" < 1000).agg(max("fid"))
        .head().getInt(0) == 0)
      // "aa.las" sorts lexicographically BEFORE the processed "mm.las":
      // it must still be ingested, with a NEW fid, and mm's rows keep fid 0
      addFile(1000, "aa.las")
      q.processAllAvailable()
      val got = spark.table("late_stream")
      assert(got.count() == 200)
      assert(got.where($"x" >= 1000).select("fid").distinct().head().getInt(0) == 1)
      assert(got.where($"x" < 1000).select("fid").distinct().head().getInt(0) == 0)
    } finally q.stop()
  }

  test("near-dup gate: bucket state persists across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, max}
    val input = MemoryStream[(Long, String)]
    val docs = input.toDS().toDF("doc_id", "text")
    val hits = graft.streaming.StreamingDedup.bandGate(docs, "doc_id", "text").toDF()
    val q = hits.writeStream.format("memory").queryName("gate_test")
      .outputMode("append").start()
    try {
      def verdicts = spark.table("gate_test").groupBy("id")
        .agg(max(col("hit").cast("int")).as("anyhit"))
        .as[(Long, Int)].collect().toMap
      val textA = "alpha beta gamma delta epsilon zeta eta theta iota"
      val textB = "one two three four five six seven eight nine ten"
      // batch 1: 5 and 9 share textA — smaller id wins WITHIN a batch
      input.addData((5L, textA), (9L, textA), (3L, textB))
      q.processAllAvailable()
      val v1 = verdicts
      assert(v1(5L) == 0 && v1(3L) == 0 && v1(9L) == 1)
      // batch 2: 7 repeats textA — the bucket claim survived in STATE
      input.addData((7L, textA))
      q.processAllAvailable()
      assert(verdicts(7L) == 1)
      // batch 3: genuinely novel text is still admitted
      input.addData((11L, "moose yak okapi lemur gibbon tapir heron stork crane"))
      q.processAllAvailable()
      assert(verdicts(11L) == 0)
    } finally q.stop()
  }

  test("near-dup gate: a history-rewriting late id fails loudly, benign reorder passes") {
    implicit val sqlCtx = spark.sqlContext
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota"
    // benign out-of-order: 7 after {5, 9} stays >= the bucket minimum 5,
    // so every emitted verdict equals the batch rule — must NOT fail
    // (this is also what the persistence test above relies on)
    locally {
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingDedup
        .bandGate(input.toDS().toDF("doc_id", "text"), "doc_id", "text").toDF()
        .writeStream.format("memory").queryName("gate_benign")
        .outputMode("append").start()
      try {
        input.addData((5L, textA), (9L, textA))
        q.processAllAvailable()
        input.addData((7L, textA))
        q.processAllAvailable() // would rethrow a stream failure
        assert(spark.table("gate_benign").count() > 0)
      } finally q.stop()
    }
    // history-rewriting: 3 after {5} is BELOW the claimed minimum — 5 was
    // admitted with hit=false but the batch rule says it collides with 3;
    // the guard must fail the query instead of silently diverging
    locally {
      val input = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingDedup
        .bandGate(input.toDS().toDF("doc_id", "text"), "doc_id", "text").toDF()
        .writeStream.format("memory").queryName("gate_violate")
        .outputMode("append").start()
      try {
        input.addData((5L, textA))
        q.processAllAvailable()
        input.addData((3L, textA))
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }
        def causes(t: Throwable): Seq[Throwable] =
          Option(t).toSeq.flatMap(c => c +: causes(c.getCause))
        assert(causes(e).exists(
          _.isInstanceOf[graft.streaming.StreamingDedup.ContractViolation]),
          s"expected ContractViolation in cause chain, got: $e")
      } finally q.stop()
    }
  }

  test("near-dup gate plan: one fused kernel, one exchange into the state op") {
    // the batch twin exposes the executed plan the streaming run shares
    // below the sink: the whole signature pipeline must be row-local
    // (graft_minhash_band_keys exactly once — not re-expanded per
    // permutation) with the groupByKey shuffle as the ONLY exchange
    val docs = Tables.documents(spark, sfDir).limit(200)
    val gate = graft.streaming.StreamingDedup.bandGate(docs, "doc_id", "text")
    val plan = gate.queryExecution.executedPlan.toString
    assert("graft_minhash_band_keys".r.findAllIn(plan).size == 1, plan)
    assert("Exchange".r.findAllIn(plan).size == 1, plan)
  }

  test("windowed stream over events matches a batch group-by") {
    val stream = EventStreams.windowedCounts(
      EventStreams.readEventStream(spark, sfDir), "1 hour")
    val q = stream.writeStream.format("memory")
      .queryName("win_test").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("win_test").count()

    val batch = Tables.events(spark, sfDir)
      .select($"ts", $"event_type")
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"), $"event_type")
      .count().count()
    assert(got == batch && got > 0)
  }

  test("compactFileListThreshold bounds the offset; fids survive compaction and restart") {
    import graft.pointcloud.syntax._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-compactstream").toString
    val out = java.nio.file.Files.createTempDirectory("graft-compactout").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-compactckpt").toString
    def pts(lo: Int) = spark.range(50).select(
      ($"id" + lo).cast("int").as("x"), lit(0).cast("int").as("y"),
      lit(0).cast("int").as("z"), lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"), lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"), lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    def addFile(lo: Int, name: String): Unit = {
      val d = java.nio.file.Files.createTempDirectory("graft-compactsrc").toString
      pts(lo).coalesce(1).writeLas(d)
      val f = new java.io.File(d).listFiles().find(_.getName.endsWith(".las")).get
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(dir, name))
    }
    def start() = spark.readStream.format("las")
      .option("compactFileListThreshold", "1").load(dir).select("fid", "x")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    def lastOffsetLine(): String = {
      val files = new java.io.File(ckpt, "offsets").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      val src = scala.io.Source.fromFile(files.last)
      try src.getLines().toList.last finally src.close()
    }
    addFile(0, "aa.las"); addFile(1000, "bb.las"); addFile(2000, "cc.las")
    val q1 = start()
    try {
      q1.processAllAvailable()
      // the producer rotates aa+bb out of the directory; dd lands. The
      // committed, no-longer-listed prefix compacts to a count and dd
      // still gets the NEXT global fid (3), not a recycled one.
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "aa.las"))
      java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "bb.las"))
      addFile(3000, "dd.las")
      q1.processAllAvailable()
    } finally q1.stop()
    val off = lastOffsetLine()
    assert(off.contains("\"base\":2"), off) // aa+bb compacted to a count
    assert(!off.contains("aa.las") && !off.contains("bb.las"), off)
    // restart from the compacted offset: base must be restored so the
    // next admission continues the global numbering at 4
    addFile(4000, "ee.las")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val byFid = spark.read.parquet(out).groupBy("fid")
      .agg(min("x").as("lo"), max("x").as("hi"))
      .collect().map(r => (r.getInt(0), (r.getInt(1), r.getInt(2)))).toMap
    assert(byFid == Map(0 -> (0, 49), 1 -> (1000, 1049), 2 -> (2000, 2049),
      3 -> (3000, 3049), 4 -> (4000, 4049)), byFid.toString)
  }

  test("decontamination gate: bloom prefilter hides no contaminated doc; exact join broadcasts") {
    import graft.ops.{Dedup, Joins}
    import org.apache.spark.sql.functions.{exists, explode}
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter($"doc_id" % 25 === 0)
    val corpus = docs.filter($"doc_id" % 25 =!= 0)
    val benchGrams = bench
      .select(explode(Dedup.shingles($"text", 8)).as("gram")).distinct()
      .localCheckpoint(eager = true)
    val bloomHit = Joins.bloomTestFor(benchGrams, "gram", mBits = 1 << 16)
    // batch twin of st08's streaming side: identical operators, so the
    // plan shape and the no-false-negative property pin the gate
    def contaminatedIds(withBloom: Boolean) = {
      val base = if (withBloom)
        corpus.filter(exists(Dedup.shingles($"text", 8), bloomHit))
      else corpus
      base.select($"doc_id", explode(Dedup.shingles($"text", 8)).as("gram"))
        .join(benchGrams, Seq("gram"))
        .select($"doc_id").distinct()
        .as[Long].collect().toSet
    }
    // a Bloom filter has false positives only — the exact join output
    // must be identical with and without the prefilter
    assert(contaminatedIds(withBloom = true) == contaminatedIds(withBloom = false))
    // SATURATION soundness: a deliberately tiny (64-bit) filter is a
    // near-pass-through; the output must STILL be exact — false
    // positives cost work, never correctness
    val tiny = Joins.bloomTestFor(benchGrams, "gram", mBits = 64)
    val tinyIds = corpus.filter(exists(Dedup.shingles($"text", 8), tiny))
      .select($"doc_id", explode(Dedup.shingles($"text", 8)).as("gram"))
      .join(benchGrams, Seq("gram")).select($"doc_id").distinct()
      .as[Long].collect().toSet
    assert(tinyIds == contaminatedIds(withBloom = false))
    // EFFICACY at the shipped doc-level sizing (the sf1-probe
    // regression guard): per-gram fp compounds over a doc's ~50 grams,
    // so the sized screen must dismiss the clean majority — positives
    // may exceed truly contaminated docs only by a small fp margin,
    // never degenerate to pass-through
    val sized = Joins.bloomTestFor(benchGrams, "gram",
      mBits = Joins.bloomBitsFor(benchGrams.count(), bitsPerKey = 24), k = 8)
    val positives = corpus.filter(exists(Dedup.shingles($"text", 8), sized)).count()
    val contaminated = contaminatedIds(withBloom = false).size
    val cleanDocs = corpus.count() - contaminated
    assert(positives - contaminated <= math.max(5L, cleanDocs / 20),
      s"sized bloom passed $positives of ${corpus.count()} (true: $contaminated)")
    val gated = corpus.filter(exists(Dedup.shingles($"text", 8), bloomHit))
      .select($"doc_id", explode(Dedup.shingles($"text", 8)).as("gram"))
      .join(benchGrams, Seq("gram"))
    val plan = gated.queryExecution.executedPlan.toString
    // the exact join broadcasts the benchmark grams, and the row-local
    // bloom screen (xxhash64 bit tests inside exists) sits under it
    assert(plan.contains("BroadcastHashJoin"), plan)
    val lines = plan.linesIterator.toSeq
    val joinIdx = lines.indexWhere(_.contains("BroadcastHashJoin"))
    val bloomIdx = lines.indexWhere(l => l.contains("Filter") && l.contains("xxhash64"))
    assert(bloomIdx > joinIdx && joinIdx >= 0,
      s"bloom screen must sit under the broadcast join:\n$plan")
  }

  test("AnnIngest epochs land restart-safe files: replay overwrites, new epochs append") {
    import graft.ops.Clustering
    import org.apache.spark.sql.functions._
    val pts = spark.range(1, 81).select($"id",
        array(($"id" % 11).cast("double"), ($"id" % 7).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 2, k1 = 3, k2 = 2, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-ingest")
    try {
      val path = dir.toString
      val b0 = pts.filter($"id" <= 40)
      val b1 = pts.filter($"id" > 40)
      graft.streaming.AnnIngest.appendBatchIdempotent(b0, 0L, "id", "v", model, path, "tok")
      def files(): Map[String, String] = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val out = scala.collection.mutable.Map[String, String]()
        java.nio.file.Files.walk(dir).forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet")) {
            md.reset()
            out(dir.relativize(p).toString) =
              md.digest(java.nio.file.Files.readAllBytes(p))
                .map("%02x".format(_)).mkString
          }
        }
        out.toMap
      }
      val afterE0 = files()
      assert(afterE0.nonEmpty)
      // every landed file carries the (epoch, seq, token) name — the
      // restart-safe discipline, never a random writer UUID
      afterE0.keys.foreach { f =>
        assert(f.matches("cell=\\d+/part-0-\\d+-tok\\.parquet"), f)
      }
      // a later epoch appends BESIDE epoch 0, byte-identical old files
      graft.streaming.AnnIngest.appendBatchIdempotent(b1, 1L, "id", "v", model, path, "tok")
      val afterE1 = files()
      afterE0.foreach { case (f, h) => assert(afterE1.get(f).contains(h)) }
      assert(afterE1.size > afterE0.size)
      // replaying epoch 1 (the restarted-query shape) changes NOTHING:
      // same file set, same union census
      graft.streaming.AnnIngest.appendBatchIdempotent(b1, 1L, "id", "v", model, path, "tok")
      val afterReplay = files()
      assert(afterReplay.keySet == afterE1.keySet,
        s"replay changed the file set: ${afterE1.keySet} -> ${afterReplay.keySet}")
      val combined = spark.read.parquet(path)
        .groupBy($"cell").count().as[(Long, Long)].collect().toMap
      val direct = Clustering.assignCellsTwoLevel(pts, "id", "v", model)
        .groupBy($"cell").count().as[(Long, Long)].collect().toMap
      assert(combined == direct)
      // no staging residue survives a completed epoch
      val stray = java.nio.file.Files.list(dir).iterator()
      var hidden = List.empty[String]
      while (stray.hasNext) {
        val p = stray.next().getFileName.toString
        if (p.startsWith(".graft-stage")) hidden ::= p
      }
      assert(hidden.isEmpty, s"staging residue: $hidden")
    } finally Fs.deleteRecursively(dir)
  }

  test("AnnIngest replay cleanup is confined to the epoch's manifest cells") {
    import graft.ops.Clustering
    import org.apache.spark.sql.functions._
    val pts = spark.range(1, 81).select($"id",
        array(($"id" % 11).cast("double"), ($"id" % 7).cast("double")).as("v"))
      .localCheckpoint(true)
    val model = Clustering.kmeansTwoLevel(pts, "id", "v", dim = 2, k1 = 3, k2 = 2, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-manifest")
    try {
      val path = dir.toString
      val b0 = pts.filter($"id" <= 40)
      val b1 = pts.filter($"id" > 40)
      graft.streaming.AnnIngest.appendBatchIdempotent(b0, 0L, "id", "v", model, path, "tok")
      graft.streaming.AnnIngest.appendBatchIdempotent(b1, 1L, "id", "v", model, path, "tok")
      // the per-epoch manifest exists and lists EXACTLY the cells the
      // epoch landed in — the set a replay's cleanup is confined to
      // (never a listing of every cell= dir in the layout)
      val manifest = dir.resolve(".graft-manifest-tok-1")
      assert(java.nio.file.Files.exists(manifest), "epoch manifest missing")
      val listed = scala.io.Source.fromFile(manifest.toFile, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet
      val expected = Clustering.assignCellsTwoLevel(b1, "id", "v", model)
        .select($"cell").distinct().as[Long].collect()
        .map(c => s"cell=$c").toSet
      assert(listed == expected, s"manifest $listed != epoch cells $expected")
      def files(): Set[String] = {
        val out = scala.collection.mutable.Set[String]()
        java.nio.file.Files.walk(dir).forEach { p =>
          if (p.getFileName.toString.endsWith(".parquet"))
            out += dir.relativize(p).toString
        }
        out.toSet
      }
      val before = files()
      // crash shape: the previous attempt promoted its files but died
      // before writing the manifest — the deterministic staged cell set
      // alone must still overwrite every replayed file in place
      java.nio.file.Files.delete(manifest)
      graft.streaming.AnnIngest.appendBatchIdempotent(b1, 1L, "id", "v", model, path, "tok")
      assert(files() == before, "manifest-less replay changed the file set")
      assert(java.nio.file.Files.exists(manifest), "replay must rewrite the manifest")
      val census = spark.read.parquet(path)
        .groupBy($"cell").count().as[(Long, Long)].collect().toMap
      val direct = Clustering.assignCellsTwoLevel(pts, "id", "v", model)
        .groupBy($"cell").count().as[(Long, Long)].collect().toMap
      assert(census == direct, "replay duplicated or lost rows")
    } finally Fs.deleteRecursively(dir)
  }
}
