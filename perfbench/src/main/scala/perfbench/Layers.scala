package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.exprs
import graft.pointcloud.{RecordDecoder, RecordEncoder, Section}
import graft.pointcloud.las.{LasExtraBytes, LasHeader}
import graft.pointcloud.las.laz.{Copc, Laz, LazChunkDecoder, LazChunkEncoder}

/** Layer legs of the traced run: each calls one layer's public functions
  * directly, inside spans, on seeded inputs, and checks what comes back. */
object Layers {

  private val Reps = 3
  private val ChunkPoints = 50000

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def check(ok: Boolean, what: String): Unit =
    if (!ok) throw new IllegalStateException(s"layer leg produced a wrong result: $what")

  /** Record codec (Section.scala) and LAZ chunk codec throughput, in
    * million points per second (median of [[Reps]]), and LAZ size. */
  def codec(ctx: Ctx): Map[String, Double] = {
    val tiles = PointGen.mosaic(ctx.seed, 2, 100000).map(PointGen.tile)
    val n = tiles.map(_.n).sum
    val out = scala.collection.mutable.Map.empty[String, Double]
    var lazBytes = 0L
    var lazPoints = 0L
    var secEnc = Seq.empty[Double]; var secDec = Seq.empty[Double]
    Seq(1, 6).foreach { fmt =>
      val schema = LasHeader.schema(fmt)
      val len = LasHeader.recordLength(fmt.toByte)
      val rows = tiles.flatMap(t => (0 until t.n).map { i =>
        new GenericInternalRow(t.row(i, fmt).toSeq.toArray[Any])
      })
      val sumX = tiles.map(_.tally().sumX).sum
      val encS = (1 to Reps).map { _ =>
        val enc = new RecordEncoder(schema, schema, littleEndian = true)
        timed(ctx.tracer.span("section", "RecordEncoder.encode") {
          val bytes = new Array[Byte](n * len)
          var i = 0
          while (i < n) { System.arraycopy(enc.encode(rows(i)), 0, bytes, i * len, len); i += 1 }
          bytes
        })
      }
      val bytes = encS.last._1
      val decS = (1 to Reps).map { _ =>
        val dec = new RecordDecoder(Section("memory", 0, n, littleEndian = true, schema), schema, 0)
        val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        val (s, sec) = timed(ctx.tracer.span("section", "RecordDecoder.decode") {
          var acc = 0L
          var i = 0
          while (i < n) { acc += dec.decode(buf, i * len, i).getInt(0); i += 1 }
          acc
        })
        check(s == sumX, s"format $fmt decoded sum(x) $s != $sumX")
        sec
      }
      secEnc :+= Stats.median(encS.map(_._2)); secDec :+= Stats.median(decS)
      val tag = if (fmt == 1) "p10" else "p14"
      val starts = 0 until n by ChunkPoints
      val lazEnc = (1 to Reps).map { _ =>
        val enc = new LazChunkEncoder(fmt.toByte, len)
        timed(starts.map(s => ctx.tracer.span("laz", "LazChunkEncoder.encode")(
          enc.encode(bytes, s * len, math.min(ChunkPoints, n - s)))))
      }
      val chunks = lazEnc.last._1
      val lazDec = (1 to Reps).map { _ =>
        val dec = new LazChunkDecoder(fmt.toByte, len)
        val (ok, sec) = timed(starts.zip(chunks).forall { case (s, c) =>
          val cnt = math.min(ChunkPoints, n - s)
          val raw = ctx.tracer.span("laz", "LazChunkDecoder.decode")(dec.decode(c, cnt))
          java.util.Arrays.equals(raw, 0, cnt * len, bytes, s * len, (s + cnt) * len)
        })
        check(ok, s"LAZ format $fmt round trip")
        sec
      }
      out(s"laz.${tag}_encode_mpts_s") = n / 1e6 / Stats.median(lazEnc.map(_._2))
      out(s"laz.${tag}_decode_mpts_s") = n / 1e6 / Stats.median(lazDec)
      lazBytes += chunks.map(_.length.toLong).sum
      lazPoints += n
    }
    out("section.encode_mpts_s") = 2 * n / 1e6 / secEnc.sum
    out("section.decode_mpts_s") = 2 * n / 1e6 / secDec.sum
    out("laz.bytes_per_point") = lazBytes.toDouble / lazPoints
    out.toMap
  }

  private def readAt(path: Path): (LasExtraBytes.ReadAt, Long, () => Unit) = {
    val ch = java.nio.channels.FileChannel.open(path)
    val f: LasExtraBytes.ReadAt = (off, len) => {
      val b = ByteBuffer.allocate(len)
      while (b.hasRemaining && ch.read(b, off + b.position()) >= 0) ()
      b.array()
    }
    (f, ch.size(), () => ch.close())
  }

  private def pointFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter { p =>
      val s = p.getFileName.toString
      s.endsWith(".las") || s.endsWith(".laz")
    }.toSeq.sorted

  /** LasHeader.read per stored file (µs, median) and the COPC hierarchy
    * index per COPC file (ms, median), over a written tile collection. */
  def headers(ctx: Ctx, scan: LidarScan): Map[String, Double] = {
    val files = scan.groups.flatMap(g => pointFiles(Path.of(scan.dir(g.name))))
    val headerUs = for (_ <- 1 to Reps; f <- files) yield {
      val in = new java.io.BufferedInputStream(Files.newInputStream(f))
      try timed(ctx.tracer.span("las", "LasHeader.read")(LasHeader.read(f.toString, in)))._2 * 1e6
      finally in.close()
    }
    val copcMs = for (_ <- 1 to Reps; f <- pointFiles(Path.of(scan.dir("copc")))) yield {
      val (ra, len, close) = readAt(f)
      try {
        val in = new java.io.BufferedInputStream(Files.newInputStream(f))
        val h = try LasHeader.read(f.toString, in) finally in.close()
        val lz = Laz.infoFor(h, ra, len)
        val info = Copc.readInfo(h, ra).getOrElse(throw new IllegalStateException(s"$f: no COPC info"))
        val (idx, sec) = timed(ctx.tracer.span("laz", "Copc.indexForInfo")(
          Copc.indexForInfo(h, ra, len, lz, info)))
        check(idx != null, s"$f: COPC hierarchy did not bind")
        sec * 1e3
      } finally close()
    }
    Map("las.header_read_us" -> Stats.median(headerUs), "laz.copc_index_ms" -> Stats.median(copcMs))
  }

  /** Rows per second of the graft.functions.exprs kernels over the
    * documents and embeddings tables of `data`, replicated `copies` times. */
  def functions(ctx: Ctx, data: Path, copies: Int): Map[String, Double] = {
    val spark = ctx.spark
    val rep = spark.range(copies).toDF("copy")
    val docs = spark.read.parquet(data.resolve("documents.parquet").toString).crossJoin(rep)
      .select(col("text"), split(col("text"), " ").as("tokens"))
      .withColumn("shingles", exprs.shingle_hash_set(col("tokens"), 3)).cache()
    val emb = spark.read.parquet(data.resolve("embeddings.parquet").toString).crossJoin(rep)
      .select(col("embedding").cast("array<double>").as("a"))
      .withColumn("b", reverse(col("a"))).cache()
    try {
      val nd = docs.count()
      val ne = emb.count()
      def kernel(name: String, rows: Long, df: => org.apache.spark.sql.DataFrame): (String, Double) = {
        val secs = (1 to Reps).map(_ => timed(ctx.tracer.span("functions", name)(df.collect()))._2)
        s"functions.${name}_rows_s" -> rows / Stats.median(secs)
      }
      Map(
        kernel("rolling_hash", nd, docs.agg(sum(exprs.rolling_hash(col("text"))))),
        kernel("simhash64", nd, docs.agg(bit_xor(exprs.simhash64(col("tokens"))))),
        kernel("shingle_hash_set", nd,
          docs.agg(sum(size(exprs.shingle_hash_set(col("tokens"), 3))))),
        kernel("minhash_band_keys", nd,
          docs.agg(sum(size(exprs.minhash_band_keys(col("shingles"), 64, 16, 4))))),
        kernel("array_sqdist", ne, emb.agg(sum(exprs.array_sqdist(col("a"), col("b"))))))
    } finally { docs.unpersist(); emb.unpersist() }
  }

  /** A bbox-subscribed micro-batch stream over the COPC layout
    * (PointCloudStream), checked against the generator's class counts. */
  def streaming(ctx: Ctx, scan: LidarScan): Unit = {
    val spark = ctx.spark
    val (lo, hi) = scan.copcBox(50)
    val want = scan.groupTiles("copc").map(t => t.tally(i => t.x(i) >= lo && t.x(i) <= hi))
      .foldLeft(Tally.empty)(_ + _).classCounts
    val q = ctx.tracer.span("streaming", "PointCloudStream") {
      val q = spark.readStream.format("las").option("bbox", s"$lo,$hi,*,*,*,*")
        .option("maxFilesPerTrigger", "4").load(scan.dir("copc"))
        .groupBy(col("classification")).count()
        .writeStream.format("memory").queryName("perfbench_stream").outputMode("complete")
        .option("checkpointLocation", ctx.work.resolve("stream-ckpt").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    val got = spark.table("perfbench_stream").collect()
      .map(r => (r.getByte(0) & 0xff) -> r.getLong(1)).toMap
    q.stop()
    check(got == want, s"stream class counts $got != $want")
  }
}
