package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.pointcloud.syntax._

/** One stored format group of the tiled collection. */
final case class Group(name: String, fmt: Int, write: (DataFrame, String) => Unit)

/** Read-heavy closed loop over a seeded, tiled LiDAR collection written in
  * five layouts by the repository's own writers: LAS 1.2 format 1, LAS 1.4
  * format 6, LAZ POINT10 (format 1), LAZ POINT14 (format 6) and COPC. Two
  * rows of the tile mosaic go to each layout, so every layout holds a
  * contiguous region with seeded, uneven tile sizes. */
final class LidarScan(ctx: Ctx, grid: Int, meanPoints: Int) extends Workload {
  import LidarScan._

  private val spark = ctx.spark
  private val root = ctx.work.resolve("tiles")
  private val scale = "0.01"

  val groups: IndexedSeq[Group] = IndexedSeq(
    Group("las12", 1, (df, p) => df.writeLas(p, Map("scale" -> scale, "minor" -> "2"))),
    Group("las14", 6, (df, p) => df.writeLas(p, Map("scale" -> scale, "minor" -> "4"))),
    Group("lazp10", 1, (df, p) => df.writeLaz(p, Map("scale" -> scale))),
    Group("lazp14", 6, (df, p) => df.writeLaz(p, Map("scale" -> scale, "minor" -> "4"))),
    Group("copc", 6, (df, p) => df.writeCopc(p, Map("scale" -> scale))))

  private var tiles: Map[String, IndexedSeq[Tile]] = Map.empty
  private var tally: Map[String, Tally] = Map.empty
  /** fixture write rate (points/s) of every set-up */
  private val writeRates = scala.collection.mutable.ArrayBuffer.empty[Double]

  def dir(g: String): String = root.resolve(g).toString
  def groupTiles(g: String): IndexedSeq[Tile] = tiles(g)

  def setup(rep: Int): Unit = {
    graft.Fs.deleteRecursively(root)
    Files.createDirectories(root)
    val specs = PointGen.mosaic(ctx.seed, grid, meanPoints)
    val byGroup = specs.groupBy(s => groups((s.id / grid) * groups.size / grid).name)
    tiles = byGroup.map { case (g, ss) => g -> ss.sortBy(_.id).map(PointGen.tile) }
    tally = tiles.map { case (g, ts) => g -> ts.map(_.tally()).reduce(_ + _) }
    val t0 = System.nanoTime()
    groups.foreach { g =>
      val df = frame(spark, byGroup(g.name).sortBy(_.id), g.fmt)
      ctx.tracer.span("connector", s"write ${g.name}")(g.write(df, dir(g.name)))
    }
    writeRates += totalPoints / ((System.nanoTime() - t0) / 1e9)
  }

  /** Warm-up: every operation once, then the full-decode (`wide_*`) reads
    * of every layout again. The decode paths still speed up through that
    * second round, and timing them then would add run-to-run spread. */
  override def prepare(): Unit = {
    super.prepare()
    ops().distinctBy(_.name).filter(_.name.startsWith("wide_")).foreach(_.run()())
  }

  private def load(paths: String*): DataFrame =
    ctx.tracer.span("connector", "load")(spark.read.format("las").load(paths: _*))

  private def scan(name: String, df: DataFrame): Array[Row] =
    ctx.tracer.span("connector", s"scan $name")(df.collect())

  private def points(gs: String*): Long = gs.map(tally(_).count).sum

  /** Totals over the tiles of `gs` for the points accepted by `keep`. */
  private def where(gs: Seq[String])(keep: (Tile, Int) => Boolean): Tally =
    gs.flatMap(tiles(_)).map(t => t.tally(i => keep(t, i))).foldLeft(Tally.empty)(_ + _)

  def ops(): IndexedSeq[Op] = {
    val kinds = IndexedSeq.newBuilder[Op]
    groups.foreach { g =>
      val t = tally(g.name)
      kinds += Op(s"narrow_${g.name}", "scan", t.count, () => {
        val r = scan(g.name, load(dir(g.name)).select(col("x"))
          .agg(count(lit(1)), sum(col("x").cast("long"))))(0)
        () => Expect.all(Expect.same("count", r.getLong(0), t.count),
          Expect.same("sum(x)", r.getLong(1), t.sumX))
      })
      kinds += Op(s"wide_${g.name}", "scan", t.count, () => {
        val rs = scan(g.name, load(dir(g.name)).groupBy(col("classification"))
          .agg(count(lit(1)), sum(col("x").cast("long")), sum(col("y").cast("long")),
            sum(col("z").cast("long")), sum(col("intensity").cast("long")),
            min(col("time")), max(col("time"))))
        () => Expect.all(
          Expect.same("class counts", rs.map(r => (r.getByte(0) & 0xff) -> r.getLong(1)).toMap,
            t.classCounts),
          Expect.same("sums", (2 to 5).map(k => rs.map(_.getLong(k)).sum),
            Seq(t.sumX, t.sumY, t.sumZ, t.sumI)),
          Expect.same("time range", (rs.map(_.getDouble(6)).min, rs.map(_.getDouble(7)).max),
            (t.minT, t.maxT)))
      })
    }
    Seq("las14", "lazp10").foreach { g =>
      val want = where(Seq(g))((t, i) => t.cls(i) == 6 && t.z(i) > RoofZ)
      kinds += Op(s"pred_$g", "scan", points(g), () => {
        val r = scan(g, load(dir(g)).where(col("classification") === 6 && col("z") > RoofZ)
          .agg(count(lit(1)), sum(col("intensity").cast("long"))))(0)
        () => Expect.all(Expect.same("count", r.getLong(0), want.count),
          Expect.same("sum(intensity)", r.getLong(1), want.sumI))
      })
    }
    val copc = tally("copc")
    Seq(1, 10, 50).foreach { pct =>
      val (lo, hi) = copcBox(pct)
      val want = where(Seq("copc"))((t, i) => t.x(i) >= lo && t.x(i) <= hi)
      kinds += Op(s"copc_bbox_$pct", "pruned", copc.count, () => {
        val r = scan("copc", load(dir("copc")).where(col("x") >= lo && col("x") <= hi &&
          col("y") >= copc.minY && col("y") <= copc.maxY)
          .agg(count(lit(1)), sum(col("x").cast("long")), sum(col("y").cast("long")),
            min(col("z")), max(col("z"))))(0)
        () => Expect.same("bbox totals", (r.getLong(0), nz(r, 1), nz(r, 2), r.get(3), r.get(4)),
          if (want.count == 0) (0L, 0L, 0L, null, null)
          else (want.count, want.sumX, want.sumY, want.minZ, want.maxZ))
      })
      val (tlo, thi) = copcWindow(pct)
      val wantT = where(Seq("copc"))((t, i) => t.time(i) >= tlo && t.time(i) <= thi)
      kinds += Op(s"copc_time_$pct", "pruned", copc.count, () => {
        val r = scan("copc", load(dir("copc")).where(col("time") >= tlo && col("time") <= thi)
          .agg(count(lit(1)), sum(col("intensity").cast("long"))))(0)
        () => Expect.same("window totals", (r.getLong(0), nz(r, 1)), (wantT.count, wantT.sumI))
      })
    }
    Seq("las12", "lazp14").foreach { g =>
      val t = tally(g)
      kinds += Op(s"header_$g", "header", t.count, () => {
        val r = scan(g, load(dir(g)).agg(count(lit(1)), min(col("x")), max(col("x")),
          min(col("y")), max(col("y")), min(col("z")), max(col("z"))))(0)
        () => Expect.same("header totals", r.toSeq,
          Seq[Any](t.count, t.minX, t.maxX, t.minY, t.maxY, t.minZ, t.maxZ))
      })
    }
    val perTile = tiles("las14").map { tile =>
      val t = tile.tally(); (t.count, t.minX, t.maxX) }.sorted
    kinds += Op("header_tiles_las14", "header", tally("las14").count, () => {
      val rs = scan("las14", load(dir("las14")).groupBy(col("fid"))
        .agg(count(lit(1)), min(col("x")), max(col("x"))))
      () => Expect.same("per-tile totals",
        rs.map(r => (r.getLong(1), r.getInt(2), r.getInt(3))).toSeq.sorted, perTile)
    })
    val all = groups.map(_.name)
    val u = all.map(tally).reduce(_ + _)
    kinds += Op("union_all", "scan", u.count, () => {
      val r = scan("union", load(all.map(dir): _*).select("x", "z", "classification", "time")
        .agg(count(lit(1)), sum(col("x").cast("long")), sum(col("z").cast("long")),
          min(col("time")), max(col("time"))))(0)
      () => Expect.same("union totals", r.toSeq, Seq[Any](u.count, u.sumX, u.sumZ, u.minT, u.maxT))
    })
    val k = kinds.result()
    Workload.closedLoop(k, k.size * math.max(1, math.round(ctx.seconds * OpsPerSecond / k.size).toInt),
      ctx.seed)
  }

  /** An x-slab of the COPC region holding about `pct` percent of its
    * points, placed by the seed (bounds are point quantiles). */
  def copcBox(pct: Int): (Int, Int) = {
    val xs = tiles("copc").flatMap(_.x).sorted
    val (a, b) = quantileSpan(xs.length, pct, 0)
    (xs(a), xs(b))
  }

  /** A GPS-time window over about `pct` percent of the COPC points. */
  def copcWindow(pct: Int): (Double, Double) = {
    val ts = tiles("copc").flatMap(_.time).sorted
    val (a, b) = quantileSpan(ts.length, pct, 1000)
    (ts(a), ts(b))
  }

  /** Seeded index range covering `pct` percent of `n` sorted values. */
  private def quantileSpan(n: Int, pct: Int, salt: Int): (Int, Int) = {
    val len = math.max(1, (n.toLong * pct / 100).toInt)
    val r = new java.util.SplittableRandom(PointGen.mix(ctx.seed, salt + pct))
    val a = r.nextInt(math.max(1, n - len))
    (a, a + len - 1)
  }

  def flowMetrics(results: Seq[OpResult]): Map[String, Double] = {
    val scans = results.filter(r => r.op.family != "header")
    val stored = groups.map(g => Box.sizeOf(Path.of(dir(g.name)))._1).sum
    // this workload writes only in set-up: its fixture writes stand in,
    // best of the set-ups (the first one also pays JIT warm-up)
    Map(
      "scan_points_per_s" -> scans.map(_.op.points).sum / scans.map(_.seconds).sum,
      "write_points_per_s" -> writeRates.max,
      "bytes_per_point" -> stored.toDouble / totalPoints)
  }

  def totalPoints: Long = tally.values.map(_.count).sum

  def cleanup(): Unit = graft.Fs.deleteRecursively(root)
}

object LidarScan {
  /** Raw z above which a building return counts as roof (ground ~200 m). */
  val RoofZ = 20500
  /** Closed-loop operations per second of `--seconds`. */
  val OpsPerSecond = 4.4

  /** Spark frame of `specs` as LAS format `fmt`, one partition per tile, so
    * every tile lands as its own file. Points are generated inside the
    * tasks from the (tiny) specs. */
  def frame(spark: org.apache.spark.sql.SparkSession, specs: Seq[TileSpec], fmt: Int): DataFrame = {
    val rdd = spark.sparkContext.parallelize(specs, specs.size).flatMap { s =>
      val t = PointGen.tile(s)
      Iterator.tabulate(t.n)(i => t.row(i, fmt))
    }
    spark.createDataFrame(rdd, PointGen.schema(fmt))
  }

  private def nz(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
}
