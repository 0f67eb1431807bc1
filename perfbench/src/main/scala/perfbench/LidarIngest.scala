package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.pointcloud.syntax._

/** Write-heavy closed loop: seeded Parquet point tables (written in set-up)
  * are re-encoded into every point-cloud sink the repository has — LAS
  * format 1 and 6, LAZ format 1 and 7, COPC, PLY, XYZ and a keyed LAS
  * write. Each write is timed; an untimed read-back then checks it against
  * the generator's tallies and measures the stored bytes. */
final class LidarIngest(ctx: Ctx, sources: Int, tilesPerSource: Int, meanPoints: Int)
    extends Workload {
  import LidarIngest._

  private val spark = ctx.spark
  private val root = ctx.work.resolve("ingest")
  private var tally: IndexedSeq[Tally] = IndexedSeq.empty
  private var tileIds: IndexedSeq[Set[Int]] = IndexedSeq.empty
  private var opSeq = 0

  /** read-back points and seconds, stored bytes and files, per run */
  private var readPoints = 0L
  private var readSeconds = 0.0
  private var storedBytes = 0L
  /** stored bytes and files of the traced executions only */
  private var tracedBytes = 0L
  private var tracedFiles = 0L

  private def srcDir(k: Int): String = root.resolve(s"src$k").toString

  def setup(rep: Int): Unit = {
    graft.Fs.deleteRecursively(root)
    Files.createDirectories(root)
    val specs = PointGen.mosaic(ctx.seed, math.ceil(math.sqrt(sources * tilesPerSource)).toInt,
      meanPoints).take(sources * tilesPerSource)
    val bySource = specs.grouped(tilesPerSource).toIndexedSeq
    tally = bySource.map(_.map(s => PointGen.tile(s).tally()).reduce(_ + _))
    tileIds = bySource.map(_.map(_.id).toSet)
    bySource.zipWithIndex.foreach { case (ss, k) =>
      LidarScan.frame(spark, ss, 7)
        .withColumn("tile", (floor(col("y") / PointGen.Side) * 1000 +
          floor(col("x") / PointGen.Side)).cast("int"))
        .write.parquet(srcDir(k))
    }
  }

  private val targets = IndexedSeq(
    Target("las_f1", "las", (d, p) => d.writeLas(p, Map("scale" -> Scale, "minor" -> "2")), fmt1),
    Target("las_f6", "las", (d, p) => d.writeLas(p, Map("scale" -> Scale, "minor" -> "4")), fmt6),
    Target("laz_f1", "las", (d, p) => d.writeLaz(p, Map("scale" -> Scale)), fmt1),
    Target("laz_f7", "las", (d, p) => d.writeLaz(p, Map("scale" -> Scale, "minor" -> "4")), fmt7),
    Target("copc", "las", (d, p) => d.writeCopc(p, Map("scale" -> Scale)), fmt6),
    Target("ply", "ply", (d, p) => d.writePly(p),
      Seq(col("x"), col("y"), col("z"), col("intensity"), col("classification"))),
    Target("xyz", "xyz", (d, p) => d.writeXyz(p),
      Seq(col("x").cast("float").as("x"), col("y").cast("float").as("y"),
        col("z").cast("float").as("z"))),
    Target("las_keyed", "las", (d, p) => d.writeLasKeyed(p, "tile", Map("scale" -> Scale)),
      fmt1 :+ col("tile")))

  /** Every write once, without the read-back checks. */
  override def prepare(): Unit = {
    ops().distinctBy(_.name).foreach(_.run())
    java.nio.file.Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.startsWith("out")).foreach(graft.Fs.deleteRecursively)
  }

  def ops(): IndexedSeq[Op] = {
    readPoints = 0; readSeconds = 0; storedBytes = 0; tracedBytes = 0; tracedFiles = 0
    val kinds = for (t <- targets; k <- 0 until sources) yield {
      val want = tally(k)
      Op(s"${t.name}_src$k", "write", want.count, () => {
        opSeq += 1
        val out = root.resolve(s"out$opSeq")
        val traced = ctx.tracer.active
        val src = spark.read.parquet(srcDir(k)).select(t.cols: _*)
        ctx.tracer.span("connector", s"write ${t.name}")(t.write(src, out.toString))
        () => {
          val (bytes, files) = Box.sizeOf(out)
          storedBytes += bytes
          if (traced) { tracedBytes += bytes; tracedFiles += files }
          val t0 = System.nanoTime()
          val r = spark.read.format(t.read).load(out.toString)
            .agg(count(lit(1)), sum(col("x").cast("double")), sum(col("z").cast("double")))
            .collect()(0)
          readSeconds += (System.nanoTime() - t0) / 1e9
          readPoints += r.getLong(0)
          graft.Fs.deleteRecursively(out)
          Expect.all(
            Expect.same("count", r.getLong(0), want.count),
            Expect.same("sum(x)", r.getDouble(1), want.sumX.toDouble),
            Expect.same("sum(z)", r.getDouble(2), want.sumZ.toDouble),
            if (t.name == "las_keyed") Expect.same("files", files, tileIds(k).size) else None)
        }
      })
    }
    Workload.closedLoop(kinds,
      kinds.size * math.max(1, math.round(ctx.seconds * OpsPerSecond / kinds.size).toInt), ctx.seed)
  }

  def flowMetrics(results: Seq[OpResult]): Map[String, Double] = {
    val pts = results.map(_.op.points).sum
    Map(
      "scan_points_per_s" -> readPoints / readSeconds,
      "write_points_per_s" -> pts / results.map(_.seconds).sum,
      "bytes_per_point" -> storedBytes.toDouble / pts)
  }

  override def layerMetrics(results: Seq[OpResult]): Map[String, Double] = {
    val spans = ctx.tracer.spans
    // from the last Spark job's end to the write call's return
    val gaps = results.flatMap { r =>
      for {
        st <- r.stats
        lastJob <- st.jobIntervals.map(_._2).maxOption
        w <- spans.find(s => s.parent == r.spanId && s.name.startsWith("write"))
      } yield (w.end - lastJob) / 1e9
    }
    Map(
      "connector.files_written" -> tracedFiles.toDouble,
      "connector.write_mb_per_s" -> tracedBytes / 1048576.0 / results.map(_.seconds).sum,
      "connector.commit_gap_s" -> (if (gaps.isEmpty) 0.0 else Stats.median(gaps)))
  }

  def cleanup(): Unit = graft.Fs.deleteRecursively(root)
}

object LidarIngest {
  /** A write target: the timed sink call and the read-back format. */
  final case class Target(name: String, read: String,
      write: (DataFrame, String) => Unit, cols: Seq[Column])

  val Scale = "0.01"
  val OpsPerSecond = 3.2

  val fmt6: Seq[Column] = Seq("x", "y", "z", "intensity", "return", "flags", "classification",
    "user", "angle", "source", "time").map(c => col(s"`$c`"))
  val fmt7: Seq[Column] = fmt6 ++ Seq(col("red"), col("green"), col("blue"))
  /** format 1 from format 6 fields: 3-bit return number and count in
    * `flags`, byte scan angle */
  val fmt1: Seq[Column] = Seq(col("x"), col("y"), col("z"), col("intensity"),
    expr("cast(((`return` & 7) | (((`return` >> 4) & 7) << 3)) as tinyint)").as("flags"),
    col("classification"), col("angle").cast("tinyint").as("angle"), col("user"),
    col("source"), col("time"))
}
