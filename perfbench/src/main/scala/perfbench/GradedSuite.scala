package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** The engine's graded queries (`graft.SparkEntry.queries`) on a fresh
  * per-run copy of a fixed table set, in seed-rotated passes, each result
  * checked against a stored row count and order-insensitive digest.
  *
  * Two families are left out because they write outside the run's work
  * directory, which the benchmark must not do: `pc*` builds its layouts
  * under a fixed `/tmp/graft_pc` path, and `st*` checkpoints to `/dev/shm`
  * when that tmpfs is large. Of the rest, every twelfth query of each
  * family (in name order) runs, in two timed passes after an untimed
  * warm-up pass. The warm-up pass (code generation, the engine's per-JVM
  * serving layouts) costs about as much as both timed passes, which is
  * what caps the number of distinct queries a run can afford. */
final class GradedSuite(ctx: Ctx, data: Path, expected: Map[String, (Long, String)])
    extends Workload {

  private var sf: Path = _
  private var resultRows = 0L

  def setup(rep: Int): Unit = {
    if (sf != null) graft.Fs.deleteRecursively(sf)
    sf = ctx.work.resolve(s"sf-$rep")
    Files.createDirectories(sf)
    Files.list(data).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, sf.resolve(f.getFileName)))
    // warm-up: session codegen and the table readers
    graft.SparkEntry.queries(GradedSuite.Warmup)(ctx.spark, sf.toString).collect()
  }

  def ops(): IndexedSeq[Op] = {
    resultRows = 0
    val kinds = GradedSuite.selected(expected.keySet).map { name =>
      val (rows, digest) = expected(name)
      Op(name, GradedSuite.family(name), 0L, () => {
        val df = ctx.tracer.span("queries", name)(graft.SparkEntry.queries(name)(ctx.spark, sf.toString))
        val got = ctx.tracer.span("action", name)(df.collect())
        resultRows += got.length
        () => Expect.same("rows/digest", Digest.of(df.columns.toSeq, got.toSeq), (rows, digest))
      })
    }
    val passes = math.max(1, math.round(ctx.seconds / GradedSuite.SecondsPerPass).toInt)
    Workload.closedLoop(kinds, kinds.size * passes, ctx.seed)
  }

  def flowMetrics(results: Seq[OpResult]): Map[String, Double] = {
    // the suite's "points" are table rows: rows read by its scans, result
    // rows it delivers, and bytes its scans read per row read
    val (read, bytes) = ctx.timedTotals
    val busy = results.map(_.seconds).sum
    Map(
      "scan_points_per_s" -> read / busy,
      "write_points_per_s" -> resultRows / busy,
      "bytes_per_point" -> bytes.toDouble / read)
  }

  override def layerMetrics(results: Seq[OpResult]): Map[String, Double] =
    GradedSuite.FamilyMetric.map { case (fam, metric) =>
      metric -> results.filter(_.op.family == fam).map(_.seconds).sum
    }

  def cleanup(): Unit = if (sf != null) graft.Fs.deleteRecursively(sf)
}

object GradedSuite {
  val Warmup = "iq04_global_agg"
  val SecondsPerPass = 5.0

  /** Query-name prefix → per-layer metric of that family's summed time. */
  val FamilyMetric: Map[String, String] = Map(
    "dd" -> "ops.dedup_s", "tx" -> "ops.text_s", "ss" -> "ops.similarity_s",
    "tp" -> "ops.temporal_s", "sk" -> "ops.sketches_s", "jn" -> "ops.joins_s",
    "mm" -> "ops.multimodal_s", "iq" -> "queries.relational_s")

  def family(name: String): String = name.take(2)

  /** Families that write outside the work directory (see the class doc). */
  val Excluded: Set[String] = Set("pc", "st")

  /** Every graded query the benchmark may run (those with a stored digest). */
  def eligible: IndexedSeq[String] =
    graft.SparkEntry.queries.keys.filterNot(n => Excluded(family(n))).toIndexedSeq.sorted

  /** Every twelfth query of each family, in name order. */
  def selected(available: Set[String]): IndexedSeq[String] =
    eligible.filter(available).groupBy(family).toIndexedSeq.sortBy(_._1)
      .flatMap { case (_, ns) => ns.sorted.zipWithIndex.collect { case (n, i) if i % 12 == 0 => n } }

  /** Reads `name<TAB>rows<TAB>digest` lines. */
  def readExpected(p: Path): Map[String, (Long, String)] =
    Files.readAllLines(p).asScala.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, r, d) = l.split('\t')
      n -> (r.toLong, d)
    }.toMap
}
