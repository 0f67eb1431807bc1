package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.scalatest.funsuite.AnyFunSuite

import graft.pointcloud.RecordEncoder
import graft.pointcloud.las.LasHeader

class HarnessSpec extends AnyFunSuite {

  private def encoded(t: Tile, fmt: Int): Array[Byte] = {
    val schema = LasHeader.schema(fmt)
    val enc = new RecordEncoder(schema, schema, littleEndian = true)
    val len = enc.recordLength
    val out = new Array[Byte](t.n * len)
    (0 until t.n).foreach { i =>
      val row = new GenericInternalRow(t.row(i, fmt).toSeq.toArray[Any])
      System.arraycopy(enc.encode(row), 0, out, i * len, len)
    }
    out
  }

  test("the same seed gives byte-identical tiles and tallies; another seed does not") {
    def gen(seed: Long) = PointGen.mosaic(seed, 3, 4000).map(PointGen.tile)
    val (a, b, c) = (gen(7), gen(7), gen(8))
    assert(a.map(_.spec) == b.map(_.spec))
    for (fmt <- Seq(1, 6, 7); (x, y) <- a.zip(b))
      assert(java.util.Arrays.equals(encoded(x, fmt), encoded(y, fmt)))
    assert(a.map(_.tally()) == b.map(_.tally()))
    assert(a.map(_.tally()) != c.map(_.tally()))
    assert(!java.util.Arrays.equals(encoded(a.head, 6), encoded(c.head, 6)))
  }

  test("generated tiles look like a survey: in-tile coordinates, monotone time, class mix") {
    val t = PointGen.tile(PointGen.mosaic(3, 2, 20000).head)
    assert(t.x.forall(x => x >= t.spec.ox && x < t.spec.ox + PointGen.Side))
    assert(t.y.forall(y => y >= t.spec.oy && y < t.spec.oy + PointGen.Side))
    assert(t.time.sliding(2).forall(w => w(0) < w(1)))
    val classes = t.tally().classCounts
    assert(Set(2, 6).subsetOf(classes.keySet) && classes.keySet.exists(Set(3, 4, 5)))
    assert(classes(2) > t.n / 4)
  }

  test("op_tail_s takes the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(100) == 90)
    assert(Stats.tailPercentile(40) == 75)
    assert(Stats.tailPercentile(30) == 66)
    assert(Stats.tailPercentile(20) == 50)
    assert(Stats.tailPercentile(5) == 50)
    for (n <- 21 to 2000) {
      val p = Stats.tailPercentile(n)
      assert(n - Stats.rankOf(p, n) >= 10, s"n=$n p=$p")
      assert(p == 99 || n - Stats.rankOf(p + 1, n) < 10, s"n=$n p=$p is not the highest")
    }
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.nearestRank(xs, 90) == 90.0)
    assert(xs.count(_ > Stats.nearestRank(xs, Stats.tailPercentile(xs.size))) == 10)
  }

  test("self time subtracts the union of overlapping children, and jobs nest under actions") {
    val spans = Seq(
      Span(1, 0, "op", "root", 0, 100),
      Span(2, 1, "connector", "a", 10, 40),
      Span(3, 1, "connector", "b", 30, 60),
      Span(4, 1, "action", "c", 70, 80),
      Span(5, 2, "las", "a1", 15, 20),
      Span(6, 1, "spark", "job", 72, 78))
    val self = Tracer.selfNanos(spans)
    assert(self(1) == 100 - 60) // children cover [10,60] and [70,80]
    assert(self(2) == 30 - 5)
    assert(self(5) == 5)
    val nested = Tracer.nestJobs(spans)
    assert(nested.find(_.id == 6).get.parent == 4)
    val nestedSelf = Tracer.selfNanos(nested)
    assert(nestedSelf(4) == 10 - 6)
    assert(Tracer.layerSelfSeconds(nested)("connector") == (25 + 30) / 1e9)
    // a job starting where two siblings overlap goes to the later one
    val late = Tracer.nestJobs(spans :+ Span(7, 1, "spark", "job2", 35, 50))
    assert(late.find(_.id == 7).get.parent == 3)
  }

  test("the result checker rejects an altered result and ignores row order and float noise") {
    val cols = Seq("n", "name", "v")
    val rows = Seq(Row(1L, "a", 0.1 + 0.2), Row(2L, "b", 1.5), Row(3L, null, Double.NaN))
    val want = Digest.of(cols, rows)
    assert(Digest.of(cols, rows.reverse) == want)
    assert(Digest.of(cols, Seq(Row(1L, "a", 0.3), rows(1), rows(2))) == want)
    assert(Digest.of(cols.reverse, rows.map(r => Row(r.toSeq.reverse: _*))) == want)
    assert(Digest.of(cols, Seq(Row(1L, "a", 0.3), Row(2L, "b", 1.6), rows(2))) != want)
    assert(Digest.of(cols, rows :+ rows(0)) != want)
    assert(Digest.of(cols, rows.take(2)) != want)
    assert(Expect.same("rows/digest", Digest.of(cols, rows.take(2)), want).isDefined)
    assert(Expect.same("rows/digest", Digest.of(cols, rows.reverse), want).isEmpty)
  }

  test("lidar_scan operations pass on intact tiles and fail once a tile is altered") {
    val work = Files.createTempDirectory("perfbench-spec")
    val spark = Box.session(2, work)
    try {
      val tracer = new Tracer
      val ctx = new Ctx(spark, 2, work, 11, 1, tracer, new Probe(tracer))
      val scan = new LidarScan(ctx, 5, 1500)
      scan.setup(1)
      val kinds = scan.ops().distinctBy(_.name)
      val ok = kinds.map(op => ctx.execute(op, traced = false))
      assert(ok.forall(_.ok), ok.filterNot(_.ok).map(r => r.op.name -> r.error))
      // drop one point from one LAS 1.4 tile: rewrite its point count
      val tile = Files.list(java.nio.file.Path.of(scan.dir("las14"))).iterator()
        .asScala.filter(_.toString.endsWith(".las")).toSeq.sorted.head
      val bytes = Files.readAllBytes(tile)
      val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val legacy = buf.getInt(107) // legacy point count (0 for format 6)
      if (legacy > 0) buf.putInt(107, legacy - 1)
      buf.putLong(247, buf.getLong(247) - 1) // LAS 1.4 point count
      Files.write(tile, bytes)
      val hit = Set("narrow_las14", "wide_las14", "header_tiles_las14", "union_all")
      val bad = kinds.filter(op => hit(op.name)).map(op => ctx.execute(op, traced = false))
      assert(bad.size == hit.size && bad.forall(!_.ok), bad.map(r => r.op.name -> r.error))
    } finally {
      spark.stop()
      graft.Fs.deleteRecursively(work)
    }
  }
}
