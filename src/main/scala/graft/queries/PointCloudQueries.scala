package graft.queries

import graft.Tables
import graft.pointcloud.syntax._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked point-cloud queries: parquet → LAS/PLY/XYZ → read back →
  * aggregate. The DuckDB oracle computes the same aggregate directly from
  * the parquet table, so a hash match proves the full encode/decode cycle
  * (header codec, record codec, fid/pid synthesis, schema handling) is
  * lossless — the driver-runnable equivalent of the reference's golden
  * header tests (LasSuite.scala:33-45).
  *
  * Aggregates stick to exact arithmetic (COUNT/MIN/MAX, SUM over integers
  * cast to BIGINT) so Spark/DuckDB float summation order can't differ.
  */
object PointCloudQueries {

  type Q = (SparkSession, String) => DataFrame

  private implicit class ColInterp(private val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }

  private def tmpDir(name: String, sfDir: String): String =
    s"/tmp/graft_pc/${name}_${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** Build-once fixture layout for queries whose GRADED operation is
    * elsewhere (pc10's clustered scan, pc11's streaming ingest, pc12's
    * streaming-sink source): the
    * derived LAS layout is deterministic from the dataset dir, so it is
    * built on first use and reused afterwards — repeated passes then
    * measure the operator, not the fixture generator. A marker file
    * written only after the write commits makes reuse safe across JVMs
    * (Verify, then Bench); a crashed partial build leaves no marker and
    * is rebuilt in overwrite mode. Same contract as ss07's served
    * layouts and jn01's warehouse: the dataset dir is immutable while
    * layouts exist, and one JVM builds at a time (the round driver's
    * shape — a parallel harness would need a lock here). */
  private def layoutOnce(name: String, sfDir: String)(build: String => Unit): String = {
    val dir = tmpDir(name, sfDir)
    // bump the version whenever a layout's fixture definition changes:
    // /tmp outlives JVMs, and an unversioned marker would silently serve
    // a layout built by older code
    // v2: round-13 LASzip conformance fixes changed the .laz bitstream,
    // so any compressed layout built by older code must rebuild
    // v3: the Point14 mid-chunk channel-context propagation fix changed
    // the layered (fmt 6-8) bitstream again
    // v4: the round-14 streaming-median fix (alternation on every add)
    // changed every .laz bitstream: old compressed layouts must rebuild
    // v5: the median's flip discipline re-transcribed to the published
    // LASzip control flow (flip only on the opposite-side insert) —
    // another bitstream change
    val marker = java.nio.file.Paths.get(dir, "_GRAFT_LAYOUT_DONE_v5")
    if (!java.nio.file.Files.exists(marker)) {
      build(dir)
      java.nio.file.Files.createFile(marker)
    }
    dir
  }

  /** The shared lineitem→LAS format-0 frame (one definition: pc01, pc04,
    * pc10, pc11 and pc12 must all census the same rows for their oracles
    * to agree on the lineitem arithmetic). */
  private def lasPointFrame(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      ($"l_orderkey" % 1000000).cast("int").as("x"),
      ($"l_partkey" % 1000000).cast("int").as("y"),
      ($"l_suppkey" % 1000000).cast("int").as("z"),
      ($"l_linenumber" % 32000).cast("short").as("intensity"),
      (($"l_linenumber" % 7) + 1).cast("byte").as("flags"),
      lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"),
      lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))

  /** lineitem → LAS (format 0 schema) → read → exact aggregates. */
  private val pc01: Q = (s, d) => {
    val pts = lasPointFrame(s, d)
    val dir = tmpDir("pc01", d)
    pts.writeLas(dir, Map("scale" -> "0.001"))
    s.read.las(dir).agg(
      count(lit(1)).as("n"),
      sum($"x".cast("bigint")).as("sx"),
      min($"x").as("mnx"), max($"x").as("mxx"),
      sum($"y".cast("bigint")).as("sy"),
      sum($"intensity".cast("bigint")).as("si"))
  }

  /** orders → PLY vertex element → read → exact aggregates (doubles only
    * under MIN/MAX, which binary round-trip bit-exactly). */
  private val pc02: Q = (s, d) => {
    val pts = Tables.orders(s, d).select(
      ($"o_orderkey" % 1000000).cast("int").as("x"),
      ($"o_custkey" % 1000000).cast("int").as("y"),
      $"o_totalprice".cast("double").as("price"))
    val dir = tmpDir("pc02", d)
    pts.writePly(dir)
    s.read.ply(dir).agg(
      count(lit(1)).as("n"),
      sum($"x".cast("bigint")).as("sx"),
      min($"price").as("mnp"), max($"price").as("mxp"))
  }

  /** part → XYZ text → read → exact aggregates (int-valued floats stay
    * exact through the text round trip). */
  private val pc03: Q = (s, d) => {
    val pts = Tables.part(s, d).select(
      $"p_partkey".cast("float").as("x"),
      ($"p_partkey" % 1000).cast("float").as("y"),
      ($"p_size").cast("float").as("z"),
      ($"p_size" % 100).cast("byte").as("r"),
      lit(1).cast("byte").as("g"),
      lit(2).cast("byte").as("b"))
    val dir = tmpDir("pc03", d)
    pts.writeXyz(dir)
    s.read.xyz(dir).agg(
      count(lit(1)).as("n"),
      sum($"x".cast("double")).as("sx"),
      min($"z").as("mnz"), max($"z").as("mxz"),
      sum($"r".cast("bigint")).as("sr"))
  }

  /** COUNT/MIN/MAX answered purely from LAS headers (DSv2 aggregate
    * pushdown, zero data IO — reference A1/A2 semantics) — values still
    * hash-checked against DuckDB computing them from the source rows. */
  private val pc04: Q = (s, d) => {
    val pts = Tables.lineitem(s, d).select(
      ($"l_orderkey" % 1000000).cast("int").as("x"),
      ($"l_partkey" % 1000000).cast("int").as("y"),
      ($"l_suppkey" % 1000000).cast("int").as("z"),
      lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"),
      lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"),
      lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    val dir = tmpDir("pc04", d)
    pts.writeLas(dir, Map("scale" -> "0.01", "offset" -> "1000"))
    s.read.las(dir).agg(
      count(lit(1)).as("n"),
      min($"x").as("mnx"), max($"x").as("mxx"),
      min($"y").as("mny"), max($"y").as("mxy"),
      min($"z").as("mnz"), max($"z").as("mxz"))
  }

  /** pc25: pc04's header-only COUNT/MIN/MAX over a COMPRESSED layout —
    * the `.laz` twin of the zero-data-IO aggregate. The laszip container
    * keeps the LAS header (bbox, point count) uncompressed in front of
    * the chunk stream, so a 100 TB compressed corpus answers
    * count/extent queries without entropy-decoding a single chunk; the
    * plan pin lives in LazSpec ("header-aggregate" node over `.laz`),
    * this entry grades the VALUES — the compressed sink's streaming
    * header stats (min/max raw ints, count) against DuckDB on the
    * source rows. The reference cannot run this query at all: it
    * rejects compressed input. */
  private val pc25: Q = (s, d) => {
    val pts = Tables.lineitem(s, d).select(
      ($"l_orderkey" % 1000000).cast("int").as("x"),
      ($"l_partkey" % 1000000).cast("int").as("y"),
      ($"l_suppkey" % 1000000).cast("int").as("z"),
      lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"),
      lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"),
      lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    val dir = tmpDir("pc25", d)
    pts.writeLaz(dir, Map("scale" -> "0.01", "offset" -> "1000",
      "laz.chunkSize" -> "4096"))
    s.read.las(dir).agg(
      count(lit(1)).as("n"),
      min($"x").as("mnx"), max($"x").as("mxx"),
      min($"y").as("mny"), max($"y").as("mxy"),
      min($"z").as("mnz"), max($"z").as("mxz"))
  }

  /** Cross-format interop: parquet → LAS (scaled ints) → read →
    * reconstruct world coordinates from header metadata → PLY → read →
    * aggregate. Every hop is a different codec; the oracle computes the
    * same numbers straight from the parquet source, so a hash match
    * proves the whole chain is lossless. */
  private val pc05: Q = (s, d) => {
    import graft.pointcloud.syntax
    val pts = Tables.lineitem(s, d).select(
      ($"l_orderkey" % 1000000).cast("int").as("x"),
      ($"l_partkey" % 1000000).cast("int").as("y"),
      ($"l_suppkey" % 1000000).cast("int").as("z"),
      lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"),
      lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"),
      lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    val lasDir = tmpDir("pc05las", d)
    val plyDir = tmpDir("pc05ply", d)
    pts.writeLas(lasDir, Map("scale" -> "0.01", "offset" -> "100"))
    val world = syntax.withCoordinates(s.read.las(lasDir))
      .select($"x_d".as("xd"), $"y")
    world.writePly(plyDir)
    s.read.ply(plyDir).agg(
      count(lit(1)).as("n"),
      min($"xd").as("mnd"), max($"xd").as("mxd"),
      sum($"y".cast("bigint")).as("sy"))
  }

  /** Voxel-grid downsampling over a real LAS read: one row per occupied
    * 1000-unit voxel with count + centroid. */
  private val pc06: Q = (s, d) => {
    import graft.pointcloud.PointCloudOps
    val pts = Tables.lineitem(s, d).select(
      ($"l_orderkey" % 1000000).cast("int").as("x"),
      ($"l_partkey" % 1000000).cast("int").as("y"),
      ($"l_suppkey" % 1000000).cast("int").as("z"),
      lit(0).cast("short").as("intensity"),
      lit(1).cast("byte").as("flags"),
      lit(0).cast("byte").as("classification"),
      lit(0).cast("byte").as("angle"),
      lit(0).cast("byte").as("user"),
      lit(0).cast("short").as("source"))
    val dir = tmpDir("pc06", d)
    pts.writeLas(dir)
    PointCloudOps.voxelDownsample(s.read.las(dir), "x", "y", "z", 1000.0)
      .select($"vx", $"vy", $"vz", $"n", $"cx", $"cy", $"cz")
      .sort($"vx", $"vy", $"vz")
      .limit(500)
  }

  /** Grid-cell radius neighbor join (complete 3×3-cell candidates +
    * exact distance filter) — oracle is the brute-force quadratic scan. */
  private val pc07: Q = (s, d) => {
    import graft.pointcloud.PointCloudOps
    val pts = Tables.part(s, d).select(
      $"p_partkey".as("id"),
      ($"p_partkey" % 97).cast("double").as("px"),
      ($"p_partkey" % 89).cast("double").as("py"))
    PointCloudOps.radiusJoin(pts, "id", "px", "py", 1.5)
      .select($"id_a", $"id_b", round($"dist", 4).as("dist"))
      .sort($"id_a", $"id_b")
      .limit(1000)
  }

  /** Per-voxel covariance (local-structure features). Sums of integer
    * products stay exact in doubles (< 2^53), so values hash-match the
    * oracle bit-for-bit modulo the final division + round. */
  private val pc08: Q = (s, d) => {
    import graft.pointcloud.PointCloudOps
    val pts = Tables.lineitem(s, d).select(
      ($"l_orderkey" % 1000).cast("int").as("x"),
      ($"l_partkey" % 1000).cast("int").as("y"),
      ($"l_suppkey" % 100).cast("int").as("z"))
    PointCloudOps.voxelCovariance(pts, "x", "y", "z", 250.0)
      .select($"vx", $"vy", $"vz", $"n",
        round($"cxx", 2).as("cxx"), round($"cyy", 2).as("cyy"),
        round($"czz", 2).as("czz"), round($"cxy", 2).as("cxy"),
        round($"cxz", 2).as("cxz"), round($"cyz", 2).as("cyz"))
      .sort($"vx", $"vy", $"vz")
      .limit(200)
  }

  /** Selective LAS range scan — exercises record-level filter pushdown
    * end-to-end (the filters are claimed pushed, evaluated on raw record
    * bytes before decode; plan carries no residual Filter). The oracle
    * applies the same predicate in SQL, so a hash match proves the pushed
    * evaluation is exact. */
  private val pc09: Q = (s, d) => {
    val pts = lasPointFrame(s, d)
    val dir = tmpDir("pc09", d)
    pts.writeLas(dir, Map("scale" -> "0.001"))
    s.read.las(dir)
      .filter($"x" >= 250000 && $"x" < 500000 && $"intensity" > 2)
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        min($"x").as("mnx"), max($"x").as("mxx"),
        sum($"intensity".cast("bigint")).as("si"))
  }

  /** Morton-clustered layout + selective 3D box query: the write side
    * range-partitions by Z-order code so every LAS file covers a compact
    * region (tight header bbox), and the read side then file-skips most
    * of the corpus before the pushed record filter touches the rest —
    * layout and pushdown composing, which is what makes a 1%-selective
    * query cheap at 100 TB. Oracle applies the same box on the parquet
    * source (layout cannot change values). */
  private val pc10: Q = (s, d) => {
    import graft.pointcloud.PointCloudOps
    val pts = lasPointFrame(s, d)
    val dir = layoutOnce("pc10", d) { out =>
      PointCloudOps.clusterSpatially(pts, "x", "y", "z", 8)
        .writeLas(out, Map("scale" -> "0.001"))
    }
    s.read.las(dir)
      .filter($"x" < 100000 && $"y" < 100000)
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y".cast("bigint")).as("sy"),
        max($"z").as("mxz"))
  }

  /** pc11: the LAS source on the STREAMING surface — the same DSv2 table
    * read through `readStream` micro-batches (PointCloudStream: each
    * record-aligned file split becomes stream input), aggregated with a
    * complete-mode group-by and run to completion via the st-queries'
    * harness. The oracle computes the identical census from the parquet
    * source, so a hash match proves the streaming read decodes exactly
    * what the batch read does — ingest-as-it-lands over a growing LAS
    * directory, which at 100 TB replaces "re-scan the corpus" with
    * "process the new files". */
  private val pc11: Q = (s, d) => {
    val pts = lasPointFrame(s, d)
    val dir = layoutOnce("pc11", d) { out =>
      pts.writeLas(out, Map("scale" -> "0.001"))
    }
    val stream = s.readStream.format("las").load(dir)
    val agg = stream.groupBy($"flags")
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        min($"y").as("mny"), max($"y").as("mxy"),
        sum($"intensity".cast("bigint")).as("si"))
    StreamingQueries.runToCompletion(agg, "graft_pc11", "complete")
      .select($"flags", $"n", $"sx", $"mny", $"mxy", $"si")
      .sort($"flags")
  }

  /** pc12: the streaming SINK on the graded surface — the pc11 census,
    * but the data flows readStream(las) → writeStreamPointCloud(las)
    * (epoch-tagged self-contained files) before the batch read computes
    * the aggregate. A hash match proves the streaming writer encodes
    * exactly what the batch writer does: the continuous-ingest landing
    * path (curated micro-batches → LAS files) end-to-end. The output dir
    * is rebuilt per run — the graded operation IS the streaming write. */
  private val pc12: Q = (s, d) => {
    val pts = lasPointFrame(s, d)
    val src = layoutOnce("pc12src", d) { out =>
      pts.writeLas(out, Map("scale" -> "0.001"))
    }
    val out = tmpDir("pc12out", d)
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(out))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pc12_ckpt")
    val stream = s.readStream.format("las").load(src).drop("fid", "pid")
    val q = stream.writeStreamPointCloud("las", out, Map("scale" -> "0.001"))
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally {
      q.stop(); graft.Fs.deleteRecursively(ckpt)
    }
    s.read.las(out).groupBy($"flags")
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        min($"y").as("mny"), max($"y").as("mxy"),
        sum($"intensity".cast("bigint")).as("si"))
      .select($"flags", $"n", $"sx", $"mny", $"mxy", $"si")
      .sort($"flags")
  }

  /** pc13's nodata sentinel — outside the real value range ([0, 1000)),
    * shared with the VLR metadata so write and oracle agree. */
  private final val Pc13Sentinel = -999999.0

  /** pc13: LAS ExtraBytes VLR + nodata→null end-to-end — the reference's
    * most distinctive schema feature (las/LasHeader.scala:64-117 struct
    * layout; BinarySectionRelation.scala:76-88 sentinel→null) under the
    * oracle. The frame carries two extra (non-format-0) columns:
    * `gps_residual` (double, with a nodata sentinel stamped in the column
    * metadata — the writer serializes it into the Extra Bytes VLR, and
    * rows whose value IS the sentinel decode back as NULL) and `cycle`
    * (int, no nodata — proves a multi-struct VLR and the integral extra
    * path). COUNT(col) vs COUNT(*) and the null-skipping SUM/MIN/MAX only
    * match the oracle's CASE-WHEN twin if the VLR round trip AND the
    * sentinel→null decode are both exact. All values are integer-valued,
    * so every aggregate is order-independent and bit-exact. */
  private val pc13: Q = (s, d) => {
    val ndMd = new org.apache.spark.sql.types.MetadataBuilder()
      .putDouble("nodata", Pc13Sentinel).build()
    val pts = lasPointFrame(s, d).select(
      col("*"),
      when($"intensity" % 3 === 0, lit(Pc13Sentinel))
        .otherwise(($"y" % 1000).cast("double")).as("gps_residual", ndMd),
      ($"z" % 128).cast("int").as("cycle"))
    val dir = tmpDir("pc13", d)
    pts.writeLas(dir, Map("scale" -> "0.001"))
    s.read.las(dir).agg(
      count(lit(1)).as("n"),
      count($"gps_residual").as("ng"),
      sum($"gps_residual").cast("bigint").as("sg"),
      min($"gps_residual").as("mng"),
      max($"gps_residual").as("mxg"),
      sum($"cycle".cast("bigint")).as("sc"))
  }

  /** pc14: unsigned read semantics under the oracle — LAS `intensity` is
    * u16 on disk (public spec; reference reads it signed-wrapped,
    * las/package.scala). The frame stores values spanning the FULL u16
    * range (> 32767 included, via an orderkey mix — partkey alone is too
    * small at test SFs to ever wrap), then reads the same file twice:
    * default (signed wrap, the reference's semantics) and
    * `widenUnsigned` (zero-extended 0..65535). Aggregating both reads in
    * one result means the oracle's two's-complement CASE twin must match
    * BOTH decode modes — a wrap bug or a widen bug each break a column.
    * All values integer ⇒ order-independent, bit-exact. */
  private val pc14: Q = (s, d) => {
    // ANSI cast refuses an overflowing int→short, so wrap explicitly:
    // store u16 value v as its two's-complement short (same disk bytes)
    val v = ($"x" * 31 + $"y") % 65536
    val pts = lasPointFrame(s, d)
      .withColumn("intensity",
        (v - when(v >= 32768, lit(65536)).otherwise(lit(0))).cast("short"))
    val dir = tmpDir("pc14", d)
    pts.writeLas(dir, Map("scale" -> "0.001"))
    val wrapped = s.read.las(dir).agg(
      sum($"intensity".cast("bigint")).as("s_wrap"),
      min($"intensity".cast("int")).as("mn_wrap"),
      max($"intensity".cast("int")).as("mx_wrap"))
    val widened = s.read.option("widenUnsigned", "true").las(dir).agg(
      sum($"intensity".cast("bigint")).as("s_wide"),
      min($"intensity").as("mn_wide"),
      max($"intensity").as("mx_wide"))
    wrapped.crossJoin(widened)
  }

  /** pc15: the reference's per-key saver graded end-to-end — ONE
    * distributed pass writes one self-contained `<key>.las` per tile
    * (K2, reference las/package.scala:45-98, minus its driver loop of
    * per-key jobs), and the read-back recovers each row's tile from the
    * FILE NAME via the fid column's source-paths metadata (the D3 naming
    * contract). The per-tile census must then match a plain lineitem
    * GROUP BY — a wrong file split, a dropped key file, or a fid↔path
    * mismatch each shift a group. The fid→tile map is k rows on the
    * driver (k = distinct keys, from schema metadata, no data collect)
    * and joins back in as a broadcast. */
  private val pc15: Q = (s, d) => {
    val pts = lasPointFrame(s, d).withColumn("tile", ($"x" % 5).cast("int"))
    val dir = tmpDir("pc15", d)
    pts.writeLasKeyed(dir, "tile", Map("scale" -> "0.001"))
    val back = s.read.las(dir)
    // key rides in the file name, not the records: rebuild fid→tile from
    // the scan's own paths metadata (exactly what writePerSource trusts)
    val fidTile = back.schema("fid").metadata.getStringArray("paths")
      .toSeq.zipWithIndex.map { case (p, i) =>
        (i, new java.io.File(p).getName.stripSuffix(".las").toInt)
      }
    val keys = s.createDataFrame(fidTile).toDF("fid", "tile")
    back.join(broadcast(keys), "fid")
      .groupBy($"tile")
      .agg(count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        min($"intensity".cast("int")).as("mni"),
        max($"intensity".cast("int")).as("mxi"))
      .sort($"tile")
  }

  /** pc16: heterogeneous-schema union scan graded under the oracle — two
    * PLY directories share a corpus but disagree on schema (one stores
    * `x` as i32 and carries `price`; the other stores `x` widened to i64
    * and omits `price`), and ONE multi-path read resolves the merged
    * schema: `x` widens to long (narrow files implicitly cast at decode,
    * U1+P2), `price` turns nullable with nulls exactly on the omitting
    * file's rows. The census mixes both behaviors so a widening, cast,
    * or missing-column bug each break a column (reference merge:
    * BinarySectionRelation.scala:165-181). */
  private val pc16: Q = (s, d) => {
    val base = Tables.orders(s, d).select(
      ($"o_orderkey" % 1000000).cast("int").as("x"),
      ($"o_custkey" % 1000000).cast("int").as("y"),
      $"o_totalprice".cast("double").as("price"),
      ($"o_orderkey" % 2).as("par"))
    val dirA = tmpDir("pc16a", d)
    val dirB = tmpDir("pc16b", d)
    base.filter($"par" === 0).drop("par").writePly(dirA)
    base.filter($"par" === 1).drop("par")
      .withColumn("x", $"x".cast("long")).drop("price").writePly(dirB)
    s.read.ply(dirA, dirB).agg(
      count(lit(1)).as("n"),
      sum($"x").as("sx"),                          // long: i32 rows cast up
      count($"price").as("np"),                    // nulls where file omits it
      min($"price").as("mnp"), max($"price").as("mxp"),
      sum($"price".isNull.cast("bigint")).as("nnull"))
  }

  /** pc17: LAS format-0 + format-1 union with scaled-coordinate
    * reconstruction — half the corpus lands as fmt0, half as fmt1 with a
    * `time` channel (exact halves, so even its SUM is order-independent
    * in IEEE doubles), both headers carrying scale 0.01 / offset 50.
    * One read merges the formats (`time` null exactly on fmt0 rows) and
    * [[graft.pointcloud.syntax.withCoordinates]] rebuilds world
    * coordinates from the header metadata (`x_d = x*scale+offset`, the
    * metadata-plus-arithmetic replacement for the reference's
    * ScaledInteger UDT, ScaledIntegerType.scala:27-111 / SURVEY §1.5).
    * The oracle recomputes the same IEEE product per row, so a header
    * scale/offset drift or a reconstruction bug breaks min/max. */
  private val pc17: Q = (s, d) => {
    val pts = lasPointFrame(s, d)
    val world = Map("scale" -> "0.01", "offset" -> "50")
    val dirA = tmpDir("pc17a", d)
    val dirB = tmpDir("pc17b", d)
    pts.filter($"z" % 2 === 0).writeLas(dirA, world)
    pts.filter($"z" % 2 === 1).withColumn("time", $"x" * 0.5).writeLas(dirB, world)
    withCoordinates(s.read.las(dirA, dirB)).agg(
      count(lit(1)).as("n"),
      count($"time").as("nt"),                     // fmt0 rows surface null
      sum($"time").as("st"),                       // exact multiples of 0.5
      min($"x_d").as("mnxd"), max($"x_d").as("mxxd"))
  }

  /** Copies a layout's data files into a live streamed directory under a
    * fresh name prefix (idempotent per target name — bench passes rerun
    * the landing). */
  private def landFiles(src: String, dst: String, prefix: String, ext: String): Unit = {
    val files = Option(new java.io.File(src).listFiles()).getOrElse(Array.empty)
    files.filter(_.getName.endsWith(ext)).foreach { f =>
      val t = java.nio.file.Paths.get(dst, prefix + f.getName)
      if (!java.nio.file.Files.exists(t)) java.nio.file.Files.copy(f.toPath, t)
    }
  }

  /** pc18: the PLY source on the STREAMING surface, with files LANDING
    * mid-stream — half the corpus is present when the query starts, the
    * other half is copied in after the first drain and picked up by the
    * next micro-batch (default trigger; AvailableNow would snapshot the
    * start state and never see it). The oracle computes the identical
    * census from the parquet source, so a hash match proves the
    * streaming PLY decode — including the landed files — matches the
    * batch read. Same continuous-ingest shape as pc11, on the second
    * source format. */
  private val pc18: Q = (s, d) => {
    val pts = Tables.orders(s, d).select(
      ($"o_orderkey" % 1000000).cast("int").as("x"),
      ($"o_custkey" % 1000000).cast("int").as("y"),
      $"o_totalprice".cast("double").as("price"))
    val srcA = layoutOnce("pc18a", d) { out => pts.filter($"x" % 2 === 0).writePly(out) }
    val srcB = layoutOnce("pc18b", d) { out => pts.filter($"x" % 2 === 1).writePly(out) }
    val dir = tmpDir("pc18stream", d)
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    landFiles(srcA, dir, "aa-", ".ply")
    val stream = s.readStream.format("ply").load(dir)
    val agg = stream.groupBy(($"y" % 5).cast("int").as("grp"))
      .agg(count(lit(1)).as("n"), sum($"x".cast("bigint")).as("sx"),
        min($"price").as("mnp"), max($"price").as("mxp"))
    StreamingQueries.runToCompletion(agg, "graft_pc18", "complete",
        Some(() => landFiles(srcB, dir, "zz-", ".ply")))
      .select($"grp", $"n", $"sx", $"mnp", $"mxp")
      .sort($"grp")
  }

  /** pc19: the XYZ text source on the STREAMING surface with mid-stream
    * landing — same shape as pc18 on the third format (one partition per
    * text file, float parse). Census vs the parquet oracle. */
  private val pc19: Q = (s, d) => {
    val pts = Tables.part(s, d).select(
      $"p_partkey".cast("float").as("x"),
      ($"p_partkey" % 1000).cast("float").as("y"),
      ($"p_size").cast("float").as("z"),
      ($"p_size" % 100).cast("byte").as("r"),
      lit(1).cast("byte").as("g"),
      lit(2).cast("byte").as("b"))
    val srcA = layoutOnce("pc19a", d) { out =>
      pts.filter($"z".cast("int") % 2 === 0).writeXyz(out)
    }
    val srcB = layoutOnce("pc19b", d) { out =>
      pts.filter($"z".cast("int") % 2 === 1).writeXyz(out)
    }
    val dir = tmpDir("pc19stream", d)
    graft.Fs.deleteRecursively(java.nio.file.Paths.get(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    landFiles(srcA, dir, "aa-", ".xyz")
    val stream = s.readStream.format("xyz").load(dir)
    val agg = stream.groupBy(($"r" % 3).cast("int").as("grp"))
      .agg(count(lit(1)).as("n"),
        sum($"x".cast("double")).as("sx"),
        min($"z").as("mnz"), max($"z").as("mxz"))
    StreamingQueries.runToCompletion(agg, "graft_pc19", "complete",
        Some(() => landFiles(srcB, dir, "zz-", ".xyz")))
      .select($"grp", $"n", $"sx", $"mnz", $"mxz")
      .sort($"grp")
  }

  /** pc20's grid: coordinates fold into a dense 0..999 span first
    * (sf-independent — the raw keys only fill their 0..1e6 span at
    * large SF, and a grid over empty span would be one vacuous cell),
    * then 100-unit cells → a populated 10×10 grid at every SF. */
  private final val Pc20Span = 1000L
  private final val Pc20Cell = 100L

  /** pc20: elevation grid — the DEM/ground-extraction pass every LiDAR
    * pipeline runs (the 2.5D twin of pc06's 3D voxel ops): points flow
    * through the REAL LAS round trip, then ONE map-side-combined hash
    * aggregate on the (x, y) grid cell yields per-cell point count,
    * minimum z (the ground estimate), maximum z and relief. Integer
    * arithmetic end to end; the oracle computes the same grid from the
    * source parquet, so a hash match proves the LAS encode/decode AND
    * the grid arithmetic. At 100 TB this is one shuffle of
    * constant-size cell rows. */
  private val pc20: Q = (s, d) => {
    val pts = lasPointFrame(s, d)
    val dir = tmpDir("pc20", d)
    pts.writeLas(dir, Map("scale" -> "0.001"))
    s.read.las(dir)
      .groupBy(expr(s"cast(x as bigint) % $Pc20Span div $Pc20Cell").as("gx"),
        expr(s"cast(y as bigint) % $Pc20Span div $Pc20Cell").as("gy"))
      .agg(count(lit(1)).as("n"),
        min($"z").as("ground"),
        max($"z").as("top"),
        (max($"z") - min($"z")).as("relief"))
      .sort($"gx", $"gy")
  }

  /** pc21: the LAZ (compressed LAS) round trip graded end-to-end —
    * lineitem → format-1 points (GPS time exercises the second item
    * codec) → `.laz` written through the chunked LASzip sink (8192-point
    * chunks, so the graded path crosses many chunk boundaries and the
    * chunk-aligned split planner) → read back through the SAME
    * `read.las` table → exact census. The oracle computes the census
    * from the source rows, so a hash match proves the entire
    * entropy-coded cycle (header bit, laszip VLR, chunk table, POINT10 +
    * GPSTIME11 codecs, chunk-aligned scan) is lossless. The reference
    * REJECTS compressed input
    * (FixedLengthBinarySectionInputFormat.scala:48-56) — this entry is
    * capability beyond its surface. */
  private val pc21: Q = (s, d) => {
    val pts = lasPointFrame(s, d).withColumn("time",
      $"x".cast("double") * 0.001 + $"y".cast("double"))
    val dir = tmpDir("pc21", d)
    pts.writeLaz(dir, Map("scale" -> "0.001", "laz.chunkSize" -> "8192"))
    s.read.las(dir).agg(
      count(lit(1)).as("n"),
      sum($"x".cast("bigint")).as("sx"),
      min($"x").as("mnx"), max($"x").as("mxx"),
      sum($"y".cast("bigint")).as("sy"),
      sum($"intensity".cast("bigint")).as("si"),
      min($"time").as("mnt"), max($"time").as("mxt"))
  }

  /** The shared lineitem→format-7 frame (pc23 batch and pc27 streaming
    * census the same rows, so their oracles share the derivations):
    * extended 4-bit returns, TWO interleaved scanner channels, i16
    * angles, GPS time and RGB. */
  private def layeredPointFrame(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      ($"l_orderkey" % 1000000).cast("int").as("x"),
      ($"l_partkey" % 1000000).cast("int").as("y"),
      ($"l_suppkey" % 1000000).cast("int").as("z"),
      ($"l_linenumber" % 32000).cast("short").as("intensity"),
      // r in 1..7, n = 7: extended-return nibbles
      ((($"l_linenumber" % 7) + 1) + lit(7 * 16)).cast("byte").as("return"),
      // channel bits 4-5 from orderkey parity, class flags + scan dir
      ((($"l_orderkey" % 2) * 16) + ($"l_partkey" % 4) + (($"l_suppkey" % 2) * 64))
        .cast("byte").as("flags"),
      ($"l_partkey" % 64).cast("byte").as("classification"),
      lit(0).cast("byte").as("user"),
      (($"l_suppkey" % 3600) - 1800).cast("short").as("angle"),
      ($"l_orderkey" % 3).cast("short").as("source"),
      (($"l_orderkey" % 1000000).cast("double") * 0.001 +
        ($"l_partkey" % 1000000).cast("double")).as("time"))
      .withColumn("red", ($"x" % 1000).cast("short"))
      .withColumn("green", ($"y" % 700).cast("short"))
      .withColumn("blue", ($"z" % 500).cast("short"))

  /** pc23: the LAYERED LASzip compressor (LAS 1.4, compressor 3) graded
    * end-to-end — lineitem → format-7 points exercising exactly the
    * machinery the layered scheme adds over pc21's pointwise path:
    * extended 4-bit returns, TWO interleaved scanner channels (the
    * per-channel context sets), i16 scan angles, GPS time inside the
    * POINT14 item, and RGB through RGB14 — → `.laz` via the same chunked
    * sink (8192-point chunks, multi-chunk) → read back through the same
    * chunk-aligned scan → census GROUPED BY THE DECODED SCANNER CHANNEL.
    * The oracle re-derives the channel from the source rows, so a hash
    * match proves the flags byte (channel bits included) and every other
    * field survived the nine-layer cycle. Formats 6+ are what modern 1.4
    * corpora actually ship; the reference reads them uncompressed only
    * (las/LasHeader.scala formats table) and rejects `.laz` entirely. */
  private val pc23: Q = (s, d) => {
    val pts = layeredPointFrame(s, d)
    val dir = tmpDir("pc23", d)
    Tables.fanOut(pts).writeLaz(dir, Map("scale" -> "0.001", "laz.chunkSize" -> "8192"))
    s.read.las(dir)
      .groupBy(expr("cast(flags as bigint) div 16 % 4").as("channel"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y".cast("bigint")).as("sy"),
        min($"angle".cast("int")).as("mnang"), max($"angle".cast("int")).as("mxang"),
        sum($"intensity".cast("bigint")).as("si"),
        sum($"red".cast("bigint")).as("sr"),
        sum($"green".cast("bigint")).as("sg"),
        sum($"blue".cast("bigint")).as("sb"),
        min($"time").as("mnt"), max($"time").as("mxt"))
      .sort($"channel")
  }

  /** pc24: VARIABLE-chunked LASzip (VLR chunk size −1, the
    * spatially-indexed `.laz` layout) graded end-to-end — pc01's
    * format-0 frame written through the sink's chunk-plan hook (700 /
    * 1300 / 250-point chunks cycled, so every file ends in a partial
    * chunk and no boundary falls on a fixed stride), per-chunk point
    * counts resolved from the variable chunk-table variant, split
    * chunk-aligned by the same planner, and censused GROUPED BY FLAGS.
    * The group-by makes per-record alignment load-bearing: a reader that
    * mis-sized any irregular chunk would shift every following record's
    * flags byte and scramble the group counts, not just a total. */
  private val pc24: Q = (s, d) => {
    val pts = lasPointFrame(s, d)
    val dir = tmpDir("pc24", d)
    pts.writeLaz(dir, Map("scale" -> "0.001", "laz.chunkplan" -> "700,1300,250"))
    s.read.las(dir)
      .groupBy($"flags".cast("int").as("flags"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        min($"y").as("mny"), max($"y").as("mxy"),
        sum($"z".cast("bigint")).as("sz"),
        sum($"intensity".cast("bigint")).as("si"))
      .sort($"flags")
  }

  /** pc22: COMPRESSED streaming ingest — pc11's census with the watched
    * directory holding `.laz` instead of `.las`: the micro-batch source
    * plans the same chunk-aligned splits as the batch scan, entropy-
    * decodes per chunk, and the complete-mode census must hash-match
    * the parquet source exactly. Small chunks (4096 points) force many
    * chunk splits through the streaming planner. At 100 TB this is the
    * landing shape real LiDAR corpora arrive in — overwhelmingly
    * `.laz` — and the reference cannot ingest it at all. */
  private val pc22: Q = (s, d) => {
    val pts = lasPointFrame(s, d)
    val dir = layoutOnce("pc22", d) { out =>
      pts.writeLaz(out, Map("scale" -> "0.001", "laz.chunkSize" -> "4096"))
    }
    val stream = s.readStream.format("las").load(dir)
    val agg = stream.groupBy($"flags")
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        min($"y").as("mny"), max($"y").as("mxy"),
        sum($"intensity".cast("bigint")).as("si"))
    StreamingQueries.runToCompletion(agg, "graft_pc22", "complete")
      .select($"flags", $"n", $"sx", $"mny", $"mxy", $"si")
      .sort($"flags")
  }

  /** pc26: the WAVEPACKET item graded end-to-end — lineitem → format-5
    * points (GPS time + RGB + the 29-byte waveform packet descriptor:
    * u8 index, u64 byte offset, u32 packet size, f32 return-point
    * location and f32 dx/dy/dz direction) → `.laz` through the chunked
    * pointwise sink (WAVEPACKET13 is the fifth item codec in the
    * format-5 chain) → read back → census GROUPED BY THE DECODED
    * WAVEFORM INDEX. The oracle re-derives every waveform field from
    * the source rows, so a hash match proves the offset-difference
    * classifier (same/following/i32-diff/raw64), the packet-size and
    * location correctors and the xyz direction correctors are all
    * lossless. Formats 4/5 round-tripped in specs since r13; this makes
    * the waveform path a GRADED surface like every other codec family. */
  private val pc26: Q = (s, d) => {
    val pts = Tables.lineitem(s, d).select(
      ($"l_orderkey" % 1000000).cast("int").as("x"),
      ($"l_partkey" % 1000000).cast("int").as("y"),
      ($"l_suppkey" % 1000000).cast("int").as("z"),
      ($"l_linenumber" % 32000).cast("short").as("intensity"),
      // r in 1..5, n = 5 (3-bit nibbles of formats 0-5)
      ((($"l_linenumber" % 5) + 1) + lit(5 * 8)).cast("byte").as("flags"),
      ($"l_partkey" % 32).cast("byte").as("classification"),
      (($"l_suppkey" % 90) - 45).cast("byte").as("angle"),
      lit(0).cast("byte").as("user"),
      ($"l_orderkey" % 3).cast("short").as("source"),
      (($"l_orderkey" % 1000000).cast("double") * 0.001 +
        ($"l_partkey" % 1000000).cast("double")).as("time"),
      ($"l_orderkey" % 1000).cast("short").as("red"),
      ($"l_partkey" % 700).cast("short").as("green"),
      ($"l_suppkey" % 500).cast("short").as("blue"),
      // waveform descriptor: offsets mix "same"/"following"/jumping runs,
      // sizes and directions are integral so every float is exact
      ($"l_linenumber" % 4).cast("byte").as("index"),
      (($"l_orderkey" % 100000) * 64).cast("bigint").as("offset"),
      (($"l_partkey" % 1000) + 64).cast("int").as("size"),
      ($"l_suppkey" % 500).cast("float").as("location"),
      (($"l_partkey" % 200) - 100).cast("float").as("xt"),
      (($"l_suppkey" % 200) - 100).cast("float").as("yt"),
      (($"l_orderkey" % 200) - 100).cast("float").as("zt"))
    val dir = tmpDir("pc26", d)
    Tables.fanOut(pts).writeLaz(dir, Map("scale" -> "0.001", "laz.chunkSize" -> "8192"))
    s.read.las(dir)
      .groupBy($"index".cast("int").as("widx"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"offset").as("so"),
        min($"offset").as("mno"), max($"offset").as("mxo"),
        sum($"size".cast("bigint")).as("ssz"),
        min($"location").as("mnl"), max($"location").as("mxl"),
        sum($"xt".cast("bigint")).as("sxt"),
        sum($"yt".cast("bigint")).as("syt"),
        sum($"zt".cast("bigint")).as("szt"),
        min($"time").as("mnt"), max($"time").as("mxt"))
      .sort($"widx")
  }

  /** pc27: STREAMING ingest of a LAYERED `.laz` directory — pc22's
    * micro-batch shape over pc23's format-7 corpus: the streaming
    * source plans the same chunk-aligned splits, the nine-layer
    * native-1.4 codec decodes per chunk inside micro-batch tasks, and
    * the complete-mode census grouped by the DECODED scanner channel
    * must hash-match the source parquet. Pins the streaming planner ×
    * layered codec composition end-to-end (pc22 covers only the v2
    * pointwise scheme). */
  private val pc27: Q = (s, d) => {
    val pts = layeredPointFrame(s, d)
    val dir = layoutOnce("pc27", d) { out =>
      pts.writeLaz(out, Map("scale" -> "0.001", "laz.chunkSize" -> "4096"))
    }
    val stream = s.readStream.format("las").load(dir)
    val agg = stream.groupBy(expr("cast(flags as bigint) div 16 % 4").as("channel"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"red".cast("bigint")).as("sr"),
        min($"angle".cast("int")).as("mnang"),
        sum($"intensity".cast("bigint")).as("si"),
        min($"time").as("mnt"), max($"time").as("mxt"))
    StreamingQueries.runToCompletion(agg, "graft_pc27", "complete")
      .select($"channel", $"n", $"sx", $"sr", $"mnang", $"si", $"mnt", $"mxt")
      .sort($"channel")
  }

  /** pc28/pc29's shared layout: the format-7 frame as a three-file COPC
    * corpus (disjoint voxel-key ranges, octree-keyed chunks, info VLR +
    * hierarchy EVLR per file). Built once per dataset dir. */
  private def copcLayout(s: SparkSession, d: String): String =
    layoutOnce("pc28b", d) { out =>
      layeredPointFrame(s, d).writeCopc(out,
        Map("scale" -> "0.001", "copc.nodepoints" -> "4096", "copc.files" -> "3"))
    }

  /** pc28: COPC SPATIAL PRUNING graded end-to-end, BOTH tiers — the
    * format-7 frame written through `writeCopc` with `copc.files = 3`
    * (range-partitioned on the voxel key into three spatially DISJOINT
    * files, each with octree-keyed chunks + `copc` info VLR + hierarchy
    * EVLR), then read back with a bbox predicate: whole files whose
    * header bbox misses the box drop at the SectionSkip tier, surviving
    * files skip every chunk whose octree cube misses it (CopcSpec pins
    * the partition-count drop), and the census must still hash-match an
    * oracle that re-derives the SAME box from the source rows — one
    * dropped or double-counted file OR chunk scrambles every group.
    * This is the 100-TB read path: thousands of files × thousands of
    * chunks, pruned file-first then chunk-level, with the record
    * predicate exacting the residue. The layout is build-once (the
    * GRADED operation is the pruned read). */
  private val pc28: Q = (s, d) => {
    val dir = copcLayout(s, d)
    s.read.las(dir)
      // box bounds sized to the SMALLEST SF's key ranges (x = orderkey
      // mod 1e6 only reaches 1499 at sf0.001; a box past that grades a
      // vacuous zero-row match — the jn03 lesson): ~2.5k rows selected
      // at EVERY SF, i.e. a fixed region whose read cost stays flat
      // while the corpus grows 100x — the subscription contract
      .where($"x" >= 200 && $"x" <= 900 && $"y" >= 20)
      .groupBy(($"classification" % 8).cast("int").as("cls"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y".cast("bigint")).as("sy"),
        sum($"z".cast("bigint")).as("sz"),
        sum($"intensity".cast("bigint")).as("si"),
        min($"x").as("mnx"), max($"x").as("mxx"),
        min($"time").as("mnt"), max($"time").as("mxt"))
      .sort($"cls")
  }

  /** pc29: STREAMED SPATIAL SUBSCRIPTION — the `bbox` read option is
    * the micro-batch source's only pushdown channel (Spark never calls
    * pushFilters when planning a stream), so a consumer tailing a
    * growing point-cloud lake for ONE region declares its box on the
    * source, Kafka-subscription style. Over pc28's three-file COPC
    * layout the declared box must (a) skip whole files at the header
    * tier, (b) skip chunks at the octree tier, and (c) be EXACT at the
    * record level through the reader-side predicate — the complete-mode
    * census carries no residual WHERE at all, so one over- or
    * under-delivered record scrambles a group against the oracle, which
    * re-derives the box from the source rows. The 100-TB shape: the
    * stream pays only for the octree nodes its region intersects, per
    * landing file, forever. */
  private val pc29: Q = (s, d) => {
    val dir = copcLayout(s, d)
    val stream = s.readStream.format("las")
      .option("bbox", "200,900,20,*,*,*").load(dir)
    val agg = stream.groupBy($"source".cast("int").as("src"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"z".cast("bigint")).as("sz"),
        sum($"intensity".cast("bigint")).as("si"),
        min($"y").as("mny"), max($"y").as("mxy"),
        min($"time").as("mnt"), max($"time").as("mxt"))
    StreamingQueries.runToCompletion(agg, "graft_pc29", "complete")
      .select($"src", $"n", $"sx", $"sz", $"si", $"mny", $"mxy", $"mnt", $"mxt")
      .sort($"src")
  }

  /** The smallest octree level whose 8^l leaves average ≤ `target`
    * points — INTEGER arithmetic (no ceil/log), so the DuckDB oracle
    * states the identical ladder on COUNT(*) and both sides agree at
    * every scale factor. */
  private def lodLeafLevel(n: Long, target: Long): Int = {
    var l = 0
    var cap = target
    while (n > cap && l < 4) { l += 1; cap *= 8 }
    l
  }

  /** pc30/pc33's shared LOD layout (build-once) and its leaf level. */
  private def lodLayout(s: SparkSession, d: String): (String, Int) = {
    val leaf = lodLeafLevel(Tables.lineitem(s, d).count(), 4096L)
    val dir = layoutOnce("pc30", d) { out =>
      layeredPointFrame(s, d).writeCopc(out,
        Map("scale" -> "0.001", "copc.nodepoints" -> "4096",
          "copc.lod" -> "true", "copc.level" -> leaf.toString))
    }
    (dir, leaf)
  }

  /** pc30: LOD PREVIEW READ — the approximate-scan rung of the COPC
    * family. `copc.lod = true` distributes points across octree levels
    * by a DETERMINISTIC integer hash of the raw coordinates
    * (Copc.lodHash/lodLevel: ~1/8 promoted per level, the published
    * COPC shape where coarse levels hold a gridded subsample), and the
    * `copc.maxlevel` read option answers a census from the coarse
    * levels ONLY — the planner never cuts a split for a leaf chunk, so
    * the preview costs ~1/8 of the full scan and the fraction HOLDS as
    * the corpus grows (the level split is per-point, not per-corpus).
    * Graded strictly: the oracle re-derives the exact level of every
    * source row from the same hash ladder (xor/multiply/mod — all
    * int64-exact in DuckDB) and the leaf level from COUNT(*), so one
    * row leaking across the level boundary scrambles the census. This
    * is the storage-level "fast approximate answer" a 100-TB
    * interactive workload needs: no sampling operator, no second
    * dataset — the SAME file serves exact and preview reads. */
  private val pc30: Q = (s, d) => {
    val (dir, leaf) = lodLayout(s, d)
    s.read.format("las")
      .option("copc.maxlevel", math.max(leaf - 1, 0).toString).load(dir)
      .groupBy(($"classification" % 4).cast("int").as("g"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y".cast("bigint")).as("sy"),
        sum($"z".cast("bigint")).as("sz"),
        sum($"intensity".cast("bigint")).as("si"),
        min($"time").as("mnt"), max($"time").as("mxt"))
      .sort($"g")
  }

  /** pc31's frame: format-6 points whose gpstime is BANDED — band
    * b = l_linenumber % 4 occupies [b·2e6, b·2e6 + ~1.001e6), so the
    * four bands are time-disjoint and each band's files carry a `copc`
    * info-VLR gps range confined to their own band. The band also rides
    * in `user` so the layout builder can slice without re-deriving. */
  private def timeBandedFrame(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      ($"l_orderkey" % 1000000).cast("int").as("x"),
      ($"l_partkey" % 1000000).cast("int").as("y"),
      ($"l_suppkey" % 1000000).cast("int").as("z"),
      ($"l_linenumber" % 32000).cast("short").as("intensity"),
      ((($"l_linenumber" % 7) + 1) + lit(7 * 16)).cast("byte").as("return"),
      (($"l_orderkey" % 2) * 16).cast("byte").as("flags"),
      ($"l_partkey" % 64).cast("byte").as("classification"),
      ($"l_linenumber" % 4).cast("byte").as("user"),
      lit(0).cast("short").as("angle"),
      ($"l_orderkey" % 3).cast("short").as("source"),
      (($"l_linenumber" % 4).cast("double") * 2000000.0 +
        ($"l_orderkey" % 1000000).cast("double") * 0.001 +
        ($"l_partkey" % 1000000).cast("double")).as("time"))

  /** pc31: GPS-TIME FILE SKIP — the temporal twin of pc28's spatial
    * pruning, over the second most common lidar-lake predicate after
    * bbox. Four time-disjoint batches land in ONE directory through
    * `writeCopc(..., mode = "append")` (each file derives its own cube,
    * octree and `copc` info-VLR gpstime range — the daily-ingest shape,
    * no rewrite of earlier files), and a `time BETWEEN`-shaped read
    * must skip the three out-of-range files at the header tier (the
    * planner consults Info.gpsMin/gpsMax before any split is cut —
    * CopcSpec pins the partition-count drop) while the residual record
    * predicate keeps the census exact. The oracle re-derives the same
    * time window from the source arithmetic, so one record leaking
    * from (or dropped with) a skipped file scrambles a group. */
  private val pc31: Q = (s, d) => {
    val dir = layoutOnce("pc31", d) { out =>
      val pts = timeBandedFrame(s, d)
      (0 until 4).foreach { b =>
        pts.filter($"user" === b).writeCopc(out,
          Map("scale" -> "0.001", "copc.nodepoints" -> "4096"),
          mode = if (b == 0) "overwrite" else "append")
      }
    }
    s.read.las(dir)
      .where($"time" >= 2000000.0 && $"time" < 4000000.0)
      .groupBy(($"classification" % 8).cast("int").as("cls"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y".cast("bigint")).as("sy"),
        sum($"intensity".cast("bigint")).as("si"),
        min($"time").as("mnt"), max($"time").as("mxt"))
      .sort($"cls")
  }

  /** pc36: COPC TAKEDOWN — dd18's legal-removal story at the point-cloud
    * lake: a gpstime window is REMOVED from pc31's banded appended
    * layout through [[graft.pointcloud.syntax.deleteFromCopc]] — one
    * PRUNED locate pass (gps file-skip + octree chunk pruning make it
    * proportional to the window's share of the lake), then only the
    * straddling band-1 files are rewritten IN PLACE from their
    * survivors (the window [2e6, 2e6+100] removes roughly the low-y
    * half of band 1 at the smallest SF, so the rewrite path is
    * genuinely exercised — a full-band window would only ever delete
    * whole files); the three disjoint bands are never opened (CopcSpec
    * pins untouched files byte-identical and whole-band deletion). The
    * graded census runs over the ENTIRE post-takedown directory with NO
    * residual filter — the takedown itself must have removed exactly
    * the window — and the oracle anti-filters the same tm arithmetic,
    * so one leaked or over-deleted record scrambles a group. */
  private val pc36: Q = (s, d) => {
    val dir = layoutOnce("pc36", d) { out =>
      val pts = timeBandedFrame(s, d)
      (0 until 4).foreach { b =>
        pts.filter($"user" === b).writeCopc(out,
          Map("scale" -> "0.001", "copc.nodepoints" -> "4096"),
          mode = if (b == 0) "overwrite" else "append")
      }
      // the takedown is part of the build-once fixture: the graded
      // operation is the post-takedown read
      graft.pointcloud.syntax.deleteFromCopc(s, out, 2000000.0, 2000100.0,
        Map("scale" -> "0.001", "copc.nodepoints" -> "4096"))
    }
    s.read.las(dir)
      .groupBy(($"classification" % 8).cast("int").as("cls"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y".cast("bigint")).as("sy"),
        sum($"intensity".cast("bigint")).as("si"),
        min($"time").as("mnt"), max($"time").as("mxt"))
      .sort($"cls")
  }

  /** pc32: COPC APPEND — the point-cloud twin of ss12's train-once-
    * append story, and the operation a living 100-TB lake performs
    * daily: a NEW batch (x ≡ 1 mod 5, i.e. l_orderkey % 5 = 1) lands
    * through `writeCopc(..., mode = "append")` as new files beside an
    * existing `copc.files = 2` range-partitioned layout — own cube, own
    * octree, own hierarchy EVLR, ZERO rewrite of the old files — and a
    * bbox read over the UNION must still prune file-level (old files
    * cover disjoint key ranges; the appended file its own bbox) and
    * chunk-level (every file carries a hierarchy), with the record
    * predicate exacting the residue. The graded census reports, per
    * class group, total members AND how many are appended — so a
    * silently-empty append (or a rewrite that dropped old rows) cannot
    * hash-match. CopcSpec pins byte-identical old files across the
    * append and the partition-count drop over the union. */
  private val pc32: Q = (s, d) => {
    val dir = layoutOnce("pc32", d) { out =>
      val pts = layeredPointFrame(s, d)
      pts.filter($"x" % 5 =!= 1).writeCopc(out,
        Map("scale" -> "0.001", "copc.nodepoints" -> "4096", "copc.files" -> "2"))
      pts.filter($"x" % 5 === 1).writeCopc(out,
        Map("scale" -> "0.001", "copc.nodepoints" -> "4096"), mode = "append")
    }
    s.read.las(dir)
      .where($"x" >= 200 && $"x" <= 900 && $"y" >= 20)
      .groupBy(($"classification" % 8).cast("int").as("cls"))
      .agg(
        count(lit(1)).as("n"),
        sum(when($"x" % 5 === 1, 1L).otherwise(0L)).as("appended"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y".cast("bigint")).as("sy"),
        sum($"intensity".cast("bigint")).as("si"),
        min($"time").as("mnt"), max($"time").as("mxt"))
      .sort($"cls")
  }

  /** pc33: the STREAMED LOD PREVIEW — pc30's declared coarse read as a
    * subscription: `copc.maxlevel` is a read option, so it reaches the
    * micro-batch source the same way `bbox` does (Spark never pushes
    * predicates into a stream), and the streaming planner must cut
    * splits for coarse-level chunks ONLY — a viewer tailing a growing
    * lake at preview depth pays ~1/8 of each landing file, forever.
    * Same oracle as pc30 (the preview slice is a deterministic function
    * of the raw coordinates, independent of batch vs stream), so a
    * stream that over-delivers leaf chunks or drops coarse ones
    * scrambles the census. CopcSpec additionally pins numInputRows =
    * the preview count (split-level evidence the leaf chunks were never
    * planned). */
  private val pc33: Q = (s, d) => {
    val (dir, leaf) = lodLayout(s, d)
    val stream = s.readStream.format("las")
      .option("copc.maxlevel", math.max(leaf - 1, 0).toString).load(dir)
    val agg = stream.groupBy(($"classification" % 4).cast("int").as("g"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y".cast("bigint")).as("sy"),
        sum($"z".cast("bigint")).as("sz"),
        sum($"intensity".cast("bigint")).as("si"),
        min($"time").as("mnt"), max($"time").as("mxt"))
    StreamingQueries.runToCompletion(agg, "graft_pc33", "complete")
      .select($"g", $"n", $"sx", $"sy", $"sz", $"si", $"mnt", $"mxt")
      .sort($"g")
  }

  /** pc34: COPC COMPACTION — the third act of the lake-maintenance
    * story (land pc28 → append pc32 → compact): a fragmented directory
    * (pc32's shape — a range-partitioned base plus an appended batch,
    * each file its own octree) is rewritten out-of-place by
    * [[graft.pointcloud.syntax.compactCopc]] into a fresh
    * `copc.files = 2` layout, and the SAME bbox census as pc32 must
    * hash-match over the COMPACTED directory — compaction that drops,
    * duplicates or re-quantizes one row scrambles a group. The oracle
    * is pc32's text verbatim (the appended membership column survives
    * compaction because it is key arithmetic, not file lineage).
    * CopcSpec pins the file-count reduction and that both pruning
    * tiers still fire on the result. */
  private val pc34: Q = (s, d) => {
    val dir = layoutOnce("pc34", d) { out =>
      val pts = layeredPointFrame(s, d)
      val frag = s"$out/frag"
      pts.filter($"x" % 5 =!= 1).writeCopc(frag,
        Map("scale" -> "0.001", "copc.nodepoints" -> "4096", "copc.files" -> "2"))
      pts.filter($"x" % 5 === 1).writeCopc(frag,
        Map("scale" -> "0.001", "copc.nodepoints" -> "4096"), mode = "append")
      compactCopc(s, frag, s"$out/compact",
        Map("scale" -> "0.001", "copc.nodepoints" -> "4096", "copc.files" -> "2"))
    }
    s.read.las(s"$dir/compact")
      .where($"x" >= 200 && $"x" <= 900 && $"y" >= 20)
      .groupBy(($"classification" % 8).cast("int").as("cls"))
      .agg(
        count(lit(1)).as("n"),
        sum(when($"x" % 5 === 1, 1L).otherwise(0L)).as("appended"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y".cast("bigint")).as("sy"),
        sum($"intensity".cast("bigint")).as("si"),
        min($"time").as("mnt"), max($"time").as("mxt"))
      .sort($"cls")
  }

  /** pc35: the PAGED HIERARCHY on the strict oracle path — pc28's
    * two-tier pruned box census re-read from a layout whose hierarchy
    * was split into a page GRAPH at write time (`copc.pageentries` far
    * below the per-file node count, so every file's root page holds
    * child-page references, the published COPC shape for large
    * hierarchies: a reader pages in only the subtree its query
    * touches instead of one monolithic EVLR). The planner must resolve
    * data entries THROUGH the page references before it can prune
    * chunks — a lost page, a double-walked reference or a bad absolute
    * offset drops or double-counts whole voxels and scrambles the
    * census against pc28's oracle. `copc.nodepoints` is 1/16 of
    * pc28's so every file's hierarchy outgrows the page budget at the
    * smallest SF — verified: each sf0.001 file's root page carries
    * child-page references (CopcSpec pins the graph shape; this entry
    * grades the read). */
  private val pc35: Q = (s, d) => {
    val dir = layoutOnce("pc35", d) { out =>
      layeredPointFrame(s, d).writeCopc(out,
        Map("scale" -> "0.001", "copc.nodepoints" -> "256",
          "copc.files" -> "3", "copc.pageentries" -> "4"))
    }
    s.read.las(dir)
      .where($"x" >= 200 && $"x" <= 900 && $"y" >= 20)
      .groupBy(($"classification" % 8).cast("int").as("cls"))
      .agg(
        count(lit(1)).as("n"),
        sum($"x".cast("bigint")).as("sx"),
        sum($"y".cast("bigint")).as("sy"),
        sum($"z".cast("bigint")).as("sz"),
        sum($"intensity".cast("bigint")).as("si"),
        min($"x").as("mnx"), max($"x").as("mxx"),
        min($"time").as("mnt"), max($"time").as("mxt"))
      .sort($"cls")
  }

  val queries: Map[String, Q] = Map(
    "pc36_copc_takedown" -> pc36,
    "pc35_copc_paged_hierarchy" -> pc35,
    "pc34_copc_compact" -> pc34,
    "pc33_copc_stream_lod" -> pc33,
    "pc32_copc_append" -> pc32,
    "pc31_copc_gps_skip" -> pc31,
    "pc30_copc_lod_preview" -> pc30,
    "pc29_copc_stream_bbox" -> pc29,
    "pc28_copc_pruned_scan" -> pc28,
    "pc26_laz_wavepacket" -> pc26,
    "pc27_laz_stream_layered" -> pc27,
    "pc22_laz_streaming" -> pc22,
    "pc23_laz_layered" -> pc23,
    "pc24_laz_variable" -> pc24,
    "pc25_laz_header_agg" -> pc25,
    "pc21_laz_roundtrip" -> pc21,
    "pc20_elevation_grid" -> pc20,
    "pc01_las_roundtrip" -> pc01,
    "pc02_ply_roundtrip" -> pc02,
    "pc03_xyz_roundtrip" -> pc03,
    "pc04_las_header_agg" -> pc04,
    "pc05_format_interop" -> pc05,
    "pc06_voxel_downsample" -> pc06,
    "pc07_radius_join" -> pc07,
    "pc08_voxel_covariance" -> pc08,
    "pc09_filtered_scan" -> pc09,
    "pc10_clustered_scan" -> pc10,
    "pc11_streaming_scan" -> pc11,
    "pc12_streaming_sink" -> pc12,
    "pc13_extrabytes_nodata" -> pc13,
    "pc14_unsigned_semantics" -> pc14,
    "pc15_keyed_write" -> pc15,
    "pc16_schema_merge" -> pc16,
    "pc17_scaled_union" -> pc17,
    "pc18_ply_streaming" -> pc18,
    "pc19_xyz_streaming" -> pc19,
  )

  /** pc30/pc33's shared oracle: every source row's LOD level
    * re-derived with the SAME integer ladder the writer applies
    * (xor-mix hash, octal-trailing-zero promotions capped at 4, leaf
    * from COUNT(*)) — one text, two graded plan shapes (batch read
    * and micro-batch stream deliver the identical preview slice). */
  private val lodPreviewOracle: String =
    """WITH lv AS (
        |  SELECT CASE WHEN COUNT(*) <= 4096 THEN 0
        |              WHEN COUNT(*) <= 32768 THEN 1
        |              WHEN COUNT(*) <= 262144 THEN 2
        |              WHEN COUNT(*) <= 2097152 THEN 3
        |              ELSE 4 END AS leaf
        |  FROM lineitem),
        |p AS (
        |  SELECT CAST(l_orderkey % 1000000 AS BIGINT) AS x,
        |         CAST(l_partkey % 1000000 AS BIGINT) AS y,
        |         CAST(l_suppkey % 1000000 AS BIGINT) AS z,
        |         l_partkey, l_linenumber
        |  FROM lineitem),
        |h AS (
        |  SELECT p.*, lv.leaf,
        |         xor(xor(p.x * 73856093, p.y * 19349663), p.z * 83492791) AS hv
        |  FROM p CROSS JOIN lv),
        |l AS (
        |  SELECT *, GREATEST(leaf - CASE WHEN hv % 8 <> 0 THEN 0
        |                                 WHEN hv % 64 <> 0 THEN 1
        |                                 WHEN hv % 512 <> 0 THEN 2
        |                                 WHEN hv % 4096 <> 0 THEN 3
        |                                 ELSE 4 END, 0) AS plevel
        |  FROM h)
        |SELECT CAST(l_partkey % 64 % 4 AS INT) AS g,
        | COUNT(*) AS n,
        | CAST(SUM(x) AS BIGINT) AS sx,
        | CAST(SUM(y) AS BIGINT) AS sy,
        | CAST(SUM(z) AS BIGINT) AS sz,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si,
        | MIN(CAST(x AS DOUBLE) * 0.001 + CAST(y AS DOUBLE)) AS mnt,
        | MAX(CAST(x AS DOUBLE) * 0.001 + CAST(y AS DOUBLE)) AS mxt
        |FROM l
        |WHERE plevel <= GREATEST(leaf - 1, 0)
        |GROUP BY g ORDER BY g""".stripMargin

  /** pc32/pc34's shared oracle: pc28's box census over the FULL
    * source with appended membership from the key arithmetic
    * (1e6 % 5 = 0, so x % 5 = l_orderkey % 5) — one text, two graded
    * layouts (the appended union and its compacted rewrite). */
  private val copcBoxCensusOracle: String =
    """SELECT CAST(l_partkey % 64 % 8 AS INT) AS cls,
        | COUNT(*) AS n,
        | CAST(SUM(CASE WHEN l_orderkey % 5 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS appended,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(SUM(CAST(l_partkey % 1000000 AS BIGINT)) AS BIGINT) AS sy,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si,
        | MIN(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mnt,
        | MAX(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mxt
        |FROM lineitem
        |WHERE (l_orderkey % 1000000) BETWEEN 200 AND 900
        |  AND (l_partkey % 1000000) >= 20
        |GROUP BY cls ORDER BY cls""".stripMargin

  /** pc28/pc35's shared oracle: the bbox census re-derived from the
    * source arithmetic — a hash match proves the (flat or paged)
    * hierarchy resolved every chunk exactly once and the pruning +
    * record residue stayed exact. One text, two layouts. */
  private val prunedBoxCensusOracle: String =
      """SELECT CAST(l_partkey % 64 % 8 AS INT) AS cls,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(SUM(CAST(l_partkey % 1000000 AS BIGINT)) AS BIGINT) AS sy,
        | CAST(SUM(CAST(l_suppkey % 1000000 AS BIGINT)) AS BIGINT) AS sz,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si,
        | MIN(CAST(l_orderkey % 1000000 AS INT)) AS mnx,
        | MAX(CAST(l_orderkey % 1000000 AS INT)) AS mxx,
        | MIN(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mnt,
        | MAX(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mxt
        |FROM lineitem
        |WHERE (l_orderkey % 1000000) BETWEEN 200 AND 900
        |  AND (l_partkey % 1000000) >= 20
        |GROUP BY cls ORDER BY cls""".stripMargin

  val oracle: Map[String, String] = Map(
    // pc36: the takedown window anti-filtered from the same tm
    // arithmetic as pc31's oracle — the post-takedown directory must
    // hold EXACTLY the out-of-window rows, nothing residual on the
    // Spark side
    "pc36_copc_takedown" ->
      """WITH t AS (
        |  SELECT l_partkey, l_orderkey, l_linenumber,
        |    CAST(l_linenumber % 4 AS DOUBLE) * 2000000
        |      + CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |      + CAST(l_partkey % 1000000 AS DOUBLE) AS tm
        |  FROM lineitem)
        |SELECT CAST(l_partkey % 64 % 8 AS INT) AS cls,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(SUM(CAST(l_partkey % 1000000 AS BIGINT)) AS BIGINT) AS sy,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si,
        | MIN(tm) AS mnt, MAX(tm) AS mxt
        |FROM t
        |WHERE NOT (tm >= 2000000 AND tm <= 2000100)
        |GROUP BY cls ORDER BY cls""".stripMargin,
    // pc28's box census over the FULL source (old slice + appended
    // batch) with the appended membership re-derived from the key
    // arithmetic (1e6 % 5 = 0, so x % 5 = l_orderkey % 5): a hash match
    // proves the append landed every new row exactly once, rewrote no
    // old row, and the two-tier pruning stayed exact over the union
    // pc34 reads the COMPACTED rewrite of pc32's fragmented layout —
    // same census, same text; compaction must be value-invisible
    "pc34_copc_compact" -> copcBoxCensusOracle,
    "pc32_copc_append" -> copcBoxCensusOracle,
    // the same time window re-derived from the source arithmetic (the
    // banded gpstime is integer-valued double math, exact in both
    // engines): a hash match proves the gps-range file skip dropped
    // ONLY out-of-window files and the record residue stayed exact
    "pc31_copc_gps_skip" ->
      """WITH t AS (
        |  SELECT l_partkey, l_orderkey, l_linenumber,
        |    CAST(l_linenumber % 4 AS DOUBLE) * 2000000
        |      + CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |      + CAST(l_partkey % 1000000 AS DOUBLE) AS tm
        |  FROM lineitem)
        |SELECT CAST(l_partkey % 64 % 8 AS INT) AS cls,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(SUM(CAST(l_partkey % 1000000 AS BIGINT)) AS BIGINT) AS sy,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si,
        | MIN(tm) AS mnt, MAX(tm) AS mxt
        |FROM t
        |WHERE tm >= 2000000 AND tm < 4000000
        |GROUP BY cls ORDER BY cls""".stripMargin,
    // every source row's LOD level re-derived with the SAME integer
    // ladder the writer applies (xor-mix hash, octal-trailing-zero
    // promotions capped at 4, leaf from COUNT(*)): a hash match proves
    // the preview read returned exactly the declared coarse slice
    "pc33_copc_stream_lod" -> lodPreviewOracle,
    "pc30_copc_lod_preview" -> lodPreviewOracle,
    // the subscription box re-derived from the source arithmetic with NO
    // residual filter on the Spark side: a hash match proves the bbox
    // option alone delivered exactly the in-box records through file
    // skip, chunk pruning and the reader-side predicate
    "pc29_copc_stream_bbox" ->
      """SELECT CAST(l_orderkey % 3 AS INT) AS src,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(SUM(CAST(l_suppkey % 1000000 AS BIGINT)) AS BIGINT) AS sz,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si,
        | MIN(CAST(l_partkey % 1000000 AS INT)) AS mny,
        | MAX(CAST(l_partkey % 1000000 AS INT)) AS mxy,
        | MIN(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mnt,
        | MAX(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mxt
        |FROM lineitem
        |WHERE (l_orderkey % 1000000) BETWEEN 200 AND 900
        |  AND (l_partkey % 1000000) >= 20
        |GROUP BY src ORDER BY src""".stripMargin,
    // the same bbox re-derived from the source arithmetic: a hash match
    // proves the octree pruning dropped ONLY out-of-box chunks and the
    // residual record filter kept the census exact
    // pc35 reads the SAME census through a PAGED hierarchy (page-graph
    // resolution precedes chunk pruning) — one text, two layouts
    "pc35_copc_paged_hierarchy" -> prunedBoxCensusOracle,
    "pc28_copc_pruned_scan" -> prunedBoxCensusOracle,
    // every waveform field re-derived from the source rows: a hash match
    // proves the WAVEPACKET13 codec cycle (offset classifier, size /
    // location / direction correctors) is lossless. Floats are integral
    // by construction, so REAL min/max and BIGINT sums are exact.
    "pc26_laz_wavepacket" ->
      """SELECT CAST(l_linenumber % 4 AS INT) AS widx,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(SUM(CAST(l_orderkey % 100000 AS BIGINT) * 64) AS BIGINT) AS so,
        | MIN(CAST(l_orderkey % 100000 AS BIGINT) * 64) AS mno,
        | MAX(CAST(l_orderkey % 100000 AS BIGINT) * 64) AS mxo,
        | CAST(SUM(CAST(l_partkey % 1000 AS BIGINT) + 64) AS BIGINT) AS ssz,
        | MIN(CAST(l_suppkey % 500 AS REAL)) AS mnl,
        | MAX(CAST(l_suppkey % 500 AS REAL)) AS mxl,
        | CAST(SUM(CAST(l_partkey % 200 AS BIGINT) - 100) AS BIGINT) AS sxt,
        | CAST(SUM(CAST(l_suppkey % 200 AS BIGINT) - 100) AS BIGINT) AS syt,
        | CAST(SUM(CAST(l_orderkey % 200 AS BIGINT) - 100) AS BIGINT) AS szt,
        | MIN(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mnt,
        | MAX(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mxt
        |FROM lineitem GROUP BY widx ORDER BY widx""".stripMargin,
    // pc23's channel key over the streaming read: the micro-batch path
    // must census the layered corpus identically to the source rows
    "pc27_laz_stream_layered" ->
      """SELECT l_orderkey % 2 AS channel,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(SUM(CAST(l_orderkey % 1000000 % 1000 AS BIGINT)) AS BIGINT) AS sr,
        | MIN(CAST(l_suppkey % 3600 AS INT) - 1800) AS mnang,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si,
        | MIN(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mnt,
        | MAX(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mxt
        |FROM lineitem GROUP BY channel ORDER BY channel""".stripMargin,
    // pc01's frame grouped by the flags byte: the group counts pin
    // per-record alignment across IRREGULAR chunk boundaries — a
    // mis-sized variable chunk shifts every following flags byte
    "pc24_laz_variable" ->
      """SELECT CAST(l_linenumber % 7 + 1 AS INT) AS flags,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | MIN(CAST(l_partkey % 1000000 AS INT)) AS mny,
        | MAX(CAST(l_partkey % 1000000 AS INT)) AS mxy,
        | CAST(SUM(CAST(l_suppkey % 1000000 AS BIGINT)) AS BIGINT) AS sz,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si
        |FROM lineitem GROUP BY flags ORDER BY flags""".stripMargin,
    // the channel key re-derives from the source rows what the query
    // reads out of the DECODED flags byte: a hash match proves the
    // layered nine-layer cycle (channel bits included) is lossless
    "pc23_laz_layered" ->
      """SELECT l_orderkey % 2 AS channel,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(SUM(CAST(l_partkey % 1000000 AS BIGINT)) AS BIGINT) AS sy,
        | MIN(CAST(l_suppkey % 3600 AS INT) - 1800) AS mnang,
        | MAX(CAST(l_suppkey % 3600 AS INT) - 1800) AS mxang,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si,
        | CAST(SUM(CAST(l_orderkey % 1000000 % 1000 AS BIGINT)) AS BIGINT) AS sr,
        | CAST(SUM(CAST(l_partkey % 1000000 % 700 AS BIGINT)) AS BIGINT) AS sg,
        | CAST(SUM(CAST(l_suppkey % 1000000 % 500 AS BIGINT)) AS BIGINT) AS sb,
        | MIN(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mnt,
        | MAX(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mxt
        |FROM lineitem GROUP BY channel ORDER BY channel""".stripMargin,
    // pc01's census + the format-1 GPS-time min/max (double arithmetic is
    // the same IEEE expression on both engines; min/max avoid float
    // summation order) — computed from the source rows, proving the
    // compressed round trip lossless
    "pc21_laz_roundtrip" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | MIN(CAST(l_orderkey % 1000000 AS INT)) AS mnx,
        | MAX(CAST(l_orderkey % 1000000 AS INT)) AS mxx,
        | CAST(SUM(CAST(l_partkey % 1000000 AS BIGINT)) AS BIGINT) AS sy,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si,
        | MIN(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mnt,
        | MAX(CAST(l_orderkey % 1000000 AS DOUBLE) * 0.001
        |     + CAST(l_partkey % 1000000 AS DOUBLE)) AS mxt
        |FROM lineitem""".stripMargin,
    // same grid arithmetic over the source parquet: a hash match proves
    // the LAS round trip AND the cell aggregation
    "pc20_elevation_grid" ->
      s"""SELECT CAST(l_orderkey % 1000000 AS BIGINT) % $Pc20Span // $Pc20Cell AS gx,
         |  CAST(l_partkey % 1000000 AS BIGINT) % $Pc20Span // $Pc20Cell AS gy,
         |  COUNT(*) AS n,
         |  MIN(CAST(l_suppkey % 1000000 AS INT)) AS ground,
         |  MAX(CAST(l_suppkey % 1000000 AS INT)) AS top,
         |  MAX(CAST(l_suppkey % 1000000 AS INT))
         |    - MIN(CAST(l_suppkey % 1000000 AS INT)) AS relief
         |FROM lineitem GROUP BY gx, gy ORDER BY gx, gy""".stripMargin,
    // CAST wraps the aggregate itself: DuckDB SUM(BIGINT) yields HUGEINT, which the
    // driver's pandas bridge floats — values equal but hash differs without the cast.
    "pc01_las_roundtrip" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | MIN(CAST(l_orderkey % 1000000 AS INT)) AS mnx,
        | MAX(CAST(l_orderkey % 1000000 AS INT)) AS mxx,
        | CAST(SUM(CAST(l_partkey % 1000000 AS BIGINT)) AS BIGINT) AS sy,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si
        |FROM lineitem""".stripMargin,
    "pc02_ply_roundtrip" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(o_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | MIN(CAST(o_totalprice AS DOUBLE)) AS mnp,
        | MAX(CAST(o_totalprice AS DOUBLE)) AS mxp
        |FROM orders""".stripMargin,
    "pc03_xyz_roundtrip" ->
      """SELECT COUNT(*) AS n,
        | SUM(CAST(CAST(p_partkey AS REAL) AS DOUBLE)) AS sx,
        | MIN(CAST(p_size AS REAL)) AS mnz,
        | MAX(CAST(p_size AS REAL)) AS mxz,
        | CAST(SUM(CAST(p_size % 100 AS BIGINT)) AS BIGINT) AS sr
        |FROM part""".stripMargin,
    // pc04's oracle verbatim: the compressed layout must answer the
    // header-only aggregate with the same values as the raw one
    "pc25_laz_header_agg" ->
      """SELECT COUNT(*) AS n,
        | MIN(CAST(l_orderkey % 1000000 AS INT)) AS mnx,
        | MAX(CAST(l_orderkey % 1000000 AS INT)) AS mxx,
        | MIN(CAST(l_partkey % 1000000 AS INT)) AS mny,
        | MAX(CAST(l_partkey % 1000000 AS INT)) AS mxy,
        | MIN(CAST(l_suppkey % 1000000 AS INT)) AS mnz,
        | MAX(CAST(l_suppkey % 1000000 AS INT)) AS mxz
        |FROM lineitem""".stripMargin,
    "pc04_las_header_agg" ->
      """SELECT COUNT(*) AS n,
        | MIN(CAST(l_orderkey % 1000000 AS INT)) AS mnx,
        | MAX(CAST(l_orderkey % 1000000 AS INT)) AS mxx,
        | MIN(CAST(l_partkey % 1000000 AS INT)) AS mny,
        | MAX(CAST(l_partkey % 1000000 AS INT)) AS mxy,
        | MIN(CAST(l_suppkey % 1000000 AS INT)) AS mnz,
        | MAX(CAST(l_suppkey % 1000000 AS INT)) AS mxz
        |FROM lineitem""".stripMargin,
    "pc05_format_interop" ->
      """SELECT COUNT(*) AS n,
        | CAST(MIN(CAST(l_orderkey % 1000000 AS INT)) * 0.01 + 100 AS DOUBLE) AS mnd,
        | CAST(MAX(CAST(l_orderkey % 1000000 AS INT)) * 0.01 + 100 AS DOUBLE) AS mxd,
        | CAST(SUM(CAST(l_partkey % 1000000 AS BIGINT)) AS BIGINT) AS sy
        |FROM lineitem""".stripMargin,
    "pc06_voxel_downsample" ->
      """SELECT CAST(floor(CAST(l_orderkey % 1000000 AS DOUBLE) / 1000.0) AS BIGINT) AS vx,
        |  CAST(floor(CAST(l_partkey % 1000000 AS DOUBLE) / 1000.0) AS BIGINT) AS vy,
        |  CAST(floor(CAST(l_suppkey % 1000000 AS DOUBLE) / 1000.0) AS BIGINT) AS vz,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS DOUBLE) / COUNT(*) AS cx,
        |  CAST(SUM(CAST(l_partkey % 1000000 AS BIGINT)) AS DOUBLE) / COUNT(*) AS cy,
        |  CAST(SUM(CAST(l_suppkey % 1000000 AS BIGINT)) AS DOUBLE) / COUNT(*) AS cz
        |FROM lineitem
        |GROUP BY vx, vy, vz ORDER BY vx, vy, vz LIMIT 500""".stripMargin,
    "pc07_radius_join" ->
      """WITH pts AS (
        |  SELECT p_partkey AS id,
        |    CAST(p_partkey % 97 AS DOUBLE) AS px,
        |    CAST(p_partkey % 89 AS DOUBLE) AS py
        |  FROM part
        |)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  ROUND(sqrt((a.px-b.px)*(a.px-b.px) + (a.py-b.py)*(a.py-b.py)), 4) AS dist
        |FROM pts a JOIN pts b ON a.id < b.id
        |WHERE (a.px-b.px)*(a.px-b.px) + (a.py-b.py)*(a.py-b.py) <= 2.25
        |ORDER BY id_a, id_b LIMIT 1000""".stripMargin,
    "pc08_voxel_covariance" -> {
      val ax = "CAST(l_orderkey % 1000 AS DOUBLE)"
      val ay = "CAST(l_partkey % 1000 AS DOUBLE)"
      val az = "CAST(l_suppkey % 100 AS DOUBLE)"
      def cov(ab: String, a: String, b: String) =
        s"ROUND((SUM($ab) - SUM($a) * SUM($b) / COUNT(*)) / COUNT(*), 2)"
      s"""SELECT CAST(floor($ax / 250.0) AS BIGINT) AS vx,
         |  CAST(floor($ay / 250.0) AS BIGINT) AS vy,
         |  CAST(floor($az / 250.0) AS BIGINT) AS vz,
         |  COUNT(*) AS n,
         |  ${cov(s"$ax * $ax", ax, ax)} AS cxx,
         |  ${cov(s"$ay * $ay", ay, ay)} AS cyy,
         |  ${cov(s"$az * $az", az, az)} AS czz,
         |  ${cov(s"$ax * $ay", ax, ay)} AS cxy,
         |  ${cov(s"$ax * $az", ax, az)} AS cxz,
         |  ${cov(s"$ay * $az", ay, az)} AS cyz
         |FROM lineitem
         |GROUP BY vx, vy, vz ORDER BY vx, vy, vz LIMIT 200""".stripMargin
    },
    "pc09_filtered_scan" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | MIN(CAST(l_orderkey % 1000000 AS INT)) AS mnx,
        | MAX(CAST(l_orderkey % 1000000 AS INT)) AS mxx,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si
        |FROM lineitem
        |WHERE (l_orderkey % 1000000) >= 250000
        |  AND (l_orderkey % 1000000) < 500000
        |  AND (l_linenumber % 32000) > 2""".stripMargin,
    "pc10_clustered_scan" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(SUM(CAST(l_partkey % 1000000 AS BIGINT)) AS BIGINT) AS sy,
        | MAX(CAST(l_suppkey % 1000000 AS INT)) AS mxz
        |FROM lineitem
        |WHERE (l_orderkey % 1000000) < 100000
        |  AND (l_partkey % 1000000) < 100000""".stripMargin,
    "pc11_streaming_scan" ->
      """SELECT CAST((l_linenumber % 7) + 1 AS TINYINT) AS flags,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | MIN(CAST(l_partkey % 1000000 AS INT)) AS mny,
        | MAX(CAST(l_partkey % 1000000 AS INT)) AS mxy,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si
        |FROM lineitem
        |GROUP BY 1 ORDER BY flags""".stripMargin,
    // identical census to pc11 — the Spark side differs only in the
    // source files being LASzip-compressed chunks
    "pc22_laz_streaming" ->
      """SELECT CAST((l_linenumber % 7) + 1 AS TINYINT) AS flags,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | MIN(CAST(l_partkey % 1000000 AS INT)) AS mny,
        | MAX(CAST(l_partkey % 1000000 AS INT)) AS mxy,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si
        |FROM lineitem
        |GROUP BY 1 ORDER BY flags""".stripMargin,
    // identical census to pc11 — the Spark side differs only in routing
    // the bytes through the streaming sink before the batch read
    "pc12_streaming_sink" ->
      """SELECT CAST((l_linenumber % 7) + 1 AS TINYINT) AS flags,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | MIN(CAST(l_partkey % 1000000 AS INT)) AS mny,
        | MAX(CAST(l_partkey % 1000000 AS INT)) AS mxy,
        | CAST(SUM(CAST(l_linenumber % 32000 AS BIGINT)) AS BIGINT) AS si
        |FROM lineitem
        |GROUP BY 1 ORDER BY flags""".stripMargin,
    // CASE WHEN twin of the nodata sentinel: rows the writer stamps with
    // the sentinel must come back as NULL, so COUNT/SUM/MIN/MAX skip them
    "pc13_extrabytes_nodata" ->
      """SELECT COUNT(*) AS n,
        | COUNT(CASE WHEN (l_linenumber % 32000) % 3 = 0 THEN NULL ELSE 1 END) AS ng,
        | CAST(SUM(CASE WHEN (l_linenumber % 32000) % 3 = 0 THEN NULL
        |   ELSE CAST((l_partkey % 1000000) % 1000 AS BIGINT) END) AS BIGINT) AS sg,
        | MIN(CASE WHEN (l_linenumber % 32000) % 3 = 0 THEN NULL
        |   ELSE CAST((l_partkey % 1000000) % 1000 AS DOUBLE) END) AS mng,
        | MAX(CASE WHEN (l_linenumber % 32000) % 3 = 0 THEN NULL
        |   ELSE CAST((l_partkey % 1000000) % 1000 AS DOUBLE) END) AS mxg,
        | CAST(SUM(CAST((l_suppkey % 1000000) % 128 AS BIGINT)) AS BIGINT) AS sc
        |FROM lineitem""".stripMargin,
    // two's-complement twin: on-disk u16 v reads back as v (widen) or
    // v - 65536 when v >= 32768 (default signed wrap)
    "pc14_unsigned_semantics" ->
      """WITH u AS (
        |  SELECT ((l_orderkey % 1000000) * 31 + (l_partkey % 1000000)) % 65536 AS v
        |  FROM lineitem
        |), w AS (
        |  SELECT v, CASE WHEN v < 32768 THEN v ELSE v - 65536 END AS sv FROM u
        |)
        |SELECT CAST(SUM(CAST(sv AS BIGINT)) AS BIGINT) AS s_wrap,
        |  CAST(MIN(sv) AS INTEGER) AS mn_wrap,
        |  CAST(MAX(sv) AS INTEGER) AS mx_wrap,
        |  CAST(SUM(CAST(v AS BIGINT)) AS BIGINT) AS s_wide,
        |  CAST(MIN(v) AS INTEGER) AS mn_wide,
        |  CAST(MAX(v) AS INTEGER) AS mx_wide
        |FROM w""".stripMargin,
    // per-tile census: tile = x % 5 rode only in the FILE NAME through
    // the keyed write, so a match proves key routing + name recovery
    "pc15_keyed_write" ->
      """SELECT CAST((l_orderkey % 1000000) % 5 AS INTEGER) AS tile,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(l_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(MIN(l_linenumber % 32000) AS INTEGER) AS mni,
        | CAST(MAX(l_linenumber % 32000) AS INTEGER) AS mxi
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // merged-schema twin: even orderkeys carried price (i32 x), odd ones
    // omitted it (i64 x) — the CASE mirrors which FILE each row came from
    "pc16_schema_merge" ->
      """SELECT COUNT(*) AS n,
        | CAST(SUM(CAST(o_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | CAST(COUNT(CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END) AS BIGINT) AS np,
        | MIN(CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_totalprice AS DOUBLE) END) AS mnp,
        | MAX(CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_totalprice AS DOUBLE) END) AS mxp,
        | CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nnull
        |FROM orders""".stripMargin,
    // scaled-coordinate twin: the same IEEE double product per row —
    // 0.01/50 must be CAST to DOUBLE or DuckDB computes in DECIMAL
    "pc17_scaled_union" ->
      """WITH b AS (
        |  SELECT l_orderkey % 1000000 AS x, l_suppkey % 1000000 AS z
        |  FROM lineitem
        |)
        |SELECT COUNT(*) AS n,
        | CAST(COUNT(CASE WHEN z % 2 = 1 THEN 1 END) AS BIGINT) AS nt,
        | SUM(CASE WHEN z % 2 = 1 THEN CAST(x AS DOUBLE) * CAST(0.5 AS DOUBLE) END) AS st,
        | MIN(CAST(x AS DOUBLE) * CAST(0.01 AS DOUBLE) + CAST(50 AS DOUBLE)) AS mnxd,
        | MAX(CAST(x AS DOUBLE) * CAST(0.01 AS DOUBLE) + CAST(50 AS DOUBLE)) AS mxxd
        |FROM b""".stripMargin,
    // census over BOTH halves — the starting files and the mid-stream
    // landed ones; a streaming source that missed the landing loses rows
    "pc18_ply_streaming" ->
      """SELECT CAST((o_custkey % 1000000) % 5 AS INT) AS grp,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(o_orderkey % 1000000 AS BIGINT)) AS BIGINT) AS sx,
        | MIN(CAST(o_totalprice AS DOUBLE)) AS mnp,
        | MAX(CAST(o_totalprice AS DOUBLE)) AS mxp
        |FROM orders GROUP BY 1 ORDER BY grp""".stripMargin,
    "pc19_xyz_streaming" ->
      """SELECT CAST((p_size % 100) % 3 AS INT) AS grp,
        | COUNT(*) AS n,
        | SUM(CAST(CAST(p_partkey AS REAL) AS DOUBLE)) AS sx,
        | MIN(CAST(p_size AS REAL)) AS mnz,
        | MAX(CAST(p_size AS REAL)) AS mxz
        |FROM part GROUP BY 1 ORDER BY grp""".stripMargin,
  )
}
