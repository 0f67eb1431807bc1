package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Where one tile sits and how many points it holds. Coordinates are raw
  * LAS integers (written with scale 0.01, so a tile is 100 m square). */
final case class TileSpec(seed: Long, id: Int, ox: Int, oy: Int, n: Int)

/** Plain-Scala totals of a point set: what every read is checked against. */
final case class Tally(count: Long, sumX: Long, sumY: Long, sumZ: Long, sumI: Long,
    minX: Int, maxX: Int, minY: Int, maxY: Int, minZ: Int, maxZ: Int,
    minT: Double, maxT: Double, classCounts: Map[Int, Long]) {
  def +(o: Tally): Tally =
    if (count == 0) o else if (o.count == 0) this
    else Tally(count + o.count, sumX + o.sumX, sumY + o.sumY, sumZ + o.sumZ, sumI + o.sumI,
      math.min(minX, o.minX), math.max(maxX, o.maxX), math.min(minY, o.minY),
      math.max(maxY, o.maxY), math.min(minZ, o.minZ), math.max(maxZ, o.maxZ),
      math.min(minT, o.minT), math.max(maxT, o.maxT),
      (classCounts.keySet ++ o.classCounts.keySet).map(k =>
        k -> (classCounts.getOrElse(k, 0L) + o.classCounts.getOrElse(k, 0L))).toMap)
}

object Tally {
  val empty: Tally = Tally(0, 0, 0, 0, 0, Int.MaxValue, Int.MinValue, Int.MaxValue,
    Int.MinValue, Int.MaxValue, Int.MinValue, Double.MaxValue, -Double.MaxValue, Map.empty)
}

/** A generated tile, column by column. `ret`/`nret` are the return number
  * and number of returns; `cls` the ASPRS classification. */
final class Tile(val spec: TileSpec, val x: Array[Int], val y: Array[Int], val z: Array[Int],
    val intensity: Array[Short], val ret: Array[Byte], val nret: Array[Byte],
    val cls: Array[Byte], val angle: Array[Byte], val source: Array[Short],
    val time: Array[Double]) {
  def n: Int = x.length

  /** Totals over the points accepted by `keep` (all points by default). */
  def tally(keep: Int => Boolean = _ => true): Tally = {
    var c = 0L; var sx = 0L; var sy = 0L; var sz = 0L; var si = 0L
    var mnx = Int.MaxValue; var mxx = Int.MinValue; var mny = Int.MaxValue
    var mxy = Int.MinValue; var mnz = Int.MaxValue; var mxz = Int.MinValue
    var mnt = Double.MaxValue; var mxt = -Double.MaxValue
    val cc = new Array[Long](256)
    var i = 0
    while (i < n) {
      if (keep(i)) {
        c += 1; sx += x(i); sy += y(i); sz += z(i); si += (intensity(i) & 0xffff)
        if (x(i) < mnx) mnx = x(i); if (x(i) > mxx) mxx = x(i)
        if (y(i) < mny) mny = y(i); if (y(i) > mxy) mxy = y(i)
        if (z(i) < mnz) mnz = z(i); if (z(i) > mxz) mxz = z(i)
        if (time(i) < mnt) mnt = time(i); if (time(i) > mxt) mxt = time(i)
        cc(cls(i) & 0xff) += 1
      }
      i += 1
    }
    if (c == 0) Tally.empty
    else Tally(c, sx, sy, sz, si, mnx, mxx, mny, mxy, mnz, mxz, mnt, mxt,
      cc.zipWithIndex.collect { case (k, cl) if k > 0 => cl -> k }.toMap)
  }

  /** Point `i` as a Spark row shaped as LAS point format `fmt` (1, 6 or 7,
    * the base schemas of [[graft.pointcloud.las.LasHeader.schema]]). */
  def row(i: Int, fmt: Int): Row = fmt match {
    case 1 => Row(x(i), y(i), z(i), intensity(i), ((ret(i) & 7) | ((nret(i) & 7) << 3)).toByte,
      cls(i), angle(i), 0.toByte, source(i), time(i))
    case 6 => Row(x(i), y(i), z(i), intensity(i), ((ret(i) & 15) | ((nret(i) & 15) << 4)).toByte,
      0.toByte, cls(i), 0.toByte, angle(i).toShort, source(i), time(i))
    case 7 =>
      val (r, g, b) = PointGen.colour(cls(i), intensity(i))
      Row(x(i), y(i), z(i), intensity(i), ((ret(i) & 15) | ((nret(i) & 15) << 4)).toByte,
        0.toByte, cls(i), 0.toByte, angle(i).toShort, source(i), time(i), r, g, b)
  }
}

/** Seeded LiDAR-like point generator. Points lie on scan lines across each
  * tile with monotone GPS time along a line (and from line to line), a
  * smooth terrain surface, and classification by 5 m landscape cells
  * (ground, three vegetation heights, buildings, water, sparse noise), so
  * the LAZ predictors and the COPC octree see the coherent structure of a
  * real survey rather than uniform noise. The same spec always yields the
  * same points. */
object PointGen {
  /** Tile side in raw units (100 m at scale 0.01). */
  val Side = 10000

  def schema(fmt: Int): StructType =
    StructType(graft.pointcloud.las.LasHeader.schema(fmt).fields.map(f =>
      StructField(f.name, f.dataType, nullable = false)))

  /** A `grid` x `grid` mosaic of tiles with seeded, uneven sizes (weights
    * between 0.3 and 1.9). Every row of tiles holds exactly
    * `grid * meanPoints` points, so the seed moves points between tiles but
    * never changes how much work a row (or the mosaic) carries. */
  def mosaic(seed: Long, grid: Int, meanPoints: Int): IndexedSeq[TileSpec] = {
    val r = new SplittableRandom(mix(seed, 0x5eed))
    (0 until grid).flatMap { row =>
      val w = Array.fill(grid)(0.3 + 1.6 * r.nextDouble())
      val n = w.map(x => (x / w.sum * grid * meanPoints).toInt)
      n(grid - 1) += grid * meanPoints - n.sum
      (0 until grid).map { col =>
        val id = row * grid + col
        TileSpec(seed, id, col * Side, row * Side, n(col))
      }
    }
  }

  def mix(a: Long, b: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L + b
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  private def terrain(x: Int, y: Int): Int =
    20000 + (800 * math.sin(x / 3000.0) + 600 * math.cos(y / 2300.0)).toInt

  /** Landscape kind of the 5 m cell holding (x, y): 0 open ground,
    * 1 vegetation, 2 building, 3 water. */
  private def cellKind(seed: Long, x: Int, y: Int): Int = {
    val h = (mix(seed, (x / 500).toLong * 1000003L + (y / 500)) >>> 1) % 100
    if (h < 55) 0 else if (h < 80) 1 else if (h < 96) 2 else 3
  }

  def tile(spec: TileSpec): Tile = {
    val n = spec.n
    val r = new SplittableRandom(mix(spec.seed, spec.id + 1L))
    val x = new Array[Int](n); val y = new Array[Int](n); val z = new Array[Int](n)
    val in = new Array[Short](n); val ret = new Array[Byte](n); val nret = new Array[Byte](n)
    val cls = new Array[Byte](n); val ang = new Array[Byte](n); val src = new Array[Short](n)
    val time = new Array[Double](n)
    val lines = math.max(4, math.sqrt(n / 4.0).toInt)
    val perLine = (n + lines - 1) / lines
    val step = Side.toDouble / perLine
    val t0 = 300000.0 + spec.id * 600.0
    var i = 0
    while (i < n) {
      val line = i / perLine
      val j = i % perLine
      // alternate flight direction, slight cross-track wobble
      val along = if (line % 2 == 0) j * step else Side - 1 - j * step
      val px = spec.ox + math.min(Side - 1, math.max(0, (along + r.nextDouble() * step * 0.5).toInt))
      val py = spec.oy + math.min(Side - 1, math.max(0,
        ((line + 0.5) * Side / lines + 40 * math.sin(j * 0.05) + r.nextInt(21) - 10).toInt))
      val ground = terrain(px, py)
      var c = 2; var h = 0; var nr = 1; var rn = 1; var inten = 300
      cellKind(spec.seed, px, py) match {
        case 0 => ()
        case 1 =>
          val v = r.nextInt(100)
          if (v < 25) { c = 2 } // gap through the canopy
          else if (v < 45) { c = 3; h = 30 + r.nextInt(50) }
          else if (v < 65) { c = 4; h = 100 + r.nextInt(300) }
          else { c = 5; h = 500 + r.nextInt(1500) }
          nr = 1 + r.nextInt(3); rn = 1 + r.nextInt(nr); inten = 150
        case 2 =>
          if (r.nextInt(10) < 9) { c = 6; h = 800 + (px % 500) / 5 } // pitched roof
          inten = 500
        case _ => c = 9; h = -50; inten = 30
      }
      if (r.nextInt(1000) < 5) { c = 7; h = r.nextInt(6000) - 3000 } // noise
      x(i) = px; y(i) = py; z(i) = ground + h + r.nextInt(7) - 3
      in(i) = (inten + r.nextInt(100)).toShort
      ret(i) = rn.toByte; nret(i) = nr.toByte; cls(i) = c.toByte
      ang(i) = ((px - spec.ox) * 40 / Side - 20).toByte
      src(i) = (spec.id * 8 + line / 16).toShort
      time(i) = t0 + line * 0.5 + j * 1e-4
      i += 1
    }
    new Tile(spec, x, y, z, in, ret, nret, cls, ang, src, time)
  }

  def colour(cls: Byte, intensity: Short): (Short, Short, Short) = {
    val k = (intensity & 0xff) << 4
    cls match {
      case 2 => ((0x6000 + k).toShort, (0x5000 + k).toShort, (0x3000 + k).toShort)
      case 3 | 4 | 5 => ((0x2000 + k).toShort, (0x7000 + k).toShort, (0x2000 + k).toShort)
      case 6 => ((0x7000 + k).toShort, (0x3000 + k).toShort, (0x3000 + k).toShort)
      case 9 => ((0x1000 + k).toShort, (0x2000 + k).toShort, (0x7000 + k).toShort)
      case _ => (k.toShort, k.toShort, k.toShort)
    }
  }
}
