package graft.pointcloud.connector

import java.nio.ByteBuffer

import graft.pointcloud.FieldDecoder.Tag
import graft.pointcloud.Section
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._

/** Column-at-a-time decode of fixed-stride records from a byte buffer
  * into OnHeapColumnVectors: the one record decoder of binary and LAZ
  * scans, behind the raw ([[BinarySectionColumnarReader]]) and LAZ
  * ([[LazSectionColumnarReader]]) vectorized readers. Tight per-column
  * loops over the strided buffer instead of per-row virtual dispatch,
  * feeding Spark's ColumnarToRow/whole-stage codegen path. Value
  * semantics (widening, unsigned zero-extension, nodata→null, fid/pid
  * synthesis) are those of the reference [[graft.pointcloud.RecordDecoder]];
  * ColumnarFillerSpec compares the two cell for cell. */
private[connector] final class ColumnarFiller(
    sectionSchema: StructType, readSchema: StructType, stride: Int, fid: Int) {

  private val section = Section("", 0, 0, littleEndian = true, sectionSchema, stride)

  // per output column: (kind, src offset, srcTag, dstTag, nodata info)
  // kind: 0=absent, 1=fid, 2=pid, 3=primitive
  private case class ColPlan(kind: Int, off: Int, srcTag: Int, dstTag: Int,
      hasNodata: Boolean, ndL: Long, ndD: Double, zeroExtend: Boolean = false)

  private val plans: Array[ColPlan] = readSchema.fields.map { f =>
    if (f.name == PointCloudUtil.FidCol) ColPlan(1, 0, 0, 0, false, 0, 0)
    else if (f.name == PointCloudUtil.PidCol) ColPlan(2, 0, 0, 0, false, 0, 0)
    else {
      val i = section.fieldIndex(f.name)
      if (i < 0) ColPlan(0, 0, 0, 0, false, 0, 0)
      else {
        val md = sectionSchema.fields(i).metadata
        val srcTag = Tag.of(sectionSchema.fields(i).dataType)
        val hasNd = f.nullable && md.contains("nodata")
        val (ndL, ndD) =
          if (!hasNd) (0L, 0.0)
          else if (srcTag <= Tag.Long) (md.getLong("nodata"), 0.0)
          else (0L, md.getDouble("nodata"))
        val dstTag = Tag.of(f.dataType)
        val zeroExtend = srcTag < dstTag && dstTag <= Tag.Long &&
          md.contains("unsigned") && md.getBoolean("unsigned")
        ColPlan(3, section.fieldOffsets(i), srcTag, dstTag, hasNd, ndL, ndD, zeroExtend)
      }
    }
  }

  // indices of the records that pass the predicate; grows to the largest run
  private var sel: Array[Int] = Array.emptyIntArray

  /** Decode the records of `buf[0, n)` that pass `predicate` (all of them
    * when it is null) into vector rows [0, m), and return m. Record i's
    * pid is `firstPid + i`. The predicate runs on the raw record bytes,
    * so only its survivors are decoded; ColumnarBatch has no selection
    * vector, so they are compacted while filling. */
  def fill(buf: ByteBuffer, vectors: Array[OnHeapColumnVector], n: Int,
      firstPid: Long, predicate: RecordPredicate): Int = {
    var m = n
    if (predicate != null) {
      if (sel.length < n) sel = new Array[Int](n)
      m = 0
      var i = 0
      while (i < n) {
        if (predicate.matches(buf, i * stride, firstPid + i)) { sel(m) = i; m += 1 }
        i += 1
      }
    }
    val rows = if (predicate == null) null else sel
    var c = 0
    while (c < plans.length) { fillColumn(buf, vectors(c), plans(c), rows, m, firstPid); c += 1 }
    m
  }

  /** Fill vector rows [0, m) of one column from record `rows(j)` for row
    * j, or from record j when `rows` is null: an unfiltered run reads
    * its records directly, not through an identity index. */
  private def fillColumn(buf: ByteBuffer, v: OnHeapColumnVector, pl: ColPlan,
      rows: Array[Int], m: Int, firstPid: Long): Unit = {
    v.reset()
    pl.kind match {
      case 0 => v.putNulls(0, m)
      case 1 => v.putInts(0, m, fid)
      case 2 =>
        var j = 0
        while (j < m) { v.putLong(j, firstPid + (if (rows == null) j else rows(j))); j += 1 }
      case 3 =>
        val off = pl.off
        var j = 0
        if (pl.srcTag <= Tag.Long) {
          while (j < m) {
            val pos = (if (rows == null) j else rows(j)) * stride + off
            var raw: Long = pl.srcTag match {
              case Tag.Byte  => buf.get(pos).toLong
              case Tag.Short => buf.getShort(pos).toLong
              case Tag.Int   => buf.getInt(pos).toLong
              case _         => buf.getLong(pos)
            }
            if (pl.zeroExtend) raw &= Tag.unsignedMask(pl.srcTag)
            if (pl.hasNodata && raw == pl.ndL) v.putNull(j)
            else pl.dstTag match {
              case Tag.Byte   => v.putByte(j, raw.toByte)
              case Tag.Short  => v.putShort(j, raw.toShort)
              case Tag.Int    => v.putInt(j, raw.toInt)
              case Tag.Long   => v.putLong(j, raw)
              case Tag.Float  => v.putFloat(j, raw.toFloat)
              case Tag.Double => v.putDouble(j, raw.toDouble)
            }
            j += 1
          }
        } else {
          while (j < m) {
            val pos = (if (rows == null) j else rows(j)) * stride + off
            val raw: Double =
              if (pl.srcTag == Tag.Float) buf.getFloat(pos).toDouble else buf.getDouble(pos)
            if (pl.hasNodata && raw == pl.ndD) v.putNull(j)
            else if (pl.dstTag == Tag.Float) v.putFloat(j, raw.toFloat)
            else v.putDouble(j, raw)
            j += 1
          }
        }
    }
  }
}
