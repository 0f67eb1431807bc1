package graft.pointcloud

import java.nio.{ByteBuffer, ByteOrder}

import graft.pointcloud.connector.PointCloudUtil
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.types._

/** A contiguous run of fixed-length binary records inside one file — the
  * physical unit behind every point-cloud DataFrame.
  *
  * Mirrors the reference's `BinarySection` geometry
  * (BinarySectionRelation.scala:39-54): per-field sizes, prefix-sum
  * offsets, record length, and `stride = max(strideMin, recordLength)`
  * (LAS files may declare a record length longer than the format's fields).
  *
  * @param offset byte position of record 0 in the file
  * @param count  number of records in the section
  */
case class Section(
    location: String,
    offset: Long,
    count: Long,
    littleEndian: Boolean,
    schema: StructType,
    strideMin: Int = 0) {

  val fieldSizes: Array[Int] = schema.fields.map(f => PointCloudTypes.sizeOf(f.dataType))
  /** Byte offset of each field inside a record (prefix sums). */
  val fieldOffsets: Array[Int] = fieldSizes.scanLeft(0)(_ + _).init
  val recordLength: Int = fieldSizes.sum
  val stride: Int = math.max(strideMin, recordLength)
  def byteSize: Long = count * stride
  def order: ByteOrder = if (littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN

  def fieldIndex(name: String): Int = schema.fieldNames.indexOf(name)
}

/** Decodes one on-disk field into a target (possibly widened) row slot. */
private[pointcloud] sealed abstract class FieldDecoder {
  def decode(buf: ByteBuffer, base: Int, pid: Long, row: InternalRow): Unit
}

private[pointcloud] object FieldDecoder {

  /** Field absent from this file's section (multi-file merged schema):
    * always null, matching the reference's NullType stub columns
    * (BinarySectionRelation.scala:58, 105-114). */
  final class AbsentField(ord: Int) extends FieldDecoder {
    def decode(buf: ByteBuffer, base: Int, pid: Long, row: InternalRow): Unit =
      row.setNullAt(ord)
  }

  /** Synthesized file-id column (BinarySectionRelation.scala:55). */
  final class FidField(ord: Int, fid: Int) extends FieldDecoder {
    def decode(buf: ByteBuffer, base: Int, pid: Long, row: InternalRow): Unit =
      row.setInt(ord, fid)
  }

  /** Synthesized record-index column (FixedLengthBinarySectionRecordReader
    * .scala:109 — `(pos - offset) / stride`, here carried by the caller). */
  final class PidField(ord: Int) extends FieldDecoder {
    def decode(buf: ByteBuffer, base: Int, pid: Long, row: InternalRow): Unit =
      row.setLong(ord, pid)
  }

  /** On-disk primitive → target slot with optional widening and optional
    * nodata→null sentinel (BinarySectionRelation.scala:76-96). The srcTag /
    * dstTag switches compile to table switches; all locals are primitive,
    * so the per-record hot loop allocates nothing.
    */
  final class PrimitiveField(
      srcTag: Int, dstTag: Int, off: Int, ord: Int,
      hasNodata: Boolean, nodataLong: Long, nodataDouble: Double,
      zeroExtend: Boolean = false)
    extends FieldDecoder {

    def decode(buf: ByteBuffer, base: Int, pid: Long, row: InternalRow): Unit = {
      val p = base + off
      if (srcTag <= Tag.Long) { // integral source
        var v: Long = srcTag match {
          case Tag.Byte  => buf.get(p).toLong
          case Tag.Short => buf.getShort(p).toLong
          case Tag.Int   => buf.getInt(p).toLong
          case _         => buf.getLong(p)
        }
        if (zeroExtend) v &= Tag.unsignedMask(srcTag)
        if (hasNodata && v == nodataLong) { row.setNullAt(ord); return }
        dstTag match {
          case Tag.Byte   => row.setByte(ord, v.toByte)
          case Tag.Short  => row.setShort(ord, v.toShort)
          case Tag.Int    => row.setInt(ord, v.toInt)
          case Tag.Long   => row.setLong(ord, v)
          case Tag.Float  => row.setFloat(ord, v.toFloat)
          case Tag.Double => row.setDouble(ord, v.toDouble)
        }
      } else { // floating source
        val v: Double =
          if (srcTag == Tag.Float) buf.getFloat(p).toDouble else buf.getDouble(p)
        if (hasNodata && v == nodataDouble) { row.setNullAt(ord); return }
        dstTag match {
          case Tag.Float  => row.setFloat(ord, v.toFloat)
          case Tag.Double => row.setDouble(ord, v)
        }
      }
    }
  }

  object Tag {
    final val Byte = 0; final val Short = 1; final val Int = 2; final val Long = 3
    final val Float = 4; final val Double = 5
    def unsignedMask(tag: Int): Long = tag match {
      case Byte => 0xffL; case Short => 0xffffL; case Int => 0xffffffffL
      case _ => -1L
    }
    def of(dt: DataType): Int = dt match {
      case ByteType => Byte
      case ShortType => Short
      case IntegerType => Int
      case LongType => Long
      case FloatType => Float
      case DoubleType => Double
      case other => throw new IllegalArgumentException(s"unsupported $other")
    }
  }
}

/** Decodes records of one [[Section]] into a reused mutable row shaped as
  * `readSchema` (the pruned projection of the merged multi-file schema,
  * possibly including the synthesized fid/pid columns).
  *
  * The reference decoder, record at a time: no scan runs it. Scans decode
  * through the connector's ColumnarFiller, which ColumnarFillerSpec
  * checks against this class cell for cell.
  */
final class RecordDecoder(section: Section, readSchema: StructType, fid: Int) {

  import FieldDecoder._

  private val row = new SpecificInternalRow(readSchema)

  private val decoders: Array[FieldDecoder] =
    readSchema.fields.zipWithIndex.map { case (f, ord) =>
      if (f.name == PointCloudUtil.FidCol) new FidField(ord, fid)
      else if (f.name == PointCloudUtil.PidCol) new PidField(ord)
      else {
        val i = section.fieldIndex(f.name)
        if (i < 0) new AbsentField(ord)
        else {
          val src = section.schema.fields(i).dataType
          val md = section.schema.fields(i).metadata
          val srcTag = Tag.of(src)
          // nodata sentinel only honored on nullable fields, like the
          // reference (BinarySectionRelation.scala:76-88)
          val hasNodata = f.nullable && md.contains("nodata")
          var ndL = 0L; var ndD = 0.0
          if (hasNodata) {
            if (srcTag <= Tag.Long) ndL = md.getLong("nodata")
            else ndD = md.getDouble("nodata")
          }
          val dstTag = Tag.of(f.dataType)
          // unsigned on-disk fields zero-extend when the target widened
          // (widenUnsigned option, or a multi-file merge that widened)
          val zeroExtend = srcTag < dstTag && dstTag <= Tag.Long &&
            md.contains("unsigned") && md.getBoolean("unsigned")
          new PrimitiveField(srcTag, dstTag, section.fieldOffsets(i),
            ord, hasNodata, ndL, ndD, zeroExtend)
        }
      }
    }

  /** Decode the record at `base` in `buf`; returns an internally reused row. */
  def decode(buf: ByteBuffer, base: Int, pid: Long): InternalRow = {
    var i = 0
    while (i < decoders.length) { decoders(i).decode(buf, base, pid, row); i += 1 }
    row
  }
}

/** Encodes rows to fixed-stride records for the write path.
  *
  * Fields are matched by name + exact type, and fields absent from the
  * input are zero-filled — the reference's `RowOutputStream` contract
  * (package.scala:173-217). Null input values are written as binary zero.
  */
final class RecordEncoder(
    fileSchema: StructType,
    inputSchema: StructType,
    littleEndian: Boolean) {

  private val section = Section("", 0, 0, littleEndian, fileSchema)
  val recordLength: Int = section.recordLength
  private val bytes = new Array[Byte](recordLength)
  private val buffer = ByteBuffer.wrap(bytes).order(section.order)

  // per file field: input ordinal or -1, type tag, byte offset — three
  // primitive arrays, so the per-row loop boxes nothing
  private val inputOrdinal: Array[Int] = fileSchema.fields.map(f =>
    inputSchema.fields.indexWhere(g => g.name == f.name && g.dataType == f.dataType))
  private val tags: Array[Int] = fileSchema.fields.map(f => FieldDecoder.Tag.of(f.dataType))
  private val offsets: Array[Int] = section.fieldOffsets

  /** Encode `row` (shaped as `inputSchema`); returns an internally reused
    * byte array of exactly `recordLength` bytes. */
  def encode(row: InternalRow): Array[Byte] = {
    var i = 0
    while (i < tags.length) {
      val in = inputOrdinal(i)
      val tag = tags(i)
      val off = offsets(i)
      import FieldDecoder.Tag
      if (in < 0 || row.isNullAt(in)) {
        // zero-fill: absent or null field
        tag match {
          case Tag.Byte   => buffer.put(off, 0: Byte)
          case Tag.Short  => buffer.putShort(off, 0: Short)
          case Tag.Int    => buffer.putInt(off, 0)
          case Tag.Long   => buffer.putLong(off, 0L)
          case Tag.Float  => buffer.putFloat(off, 0f)
          case Tag.Double => buffer.putDouble(off, 0d)
        }
      } else tag match {
        case Tag.Byte   => buffer.put(off, row.getByte(in))
        case Tag.Short  => buffer.putShort(off, row.getShort(in))
        case Tag.Int    => buffer.putInt(off, row.getInt(in))
        case Tag.Long   => buffer.putLong(off, row.getLong(in))
        case Tag.Float  => buffer.putFloat(off, row.getFloat(in))
        case Tag.Double => buffer.putDouble(off, row.getDouble(in))
      }
      i += 1
    }
    bytes
  }
}
