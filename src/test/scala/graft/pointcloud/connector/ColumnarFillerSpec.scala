package graft.pointcloud.connector

import java.nio.ByteBuffer

import scala.util.Try

import graft.pointcloud.{RecordDecoder, SchemaMerge, Section}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.sources.In
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[ColumnarFiller]], the decoder of every binary and LAZ scan, against
  * the record-at-a-time reference [[RecordDecoder]], cell for cell, over
  * in-memory sections. */
class ColumnarFillerSpec extends AnyFunSuite {

  private val primitives = Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  /** One section field read as a target type. */
  private case class Field(name: String, src: DataType, dst: DataType,
      nodata: Boolean, nullable: Boolean, unsigned: Boolean) {
    /** The value planted where nodata is tested: high bits set, so an
      * unsigned field reads it differently with and without zero-extension. */
    def plant(buf: ByteBuffer, pos: Int): Unit = src match {
      case ByteType    => buf.put(pos, 0xf7.toByte)
      case ShortType   => buf.putShort(pos, 0xf7f7.toShort)
      case IntegerType => buf.putInt(pos, 0xf7f7f7f7)
      case LongType    => buf.putLong(pos, 0xf7f7f7f7f7f7f7f7L)
      case FloatType   => buf.putFloat(pos, -9999.5f)
      case DoubleType  => buf.putDouble(pos, -9999.5)
    }
    /** The planted value as the field's meaning: unsigned when widened. */
    def nodataValue: Any = src match {
      case ByteType    => if (widensUnsigned) 0xf7L else 0xf7.toByte.toLong
      case ShortType   => if (widensUnsigned) 0xf7f7L else 0xf7f7.toShort.toLong
      case IntegerType => if (widensUnsigned) 0xf7f7f7f7L else 0xf7f7f7f7.toLong
      case LongType    => 0xf7f7f7f7f7f7f7f7L
      case _           => -9999.5
    }
    def widensUnsigned: Boolean = unsigned && primitives.indexOf(src) < primitives.indexOf(dst) &&
      dst != FloatType && dst != DoubleType
    def sectionField: StructField = {
      val md = new MetadataBuilder()
      if (unsigned) md.putBoolean("unsigned", true)
      if (nodata) nodataValue match {
        case l: Long   => md.putLong("nodata", l)
        case d: Double => md.putDouble("nodata", d)
      }
      StructField(name, src, nullable = true, md.build())
    }
  }

  /** Every source→target pair the multi-file merge widens to, itself included. */
  private val pairs: Seq[(DataType, DataType)] = (for {
    src <- primitives
    other <- primitives
    dst <- Try(SchemaMerge.mergeType(src, other)).toOption
  } yield (src, dst)).distinct

  private val fields: Seq[Field] = pairs.zipWithIndex.flatMap { case ((src, dst), k) =>
    val n = s"f${k}_${src.typeName}_${dst.typeName}"
    val base = Seq(
      Field(s"${n}_plain", src, dst, nodata = false, nullable = true, unsigned = false),
      Field(s"${n}_nodata", src, dst, nodata = true, nullable = true, unsigned = false),
      Field(s"${n}_nodata_notnull", src, dst, nodata = true, nullable = false, unsigned = false))
    val unsigned =
      if (src == LongType || src == FloatType || src == DoubleType) Nil
      else Seq(
        Field(s"${n}_unsigned", src, dst, nodata = false, nullable = true, unsigned = true),
        Field(s"${n}_unsigned_nodata", src, dst, nodata = true, nullable = true, unsigned = true))
    base ++ unsigned
  }

  test("the columnar filler decodes every cell as the reference RecordDecoder does") {
    assert(pairs.size == 18, pairs)
    assert(Seq(ByteType, ShortType, IntegerType).forall(w => fields.exists(f =>
      f.src == w && f.widensUnsigned)), "zero-extension is not tested at every width")
    val rnd = new scala.util.Random(7)
    // the section also holds a field no read asks for, and pads its records
    val sectionSchema = StructType(rnd.shuffle(
      fields.map(_.sectionField) :+ StructField("unread", LongType)))
    val readSchema = StructType(rnd.shuffle(fields.map(f => StructField(f.name, f.dst, f.nullable)) ++
      Seq(StructField(PointCloudUtil.FidCol, IntegerType, nullable = false),
        StructField(PointCloudUtil.PidCol, LongType, nullable = false),
        StructField("absent", IntegerType))))
    val n = 300
    val fid = 3
    val firstPid = 1000L
    val planted = (0 until n by 7).toSet

    for (littleEndian <- Seq(true, false)) {
      val section = Section("memory", 0, n, littleEndian, sectionSchema,
        strideMin = Section("", 0, 0, true, sectionSchema).recordLength + 5)
      val stride = section.stride
      val bytes = new Array[Byte](n * stride)
      rnd.nextBytes(bytes)
      val buf = ByteBuffer.wrap(bytes).order(section.order)
      for (i <- planted; f <- fields if f.nodata)
        f.plant(buf, i * stride + section.fieldOffsets(section.fieldIndex(f.name)))

      val reference = new RecordDecoder(section, readSchema, fid)
      val filler = new ColumnarFiller(sectionSchema, readSchema, stride, fid)
      val vectors = OnHeapColumnVector.allocateColumns(n, readSchema)

      // records the reads return: all of them, then a selection that
      // keeps some planted records
      val chosen = (0 until n).filter(i => rnd.nextInt(3) == 0 || i == 14).toArray
      val selection = new RecordPredicate(
        Array(In(PointCloudUtil.PidCol, chosen.map(i => firstPid + i: Any))),
        readSchema, section, fid)
      for ((predicate, records) <- Seq((null, (0 until n).toArray), (selection, chosen))) {
        val what = s"littleEndian=$littleEndian selected=${predicate != null}"
        val m = filler.fill(buf, vectors, n, firstPid, predicate)
        assert(m == records.length, what)
        records.zipWithIndex.foreach { case (rec, j) =>
          val row = reference.decode(buf, rec * stride, firstPid + rec)
          readSchema.fields.zipWithIndex.foreach { case (f, c) =>
            assert(cell(vectors(c), j, f.dataType) == cell(row, c, f.dataType),
              s"$what record $rec column ${f.name}")
          }
        }
        // the cases are live: planted nodata reads as null and unsigned
        // values zero-extend
        fields.filter(f => f.nodata && f.nullable).foreach { f =>
          val c = readSchema.fieldIndex(f.name)
          assert((0 until m).exists(vectors(c).isNullAt), s"$what no null in ${f.name}")
        }
        fields.filter(f => f.widensUnsigned && !f.nodata).foreach { f =>
          val c = readSchema.fieldIndex(f.name)
          val signedMax = (1L << (8 * f.src.defaultSize - 1)) - 1
          assert((0 until m).exists(j => cell(vectors(c), j, f.dst).asInstanceOf[Long] > signedMax),
            s"$what no high-bit value in ${f.name}")
        }
      }
      vectors.foreach(_.close())
    }
  }

  /** A cell as a comparable value: null, an integral Long, or the bits
    * of a floating value (so NaN equals NaN). */
  private def cell(v: OnHeapColumnVector, j: Int, dt: DataType): Any =
    if (v.isNullAt(j)) null else dt match {
      case ByteType    => v.getByte(j).toLong
      case ShortType   => v.getShort(j).toLong
      case IntegerType => v.getInt(j).toLong
      case LongType    => v.getLong(j)
      case FloatType   => java.lang.Float.floatToIntBits(v.getFloat(j)).toLong
      case DoubleType  => java.lang.Double.doubleToLongBits(v.getDouble(j))
    }

  private def cell(row: InternalRow, c: Int, dt: DataType): Any =
    if (row.isNullAt(c)) null else dt match {
      case ByteType    => row.getByte(c).toLong
      case ShortType   => row.getShort(c).toLong
      case IntegerType => row.getInt(c).toLong
      case LongType    => row.getLong(c)
      case FloatType   => java.lang.Float.floatToIntBits(row.getFloat(c)).toLong
      case DoubleType  => java.lang.Double.doubleToLongBits(row.getDouble(c))
    }
}
