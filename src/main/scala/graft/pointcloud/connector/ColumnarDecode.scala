package graft.pointcloud.connector

import java.nio.ByteBuffer

import graft.pointcloud.Section
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Vectorized decode for fixed-stride binary sections (SURVEY O7/§7.8):
  * records are read in ~4 MiB chunks and decoded column-at-a-time into
  * reused OnHeapColumnVectors through the shared [[ColumnarFiller]]
  * kernel, and the scan feeds Spark's ColumnarToRow/whole-stage codegen
  * path.
  */
class BinarySectionColumnarReader(p: BinaryPartition, readSchema: StructType,
    predicate: RecordPredicate = null)
  extends PartitionReader[ColumnarBatch] {

  private val sectionSchema = DataType.fromJson(p.sectionSchemaJson).asInstanceOf[StructType]
  private val section = Section(p.location, p.sectionOffset, p.numRecords,
    p.littleEndian, sectionSchema, p.stride)

  private val path = new Path(p.location)
  private val in = path.getFileSystem(LocalIo.conf).open(path)
  in.seek(p.sectionOffset + p.startRecord * p.stride)

  private val batchSize: Int =
    math.max(1, math.min(p.numRecords, (4 << 20) / math.max(1, p.stride)).toInt)
  private val chunk = new Array[Byte](batchSize * p.stride)
  private val buf = ByteBuffer.wrap(chunk).order(section.order)

  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, readSchema)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]])

  private val filler = new ColumnarFiller(sectionSchema, readSchema, p.stride, p.fid)

  private var nextIdx = 0L // next record index within the partition

  // pushed-filter selection: indices of matching records within the chunk
  private val sel: Array[Int] = if (predicate == null) null else new Array[Int](batchSize)

  override def next(): Boolean = {
    while (true) {
      if (nextIdx >= p.numRecords) return false
      val n = math.min(batchSize.toLong, p.numRecords - nextIdx).toInt
      in.readFully(chunk, 0, n * p.stride)
      val firstPid = p.startRecord + nextIdx
      if (predicate == null) {
        filler.fill(buf, vectors, n, firstPid)
        batch.setNumRows(n)
        nextIdx += n
        return true
      } else {
        // evaluate on the raw bytes first, then decode only the survivors
        // (ColumnarBatch has no selection vector, so compact while filling)
        var m = 0
        var i = 0
        while (i < n) {
          if (predicate.matches(buf, i * p.stride, firstPid + i)) {
            sel(m) = i; m += 1
          }
          i += 1
        }
        nextIdx += n
        if (m > 0) {
          filler.fillSelected(buf, vectors, sel, m, firstPid)
          batch.setNumRows(m)
          return true
        }
        // whole chunk filtered out — read the next one instead of
        // surfacing an empty batch
      }
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    in.close()
    batch.close()
  }
}

/** Vectorized LAZ decode: each compressed chunk is entropy-decoded into
  * a raw-record buffer (sequential by construction — the prediction
  * state chains point to point), then column-filled through the SAME
  * [[ColumnarFiller]] kernel as the raw reader, so the scan side of a
  * `.laz` table also feeds whole-stage codegen via ColumnarToRow
  * instead of per-row decode dispatch. `chunkDecoder` is the task's,
  * and decodes only the layers holding the read and predicate columns
  * ([[LazLayers]]). */
class LazSectionColumnarReader(p: LazPartition, sectionSchema: StructType,
    readSchema: StructType, predicate: RecordPredicate,
    chunkDecoder: graft.pointcloud.las.laz.LazChunkDecoder)
  extends PartitionReader[ColumnarBatch] {

  private val path = new Path(p.location)
  private val in = path.getFileSystem(LocalIo.conf).open(path)

  private val batchSize: Int =
    math.max(1, p.chunkCounts.foldLeft(0L)(math.max).toInt)
  private val vectors: Array[OnHeapColumnVector] =
    OnHeapColumnVector.allocateColumns(batchSize, readSchema)
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[org.apache.spark.sql.vectorized.ColumnVector]])

  private val filler = new ColumnarFiller(sectionSchema, readSchema, p.stride, p.fid)
  private val sel: Array[Int] = if (predicate == null) null else new Array[Int](batchSize)

  private var chunkIdx = -1
  private var recordsBefore = 0L

  override def next(): Boolean = {
    while (true) {
      var count = 0L
      do {
        if (chunkIdx >= 0) recordsBefore += p.chunkCounts(chunkIdx)
        chunkIdx += 1
        if (chunkIdx >= p.chunkOffsets.length) return false
        count = p.chunkCounts(chunkIdx)
      } while (count == 0)
      val records = LazDecoders.readChunk(in, chunkDecoder, p, chunkIdx)
      val buf = ByteBuffer.wrap(records).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val firstPid = p.startRecord + recordsBefore
      if (predicate == null) {
        filler.fill(buf, vectors, count.toInt, firstPid)
        batch.setNumRows(count.toInt)
        return true
      } else {
        // claimed-pushed filters run on the decoded record bytes, and
        // only the survivors column-fill (same compaction contract as
        // the raw columnar reader)
        var m = 0
        var i = 0
        while (i < count.toInt) {
          if (predicate.matches(buf, i * p.stride, firstPid + i)) { sel(m) = i; m += 1 }
          i += 1
        }
        if (m > 0) {
          filler.fillSelected(buf, vectors, sel, m, firstPid)
          batch.setNumRows(m)
          return true
        }
        // whole chunk filtered out — decode the next one
      }
    }
    false // unreachable
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    in.close()
    batch.close()
  }
}
