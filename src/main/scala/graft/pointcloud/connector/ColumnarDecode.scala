package graft.pointcloud.connector

import java.nio.ByteBuffer

import graft.pointcloud.Section
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
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
    predicate: RecordPredicate)
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

  override def next(): Boolean = {
    while (nextIdx < p.numRecords) {
      val n = math.min(batchSize.toLong, p.numRecords - nextIdx).toInt
      in.readFully(chunk, 0, n * p.stride)
      val m = filler.fill(buf, vectors, n, p.startRecord + nextIdx, predicate)
      nextIdx += n
      // a chunk the predicate empties is skipped, not surfaced as an
      // empty batch
      if (m > 0) { batch.setNumRows(m); return true }
    }
    false
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

  private var chunkIdx = -1
  private var recordsBefore = 0L

  override def next(): Boolean = {
    while (chunkIdx + 1 < p.chunkOffsets.length) {
      if (chunkIdx >= 0) recordsBefore += p.chunkCounts(chunkIdx)
      chunkIdx += 1
      val count = p.chunkCounts(chunkIdx).toInt
      if (count > 0) {
        val records = LazDecoders.readChunk(in, chunkDecoder, p, chunkIdx)
        val buf = ByteBuffer.wrap(records).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        // claimed-pushed filters run on the decoded record bytes
        val m = filler.fill(buf, vectors, count, p.startRecord + recordsBefore, predicate)
        // a chunk the predicate empties is skipped, not surfaced as an
        // empty batch
        if (m > 0) { batch.setNumRows(m); return true }
      }
    }
    false
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    in.close()
    batch.close()
  }
}

/** The rows of a columnar reader's batches, for callers of the row-reader
  * contract: Spark itself reads binary and LAZ splits columnar
  * ([[PointCloudReaderFactory.supportColumnarReads]]). Each row is
  * copied, because a batch row's `get` reads a null cell as zero. */
private[connector] final class BatchRowReader(batches: PartitionReader[ColumnarBatch])
  extends PartitionReader[InternalRow] {

  private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (!rows.hasNext) {
      if (!batches.next()) return false
      rows = batches.get().rowIterator()
    }
    row = rows.next().copy()
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = batches.close()
}
