package graft.pointcloud.connector

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{Filter => SourceFilter}
import org.apache.spark.sql.types.StructType

/** One read task: consecutive splits in planning order. The readers walk
  * them one after another with one file open at a time; every split keeps
  * its own fid, pid base and pushed-filter predicate, so packing changes
  * how many tasks read, never what is read. */
case class PackedPartition(splits: Array[InputPartition]) extends InputPartition

/** The one split planner of the batch scan and the micro-batch stream.
  *
  * Splits are cut per section: runs of whole records (raw sections) or of
  * whole LAZ chunks (compressed sections, minus COPC-pruned chunks) up to
  * `spark.sql.files.maxPartitionBytes`, and one split per XYZ file (this
  * replaces the reference's Hadoop-InputFormat split alignment,
  * FixedLengthBinarySectionInputFormat.scala:81-92). A
  * pushed limit keeps the leading splits covering its row count. The
  * splits are then packed, in planning order, by Spark's own file-source
  * rule (`FilePartition.maxSplitBytes` / `getFilePartitions`): a split
  * costs its bytes plus `spark.sql.files.openCostInBytes`, and a task
  * closes once the next split would take it past
  * `min(maxPartitionBytes, max(openCost, total cost / minPartitionNum))`,
  * where `minPartitionNum` is `spark.sql.files.minPartitionNum` or else
  * the leaf-node default parallelism. So a collection of small tiles reads
  * as one task per core instead of one per tile. Unlike Spark's rule,
  * packing never plans fewer than `min(#splits, minPartitionNum)` tasks:
  * a few uneven files still read with one task each. */
private[graft] object SplitPlanner {

  def plan(kind: FormatKind, sections: Seq[SectionWithFid], tableSchema: StructType,
      planFilters: Array[SourceFilter], copcMaxLevel: Int,
      limit: Int = -1): Array[InputPartition] =
    pack(limited(cut(kind, sections, tableSchema, planFilters, copcMaxLevel), limit))

  /** Every split of `sections`, in section order. */
  private def cut(kind: FormatKind, sections: Seq[SectionWithFid], tableSchema: StructType,
      planFilters: Array[SourceFilter], copcMaxLevel: Int): IndexedSeq[InputPartition] = {
    val maxBytes = SQLConf.get.filesMaxPartitionBytes
    // one rendered schema String per distinct schema, shared by every
    // split of every section: StructType.json allocates a fresh String per
    // call, and distinct instances defeat Java serialization's
    // identity-based back-refs, so a task packing many tiles would
    // otherwise serialize one full copy per split
    val jsonOf = mutable.HashMap.empty[StructType, String]
    def json(s: StructType): String = jsonOf.getOrElseUpdate(s, s.json)
    // XYZ token layout: the table schema minus the generated id columns —
    // positions in the text line, which column pruning must not disturb
    lazy val xyzJson = json(StructType(tableSchema.fields.filterNot(f =>
      f.name == PointCloudUtil.FidCol || f.name == PointCloudUtil.PidCol)))
    sections.iterator.flatMap { sf =>
      val s = sf.section
      if (kind == FormatKind.Xyz) Iterator(XyzPartition(s.location, sf.fid, xyzJson))
      else sf.laz match {
        case Some(lz) =>
          // COPC chunk skipping: octree bounds vs the pushed x/y/z box
          // (exactness preserved by the record predicate on whatever still
          // decodes) + the declared copc.maxlevel preview bound
          LazPlanning.partitions(s, sf.fid, lz, maxBytes,
            CopcPrune.keepMask(lz, planFilters, copcMaxLevel), json(s.schema))
        case None =>
          val perSplit = math.max(1L, maxBytes / math.max(1, s.stride))
          val schemaJson = json(s.schema)
          (0L until s.count by perSplit).iterator.map { start =>
            BinaryPartition(s.location, s.offset, start,
              math.min(perSplit, s.count - start), s.stride, s.littleEndian, sf.fid,
              schemaJson)
          }
      }
    }.toIndexedSeq
  }

  /** Pushed limit (only planned without pushed filters): the leading
    * splits covering exactly `limit` records — LIMIT 10 over a thousand
    * files plans one split of 10 records, not a scan. */
  private def limited(splits: IndexedSeq[InputPartition], limit: Int): IndexedSeq[InputPartition] =
    if (limit < 0) splits
    else {
      var remaining = limit.toLong
      splits.iterator.takeWhile(_ => remaining > 0).map {
        case b: BinaryPartition =>
          val take = math.min(b.numRecords, remaining)
          remaining -= take
          b.copy(numRecords = take)
        case lp: LazPartition =>
          val take = math.min(lp.numRecords, remaining)
          remaining -= take
          lp.truncatedTo(take)
        case other => other
      }.toIndexedSeq
    }

  /** Consecutive splits packed into tasks (see the object doc). */
  private def pack(splits: IndexedSeq[InputPartition]): Array[InputPartition] = {
    val n = splits.size
    if (n == 0) return Array.empty
    val conf = SQLConf.get
    val openCost = conf.filesOpenCostInBytes
    val minPartitions = math.max(1, conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM)
        .getOrElse(SparkSession.active.sparkContext.defaultParallelism)))
    val sizes = splits.map(bytes)
    val maxSplitBytes = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, sizes.iterator.map(_ + openCost).sum / minPartitions))
    val floor = math.min(n, minPartitions)
    val out = Array.newBuilder[InputPartition]
    var first = 0 // first split of the open task
    var size = 0L
    var i = 0
    while (i < n) {
      // close the open task before split i when i would overflow it, or
      // when the splits left could no longer fill the partition floor
      if (i > first && (size + sizes(i) > maxSplitBytes || out.length + n - i < floor)) {
        out += PackedPartition(splits.slice(first, i).toArray)
        first = i
        size = 0L
      }
      size += sizes(i) + openCost
      i += 1
    }
    out += PackedPartition(splits.slice(first, n).toArray)
    out.result()
  }

  /** Bytes a split reads: its records, its compressed chunks, or (XYZ,
    * no header count) its whole file. */
  private def bytes(p: InputPartition): Long = p match {
    case b: BinaryPartition => b.numRecords * b.stride
    case l: LazPartition => l.chunkBytes.sum
    case x: XyzPartition =>
      val path = new Path(x.location)
      try path.getFileSystem(LocalIo.conf).getFileStatus(path).getLen
      catch { case _: java.io.IOException => 0L }
  }
}

/** Reads a [[PackedPartition]]: opens each split's reader in turn and
  * closes it before opening the next. */
private[connector] final class PackedReader[T](
    splits: Array[InputPartition], open: InputPartition => PartitionReader[T])
  extends PartitionReader[T] {

  private var nextSplit = 0
  private var current: PartitionReader[T] = _

  override def next(): Boolean = {
    while (true) {
      if (current == null) {
        if (nextSplit >= splits.length) return false
        current = open(splits(nextSplit))
        nextSplit += 1
      }
      if (current.next()) return true
      current.close()
      current = null
    }
    false // unreachable
  }

  override def get(): T = current.get()

  override def close(): Unit = if (current != null) {
    current.close()
    current = null
  }
}
