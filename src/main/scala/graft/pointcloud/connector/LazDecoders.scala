package graft.pointcloud.connector

import scala.collection.mutable

import graft.pointcloud.Section
import graft.pointcloud.las.laz.LazChunkDecoder
import org.apache.hadoop.fs.FSDataInputStream
import org.apache.spark.sql.sources.{Filter => SourceFilter}
import org.apache.spark.sql.types.StructType

/** Selective LAZ decode, connector side (the reference's projection
  * pruning, BinarySectionRelation.scala:165-181, carried into the LAZ
  * codec). A scan's LAZ readers need its read schema plus every column
  * its reader-applied [[RecordPredicate]] tests (streaming and the
  * `bbox` / `timerange` options push predicates into LAZ readers). A
  * section's record layout turns those columns into the record bytes
  * read, and [[LazChunkDecoder.layersFor]] turns the bytes into the
  * layers of a LAS 1.4 chunk that must be entropy-decoded. Chunks are
  * still read whole: this saves decode work, not IO. */
private[connector] object LazLayers {

  /** The columns a scan's LAZ readers read. */
  def columns(readSchema: StructType, readerFilters: Array[SourceFilter]): Set[String] =
    readSchema.fieldNames.toSet ++ readerFilters.flatMap(_.references)

  /** The layers to decode for `columns` of a section. */
  def of(format: Byte, stride: Int, sectionSchema: StructType,
      columns: Set[String]): Array[Boolean] = {
    val s = Section("", 0, 0, littleEndian = true, sectionSchema, stride)
    val needed = new Array[Boolean](stride)
    s.schema.fieldNames.indices.foreach { i =>
      if (columns(s.schema.fieldNames(i)))
        java.util.Arrays.fill(needed, s.fieldOffsets(i), s.fieldOffsets(i) + s.fieldSizes(i), true)
    }
    LazChunkDecoder.layersFor(format, stride, needed)
  }

  /** `LazLayers: [xy,z]`: the layers decoded over the compressed
    * sections of a scan, or None when no section is compressed. */
  def describe(sections: Seq[SectionWithFid], columns: Set[String]): Option[String] = {
    val layouts = sections.flatMap(sf =>
      sf.laz.map(lz => (lz.format, lz.stride, sf.section.schema))).distinct
    if (layouts.isEmpty) None
    else {
      // widest format first, so the union keeps the codecs' layer order
      val names = layouts.sortBy(-_._1).flatMap { case (format, stride, schema) =>
        LazChunkDecoder.layerNames(format, stride)
          .zip(of(format, stride, schema, columns)).collect { case (n, true) => n }
      }.distinct
      Some(s"LazLayers: [${names.mkString(",")}]")
    }
  }
}

/** The LAZ chunk decoders of one read task: one per (format, stride,
  * decoded layers), shared by every split of the task. Codec state and
  * the grow-only chunk and record buffers are then built once per task,
  * not once per split. Not thread-safe; one instance per task. */
private[connector] final class LazDecoders(columns: Set[String]) {
  private val byLayout = mutable.HashMap.empty[(Byte, Int, Seq[Boolean]), LazChunkDecoder]

  /** The decoder for split `p`, whose section records have `sectionSchema`. */
  def apply(p: LazPartition, sectionSchema: StructType): LazChunkDecoder = {
    val layers = LazLayers.of(p.format, p.stride, sectionSchema, columns)
    byLayout.getOrElseUpdate((p.format, p.stride, layers.toSeq),
      new LazChunkDecoder(p.format, p.stride, layers))
  }
}

private[connector] object LazDecoders {
  /** Read chunk `k` of split `p` whole from `in` and decode it: the
    * decoder's records buffer, holding the chunk's records. */
  def readChunk(in: FSDataInputStream, decoder: LazChunkDecoder, p: LazPartition,
      k: Int): Array[Byte] = {
    val len = p.chunkBytes(k).toInt
    val compressed = decoder.chunkBuffer(len)
    in.seek(p.chunkOffsets(k))
    in.readFully(compressed, 0, len)
    decoder.decode(compressed, len, p.chunkCounts(k).toInt)
  }
}
