package graft.pointcloud.connector

import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pointcloud.{Section, SchemaMerge}
import graft.pointcloud.las.{LasExtraBytes, LasHeader}
import graft.pointcloud.ply.PlyHeader
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Which point-cloud format a table speaks. `extension` names the
  * default write suffix; `extensions` is everything the reader lists —
  * the LAS table reads `.las` and LASzip-compressed `.laz` side by side
  * (the reference REJECTS compressed input,
  * FixedLengthBinarySectionInputFormat.scala:48-56). */
sealed abstract class FormatKind(val name: String, val extension: String) {
  def extensions: Set[String] = Set(extension)
}
object FormatKind {
  case object Las extends FormatKind("las", ".las") {
    override val extensions: Set[String] = Set(".las", ".laz")
  }
  case object Ply extends FormatKind("ply", ".ply")
  case object Xyz extends FormatKind("xyz", ".xyz")
}

/** LAS header stats usable for aggregate pushdown (bbox in scaled world
  * coordinates + the scale/offset needed to unscale back to raw ints). */
case class LasStats(pMin: Array[Double], pMax: Array[Double],
    scale: Array[Double], offset: Array[Double]) extends Serializable

/** A section plus the index of its source file in the input path list
  * (the `fid` virtual-column value, BinarySectionRelation.scala:174-176),
  * any header stats for pushdown, and — for LASzip-compressed files —
  * the chunk layout the planner cuts splits on. */
case class SectionWithFid(section: Section, fid: Int,
    lasStats: Option[LasStats] = None,
    laz: Option[graft.pointcloud.las.laz.LazInfo] = None) extends Serializable

/** Driver-side resolved view of a point-cloud dataset: expanded file list,
  * per-file sections, merged data schema. */
case class ResolvedPointCloud(
    paths: Seq[String],
    sections: Seq[SectionWithFid],
    dataSchema: StructType)

/** Base DSv2 provider for the three formats. Schema inference reads file
  * headers on the driver only (never data), as in the reference
  * (las/LasRelation.scala:41-57, ply/PlyRelation.scala:90-118); unreadable
  * files are skipped with a warning (las/LasRelation.scala:53).
  */
abstract class PointCloudProvider extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister with Logging {
  def kind: FormatKind

  override def supportsExternalMetadata(): Boolean = true

  // inferSchema + getTable are called back-to-back on one provider
  // instance; cache the header reads between them.
  @volatile private var cached: (String, ResolvedPointCloud) = null

  private def cacheKey(options: CaseInsensitiveStringMap): String =
    PointCloudUtil.explicitPaths(options).mkString("\u0000") +
      "\u0001" + options.getOrDefault("element", "vertex")

  protected def resolve(options: CaseInsensitiveStringMap): ResolvedPointCloud = {
    // write target: the sugar smuggles the query schema through __schema
    // (a path-based DSv2 write calls inferSchema on a possibly-empty dir);
    // no file listing needed, and the table schema must equal it exactly
    // for AppendData.byName resolution.
    PointCloudUtil.writeSchema(options) match {
      case Some(s) => return ResolvedPointCloud(Nil, Nil, s)
      case None =>
    }
    val key = cacheKey(options)
    val c = cached
    if (c != null && c._1 == key) return c._2
    val conf = LocalIo.conf
    val files = PointCloudUtil.expandPaths(PointCloudUtil.explicitPaths(options), kind, conf)
    // Headers parse on the shared metadata-read pool; results come back
    // in path order, and so does fid numbering.
    val perFile: Seq[Seq[FileSection]] = graft.Fs.readAll(files) { p =>
      try readSections(p, options, conf)
      catch {
        case e: Exception =>
          logWarning(s"Skipping unreadable ${kind.name} file $p: ${e.getMessage}")
          Nil
      }
    }
    val secs = mutable.ArrayBuffer.empty[SectionWithFid]
    perFile.zipWithIndex.foreach { case (sections, fid) =>
      secs ++= sections.map(fs => SectionWithFid(fs.section, fid, fs.lasStats, fs.laz))
    }
    val dataSchema =
      if (secs.nonEmpty) SchemaMerge.mergeAll(secs.map(_.section.schema).toSeq)
      else throw new IllegalArgumentException(
        s"No readable ${kind.name} files at ${PointCloudUtil.explicitPaths(options)} " +
          "and no schema supplied")
    val r = ResolvedPointCloud(files, secs.toSeq, dataSchema)
    cached = (key, r)
    r
  }

  /** Per-file header parse → sections (one for LAS, one per chosen element
    * for PLY; XYZ overrides with a pseudo-section). */
  protected def readSections(path: String, options: CaseInsensitiveStringMap,
      conf: Configuration): Seq[FileSection]

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PointCloudUtil.writeSchema(options).getOrElse {
      val r = resolve(options)
      val data =
        if (options.getBoolean("widenUnsigned", false))
          PointCloudUtil.widenUnsigned(r.dataSchema)
        else r.dataSchema
      // option("idColumns","false") suppresses the synthesized fid/pid
      // leading columns entirely (the decoder already tolerates their
      // absence from the read schema) for callers that never use them
      if (options.getBoolean("idColumns", true))
        PointCloudUtil.withIdColumns(data, r.paths)
      else data
    }

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    Array.empty

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val r = resolve(options)
    new PointCloudTable(kind, r, schema, options, this)
  }

  /** Per-file sections for the streaming source (header read per batch). */
  private[connector] def streamSections(path: String,
      options: CaseInsensitiveStringMap): Seq[FileSection] =
    readSections(path, options, LocalIo.conf)
}

/** One resolved section of one file: the record geometry plus any
  * header stats (LAS bbox pushdown) and compressed-chunk layout (LAZ). */
case class FileSection(section: Section,
    lasStats: Option[LasStats] = None,
    laz: Option[graft.pointcloud.las.laz.LazInfo] = None) extends Serializable

class LasProvider extends PointCloudProvider {
  override def kind: FormatKind = FormatKind.Las
  override def shortName(): String = "las"

  override protected def readSections(path: String, options: CaseInsensitiveStringMap,
      conf: Configuration): Seq[FileSection] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      val header = LasHeader.read(path, in)
      val readAt: LasExtraBytes.ReadAt = (off, len) => {
        in.seek(off)
        val b = new Array[Byte](len)
        in.readFully(b)
        b
      }
      // LASzip-compressed: additionally resolve the chunk layout (a
      // layout this codec cannot decode throws here → the provider's
      // skip-unreadable warning, same contract as a corrupt header);
      // ExtraBytes fields parse identically either way — under
      // compression their tail rides as the BYTE item
      val laz =
        if (header.compressed)
          Some(graft.pointcloud.las.laz.Laz.infoFor(header, readAt,
            fs.getFileStatus(p).getLen))
        else None
      val extras = LasExtraBytes.extraFields(header, readAt)
      val h = header.copy(extraFields = extras)
      val sec = laz match {
        // section offset = first chunk; stride = DECODED record length
        case Some(lz) => h.toSection.copy(offset = lz.firstChunkOffset)
        case None => h.toSection
      }
      // stamp the header's coordinate scale/offset on x/y/z so
      // withCoordinates can reconstruct world coordinates as plain
      // column arithmetic (SURVEY §1.5: metadata instead of UDTs)
      val stamped = sec.schema.fields.map { f =>
        val axis = f.name match { case "x" => 0; case "y" => 1; case "z" => 2; case _ => -1 }
        if (axis < 0) f
        else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putDouble("scale", h.scale(axis)).putDouble("offset", h.offset(axis)).build())
      }
      Seq(FileSection(sec.copy(schema = StructType(stamped)),
        Some(LasStats(h.pMin, h.pMax, h.scale, h.offset)), laz))
    } finally in.close()
  }
}

class PlyProvider extends PointCloudProvider {
  override def kind: FormatKind = FormatKind.Ply
  override def shortName(): String = "ply"

  override protected def readSections(path: String, options: CaseInsensitiveStringMap,
      conf: Configuration): Seq[FileSection] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val header = try PlyHeader.read(path, in) finally in.close()
    val element = options.getOrDefault("element", "vertex")
    header.sections.get(element).map(FileSection(_)).toSeq
  }
}

class XyzProvider extends PointCloudProvider {
  override def kind: FormatKind = FormatKind.Xyz
  override def shortName(): String = "xyz"

  /** XYZ files have no header: fixed default schema x,y,z float + r,g,b
    * byte (xyz/XyzRelation.scala:28-42), all nullable because text lines
    * may omit trailing fields. Record count is unknown until scan. */
  override protected def readSections(path: String, options: CaseInsensitiveStringMap,
      conf: Configuration): Seq[FileSection] = {
    val schema = PointCloudUtil.writeSchema(options)
      .map(s => StructType(s.fields.filterNot(f =>
        f.name == PointCloudUtil.FidCol || f.name == PointCloudUtil.PidCol)))
      .getOrElse(XyzProvider.defaultSchema)
    Seq(FileSection(Section(path, 0, -1, littleEndian = true, schema)))
  }
}

object XyzProvider {
  val defaultSchema: StructType = StructType(Seq(
    StructField("x", FloatType, nullable = true),
    StructField("y", FloatType, nullable = true),
    StructField("z", FloatType, nullable = true),
    StructField("r", ByteType, nullable = true),
    StructField("g", ByteType, nullable = true),
    StructField("b", ByteType, nullable = true)))
}

/** DSv2 table over one resolved point-cloud dataset. */
class PointCloudTable(
    val kind: FormatKind,
    val resolved: ResolvedPointCloud,
    tableSchema: StructType,
    options: CaseInsensitiveStringMap,
    provider: PointCloudProvider)
  extends Table with SupportsRead with SupportsWrite {

  override def name(): String =
    s"graft-${kind.name}:${resolved.paths.take(3).mkString(",")}${if (resolved.paths.size > 3) ",…" else ""}"

  override def schema(): StructType = tableSchema

  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new PointCloudScanBuilder(kind, resolved, tableSchema,
      new CaseInsensitiveStringMap(
        (options.asScala ++ scanOptions.asScala).toMap.asJava), provider)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new PointCloudWriteBuilder(kind, options, info)
}

/** Path handling + id-column helpers shared by the providers. */
object PointCloudUtil {
  val FidCol = "fid"
  val PidCol = "pid"

  /** The paths the user supplied: `paths` JSON array (multi-path load) or
    * single `path`. */
  def explicitPaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map { json =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readValue(json, classOf[Array[String]]).toSeq
    }.getOrElse(Nil)
    val single = Option(options.get("path")).toSeq
    (multi ++ single).distinct
  }

  /** Expand globs and directories to a deterministic file list; directory
    * listings keep only this format's extension and skip hidden files. */
  def expandPaths(paths: Seq[String], kind: FormatKind, conf: Configuration): Seq[String] = {
    paths.flatMap { s =>
      val p = new Path(s)
      val fs = p.getFileSystem(conf)
      val matches = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      matches.flatMap { st =>
        if (st.isDirectory) {
          fs.listStatus(st.getPath).toSeq
            .filter(f => f.isFile && {
              val n = f.getPath.getName
              !n.startsWith("_") && !n.startsWith(".") && {
                val lower = n.toLowerCase
                kind.extensions.exists(lower.endsWith)
              }
            })
            .map(_.getPath.toString).sorted
        } else Seq(st.getPath.toString)
      }
    }.distinct
  }

  /** Prefix the generated id columns, with the full path list stamped on
    * fid's metadata (used to name outputs after their source file, as the
    * reference does — BinarySectionRelation.scala:138-143). */
  def withIdColumns(dataSchema: StructType, paths: Seq[String]): StructType = {
    val fidMeta = new MetadataBuilder().putStringArray("paths", paths.toArray).build()
    StructType(
      StructField(FidCol, IntegerType, nullable = false, fidMeta) +:
      StructField(PidCol, LongType, nullable = false) +:
      dataSchema.fields)
  }

  /** Option `name` as an integer, when set. `lookup` is asked for the
    * lower-cased name (the connector's option maps fold keys that way);
    * a malformed value fails naming the option. */
  def intOption(lookup: String => Option[String], name: String): Option[Int] =
    lookup(name.toLowerCase(java.util.Locale.ROOT)).map(intValue(name, _))

  /** `s` as an integer; a malformed value fails naming `name`, where the
    * value came from. */
  def intValue(name: String, s: String): Int =
    try s.trim.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$name '$s' is not an integer")
    }

  /** Schema smuggled through options by the write/read sugar (DSv2's
    * path-based write calls inferSchema on a possibly-empty target). */
  def writeSchema(options: CaseInsensitiveStringMap): Option[StructType] =
    Option(options.get("__schema")).map(DataType.fromJson(_).asInstanceOf[StructType])

  /** `option("widenUnsigned","true")`: fields the format stores unsigned
    * (marked with `unsigned` metadata by the header codecs) widen one
    * step and decode zero-extended, so u8 0xFF reads as 255 instead of
    * wrapping to -1 (SURVEY §7.5). u64 stays long (no wider primitive). */
  def widenUnsigned(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (f.metadata.contains("unsigned") && f.metadata.getBoolean("unsigned"))
        f.copy(dataType = f.dataType match {
          case ByteType => ShortType
          case ShortType => IntegerType
          case IntegerType => LongType
          case other => other
        })
      else f
    })
}
