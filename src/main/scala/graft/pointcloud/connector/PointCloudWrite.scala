package graft.pointcloud.connector

import java.io.{BufferedOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import graft.pointcloud.RecordEncoder
import graft.pointcloud.las.{LasExtraBytes, LasHeader}
import graft.pointcloud.ply.{PlyElement, PlyHeader}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 write path for the three formats (reference K1–K6, SURVEY §2.2).
  *
  * Every task writes its own output file(s) under the target directory —
  * there is no driver-side data movement except PLY's optional
  * single-file merge (`option("merge","true")`, mirroring the reference's
  * commit-time merge, ply/PlyRelation.scala:31-88). Task temp files are
  * finalized in `DataWriter.commit()`, which Spark's commit coordinator
  * guards against speculative duplicates.
  */
class PointCloudWriteBuilder(
    kind: FormatKind,
    options: CaseInsensitiveStringMap,
    info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    private def targetPath: String = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(s"${kind.name} write requires a path"))

    override def toBatch: BatchWrite = {
      import scala.jdk.CollectionConverters._
      // CaseInsensitiveStringMap stores keys lowercased — every downstream
      // lookup on this map must use lowercase keys
      new PointCloudBatchWrite(kind, targetPath, info.schema(), options.asScala.toMap,
        info.queryId(), doTruncate)
    }

    override def toStreaming: streaming.StreamingWrite = {
      import scala.jdk.CollectionConverters._
      val opts = options.asScala.toMap
      require(!doTruncate,
        s"streaming ${kind.name} writes support append mode only")
      require(!opts.contains("keycolumn") && !opts.get("merge").contains("true"),
        s"keyColumn/merge are batch-only ${kind.name} write options")
      new PointCloudStreamingWrite(kind, targetPath, info.schema(), opts, info.queryId())
    }
  }
}

/** Streaming sink: each micro-batch's task files land as
  * `epoch-<e>-q<token>-part-<pid>-<tid>.<ext>` — self-contained files,
  * so a live directory is readable (batch or stream) while the query
  * runs. Epoch commit is an ATOMIC REPLACE of that epoch's file set:
  * stale same-epoch files from a previously failed attempt (driver died
  * between sink commit and offset-log commit, epoch replayed) are
  * deleted, keeping exactly the committed attempt's outputs — the same
  * idempotence contract Spark's built-in file sink gets from its
  * manifest, achieved here by the epoch+token prefix alone because every
  * task file is self-contained.
  *
  * `<token>` is derived from the STREAMING QUERY ID (the id in
  * checkpoint metadata — stable across restarts from the same
  * checkpoint, fresh for a fresh checkpoint), so the replay sweep is
  * scoped to this query's own files: a query restarted with a new
  * checkpoint (epochs back at 0) or a second query landing in the same
  * directory can never delete another run's committed data. Spark's
  * manifest file sink forbids that sharing outright; here the directory
  * is a safe multi-query landing zone. */
class PointCloudStreamingWrite(
    kind: FormatKind,
    path: String,
    schema: StructType,
    options: Map[String, String],
    queryId: String)
  extends streaming.StreamingWrite {

  private val token = PointCloudStreamingWrite.queryToken(queryId)

  private def fs(): FileSystem = new Path(path).getFileSystem(LocalIo.conf)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory = {
    fs().mkdirs(new Path(path))
    PointCloudStreamingWriterFactory(kind, path, schema.json, options, queryId)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val f = fs()
    val committed = messages.filter(_ != null)
      .flatMap(WriterUtil.outputPaths).map(new Path(_).getName).toSet
    // name-prefix filter scoped to THIS query's files for THIS epoch —
    // foreign tokens/epochs are never even candidates. A PathFilter over
    // listStatus rather than globStatus: Hadoop's globber filters
    // client-side anyway (no cost difference), and a literal startsWith
    // cannot be derailed by glob metacharacters in the sink directory
    // name. Token-scoped only: a file without this query's token (another
    // query's, or any tokenless name) is never swept, preserving the
    // "can never delete another run's committed data" guarantee.
    val tokenPrefix = s"epoch-$epochId-q$token-"
    val stale = Option(f.listStatus(new Path(path),
      new org.apache.hadoop.fs.PathFilter {
        override def accept(p: Path): Boolean = {
          val n = p.getName
          kind.extensions.exists(n.endsWith) && n.startsWith(tokenPrefix)
        }
      })).getOrElse(Array.empty)
    stale.foreach { st =>
      if (!committed.contains(st.getPath.getName)) f.delete(st.getPath, false)
    }
    // epochs are sequential in micro-batch execution: the shared task-temp
    // dir holds only this epoch's leftovers at commit time
    f.delete(new Path(path, s".graft-tmp-$queryId"), true)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val f = fs()
    messages.foreach(m => if (m != null) WriterUtil.deleteOutputs(f, m))
    f.delete(new Path(path, s".graft-tmp-$queryId"), true)
  }
}

object PointCloudStreamingWrite {
  /** File-name token identifying one streaming query: ALL of the query
    * id's filename-safe chars (the full UUID in practice — a truncated
    * prefix would make the "can't sweep another query's files" guarantee
    * merely probabilistic). Stable across restarts from the same
    * checkpoint — epoch replay after a crash still finds its own stale
    * files — and distinct per fresh checkpoint, which is what scopes the
    * replay sweep. */
  def queryToken(queryId: String): String = {
    val t = queryId.filter(_.isLetterOrDigit)
    if (t.nonEmpty) t else "x"
  }
}

case class PointCloudStreamingWriterFactory(
    kind: FormatKind,
    path: String,
    schemaJson: String,
    options: Map[String, String],
    queryId: String)
  extends streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    val tok = PointCloudStreamingWrite.queryToken(queryId)
    val base = Some(f"epoch-$epochId-q$tok-part-$partitionId%05d-$taskId")
    WriterUtil.dataWriter(kind, path, schema, options, queryId, partitionId, taskId, base)
  }
}

class PointCloudBatchWrite(
    kind: FormatKind,
    path: String,
    schema: StructType,
    options: Map[String, String],
    queryId: String,
    truncate: Boolean)
  extends BatchWrite {

  private def fs(): FileSystem = new Path(path).getFileSystem(LocalIo.conf)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val f = fs()
    val dir = new Path(path)
    f.mkdirs(dir)
    if (truncate) {
      // overwrite semantics: clear previous outputs of this format
      Option(f.listStatus(dir)).getOrElse(Array.empty).foreach { st =>
        val n = st.getPath.getName.toLowerCase
        if (kind.extensions.exists(n.endsWith) || n.startsWith(".graft-tmp-")) {
          f.delete(st.getPath, true)
        }
      }
    }
    // append-mode jobs mark themselves so task files carry a per-query
    // token (see WriterUtil.defaultBase): a fresh JVM's restarted task
    // ids must never collide with files a previous session landed
    val opts = if (truncate) options else options + ("__append" -> "true")
    PointCloudWriterFactory(kind, path, schema.json, opts, queryId)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    if (kind == FormatKind.Ply && options.get("merge").contains("true")) {
      mergePlyParts(messages)
    }
    // clean the task-temp dir
    fs().delete(new Path(path, s".graft-tmp-$queryId"), true)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val f = fs()
    // tasks that already committed produced final files — a job-level
    // abort must remove them too, or a failed job leaves partial output
    messages.foreach(m => if (m != null) WriterUtil.deleteOutputs(f, m))
    f.delete(new Path(path, s".graft-tmp-$queryId"), true)
  }

  /** Single-file PLY commit: merged header (counts summed) + concatenated
    * task bodies → `<dir>/points.ply` (reference ply/PlyRelation.scala:45-59
    * + package.scala:219-245). Driver-side IO — only for small outputs. */
  private def mergePlyParts(messages: Array[WriterCommitMessage]): Unit = {
    val parts = messages.collect { case m: PlyPartMessage if m.count > 0 => m }.sortBy(_.bodyPath)
    if (parts.isEmpty) return
    val f = fs()
    val element = options.getOrElse("element", "vertex")
    val littleEndian = !options.get("bigendian").contains("true")
    val elemSchema = DataType.fromJson(parts.head.schemaJson).asInstanceOf[StructType]
    val header = PlyHeader("", littleEndian, 0,
      Seq(PlyElement(element, parts.map(_.count).sum, elemSchema)))
    val out = f.create(new Path(path, "points.ply"), true)
    try {
      out.write(header.headerText.getBytes(StandardCharsets.US_ASCII))
      parts.foreach { m =>
        val in = f.open(new Path(m.bodyPath))
        try {
          val buf = new Array[Byte](1 << 20)
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
    } finally out.close()
  }
}

case class PointCloudWriterFactory(
    kind: FormatKind,
    path: String,
    schemaJson: String,
    options: Map[String, String],
    queryId: String)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    def plain(base: Option[String]): DataWriter[InternalRow] =
      WriterUtil.dataWriter(kind, path, schema, options, queryId, partitionId, taskId, base)
    options.get("keycolumn") match {
      case Some(kc) =>
        require(!options.get("merge").contains("true"),
          "keyColumn and merge are mutually exclusive (keyed writes are per-key files)")
        new KeyedDataWriter(path, schema, kc, b => plain(Some(b)))
      case None => plain(None)
    }
  }
}

case class LasPartMessage(path: String, count: Long) extends WriterCommitMessage
case class PlyPartMessage(bodyPath: String, count: Long, schemaJson: String)
  extends WriterCommitMessage
case class XyzPartMessage(path: String, count: Long) extends WriterCommitMessage
/** All per-key files a single keyed task produced. */
case class KeyedPartsMessage(parts: Seq[WriterCommitMessage]) extends WriterCommitMessage

private[pointcloud] object WriterUtil {
  /** The `kind` task writer, for the batch and the streaming factory. */
  def dataWriter(kind: FormatKind, path: String, schema: StructType,
      options: Map[String, String], queryId: String, partitionId: Int, taskId: Long,
      base: Option[String]): DataWriter[InternalRow] = kind match {
    case FormatKind.Las =>
      new LasDataWriter(path, schema, options, queryId, partitionId, taskId, base)
    case FormatKind.Ply =>
      new PlyDataWriter(path, schema, options, queryId, partitionId, taskId, base)
    case FormatKind.Xyz =>
      new XyzDataWriter(path, schema, options, queryId, partitionId, taskId, base)
  }

  /** Shared `scale`/`offset` option parsing (one value broadcasts to
    * all three axes; short lists pad with the default). The COPC cube
    * derivation (`syntax.writeCopc`) MUST interpret these exactly as
    * the writer will — a divergence puts the cube in a different world
    * frame and every point is rejected at write time (or clamps into
    * the wrong voxel), so both sites share THIS parser. */
  def parse3(lookup: String => Option[String], key: String,
      default: Double): Array[Double] =
    lookup(key) match {
      case Some(s) =>
        val parts = s.split(',').map(_.trim.toDouble)
        if (parts.length == 1) Array.fill(3)(parts(0))
        else parts.take(3).padTo(3, default)
      case None => Array.fill(3)(default)
    }

  /** The `copc.level` option (the octree leaf level), when set: an
    * integer in 0..[[graft.pointcloud.las.laz.Copc.MaxLevel]]. Shared by
    * the writer and `syntax.writeCopc`, which derives its voxel sort from
    * the same level. */
  def copcLevel(lookup: String => Option[String]): Option[Int] =
    PointCloudUtil.intOption(lookup, "copc.level").map { l =>
      require(l >= 0 && l <= graft.pointcloud.las.laz.Copc.MaxLevel,
        s"copc.level must be in 0..${graft.pointcloud.las.laz.Copc.MaxLevel}, got $l")
      l
    }

  /** Default task-file base name. Append-mode jobs (the `__append`
    * marker set by [[PointCloudBatchWrite]]) additionally carry a
    * query-derived token: task ids restart per SparkContext, so a fresh
    * JVM appending into an old directory could otherwise reuse a
    * `part-<pid>-<tid>` name and the commit-time delete+rename would
    * silently REPLACE an existing file instead of landing beside it.
    * The FULL filename-safe queryId ([[PointCloudStreamingWrite.queryToken]]
    * — the same token the streaming sink embeds), never a truncated
    * prefix: a prefix carries ~5 bits per char, and a long-lived lake
    * taking thousands of appends would turn the "can never clobber an
    * earlier append's file" guarantee merely probabilistic. */
  def defaultBase(options: Map[String, String], queryId: String,
      partitionId: Int, taskId: Long): String = {
    val suffix =
      if (options.contains("__append"))
        "-" + PointCloudStreamingWrite.queryToken(queryId)
      else ""
    f"part-$partitionId%05d-$taskId$suffix"
  }

  /** The on-disk fields: input schema minus the generated id columns
    * (the reference's writers drop fid/pid too, ply/PlyOutputWriter.scala:49)
    * and, for keyed writes, minus the naming key column (it is encoded in
    * the file name, and may be a string, which no binary record carries). */
  def dataFields(schema: StructType, options: Map[String, String]): StructType = {
    val drop = Set(PointCloudUtil.FidCol, PointCloudUtil.PidCol) ++ options.get("keycolumn")
    StructType(schema.fields.filterNot(f => drop.contains(f.name)))
  }

  /** Final output path(s) a commit message points at. */
  def outputPaths(m: WriterCommitMessage): Seq[String] = m match {
    case LasPartMessage(p, _) => Seq(p)
    case PlyPartMessage(p, _, _) => Seq(p)
    case XyzPartMessage(p, _) => Seq(p)
    case KeyedPartsMessage(parts) => parts.flatMap(outputPaths)
    case _ => Nil
  }

  /** Delete the final output(s) a commit message points at (job-abort and
    * keyed-task-abort share this). */
  def deleteOutputs(fs: FileSystem, m: WriterCommitMessage): Unit = m match {
    case LasPartMessage(p, _) => fs.delete(new Path(p), false)
    case PlyPartMessage(p, _, _) => fs.delete(new Path(p), false)
    case XyzPartMessage(p, _) => fs.delete(new Path(p), false)
    case KeyedPartsMessage(parts) => parts.foreach(deleteOutputs(fs, _))
    case _ => // uncommitted tasks surface as nulls
  }
}

/** One self-contained output file per distinct key value, written in a
  * single pass: rows arrive clustered and sorted by the key column (the
  * `writeKeyed` sugar guarantees it), and the writer rolls to a fresh
  * delegate named `<key>.<ext>` whenever the key changes — the
  * reference's `$key.las` per-partition naming (K2, las/package
  * .scala:45-98) without its driver-side rename loop or per-key job. A
  * key that reappears after its run closed means the input was not
  * clustered — fail fast rather than silently overwrite. */
class KeyedDataWriter(
    dir: String,
    inputSchema: StructType,
    keyColumn: String,
    mkDelegate: String => DataWriter[InternalRow])
  extends DataWriter[InternalRow] {

  private val keyOrd = inputSchema.fieldNames.indexOf(keyColumn)
  require(keyOrd >= 0, s"keyColumn '$keyColumn' is not in the input schema")
  private val keyType = inputSchema.fields(keyOrd).dataType

  private var currentKey: String = null
  private var current: DataWriter[InternalRow] = null
  private val seen = scala.collection.mutable.HashSet.empty[String]
  private val done = scala.collection.mutable.ArrayBuffer.empty[WriterCommitMessage]

  private def fileBase(key: String): String =
    key.replaceAll("[^A-Za-z0-9._=@-]", "_")

  override def write(row: InternalRow): Unit = {
    val k = if (row.isNullAt(keyOrd)) "null" else row.get(keyOrd, keyType).toString
    if (currentKey == null || k != currentKey) {
      if (current != null) { done += current.commit(); current.close() }
      require(seen.add(k),
        s"key '$k' reappeared after its run closed — keyed writes need input " +
          s"clustered and sorted by '$keyColumn' (use the writeKeyed sugar)")
      currentKey = k
      current = mkDelegate(fileBase(k))
    }
    current.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (current != null) { done += current.commit(); current.close(); current = null }
    KeyedPartsMessage(done.toSeq)
  }

  override def abort(): Unit = {
    if (current != null) { current.abort(); current = null }
    // per-key files already finalized by this task must not survive a
    // task abort — they never reach the job-level abort's message list
    val fs = new Path(dir).getFileSystem(LocalIo.conf)
    done.foreach(WriterUtil.deleteOutputs(fs, _))
  }

  override def close(): Unit = { if (current != null) current.close() }
}

/** Streams records to a temp body file while accumulating header stats in
  * one pass (pmin/pmax per axis from scaled x/y/z, count-by-return), then
  * finalizes `<dir>/part-<pid>-<tid>.las` = header [+ ExtraBytes VLR] +
  * body on task commit. Mirrors las/LasOutputWriter.scala:31-103 with
  * streaming stats (SURVEY O10). */
class LasDataWriter(
    dir: String,
    inputSchema: StructType,
    options: Map[String, String],
    queryId: String,
    partitionId: Int,
    taskId: Long,
    baseName: Option[String] = None)
  extends DataWriter[InternalRow] {

  private val dataSchema = WriterUtil.dataFields(inputSchema, options)

  private def intOption(name: String): Option[Int] =
    PointCloudUtil.intOption(options.get, name)

  private val format: Byte = intOption("lasFormat").map { f =>
    require(f >= 0 && f < LasHeader.schema.length,
      s"lasFormat must be a LAS point format 0..${LasHeader.schema.length - 1}, got $f")
    f.toByte
  }.getOrElse(LasHeader.formatFromSchema(StructType(dataSchema.fields.filter(f =>
      LasHeader.schema.exists(_.fields.exists(g =>
        g.name == f.name && g.dataType == f.dataType))))))

  private val baseSchema = LasHeader.schema(format.toInt)
  private val extraFields: Array[StructField] = dataSchema.fields.filterNot(f =>
    baseSchema.fields.exists(g => g.name == f.name && g.dataType == f.dataType))
  // a field whose name matches a base-format field but whose type doesn't
  // (e.g. intensity widened to int by widenUnsigned) would silently zero-fill
  // the base field and re-emit the column as a same-named ExtraBytes field —
  // fail fast instead, with the cast the caller needs
  extraFields.find(f => baseSchema.fields.exists(_.name == f.name)).foreach { f =>
    val base = baseSchema.fields.find(_.name == f.name).get
    throw new IllegalArgumentException(
      s"column '${f.name}' has type ${f.dataType.simpleString} but LAS format $format " +
        s"stores it as ${base.dataType.simpleString}; cast it back " +
        s"(e.g. col(\"${f.name}\").cast(\"${base.dataType.simpleString}\")) before writing")
  }
  private val fileSchema = StructType(baseSchema.fields ++ extraFields)

  private def parse3(key: String, default: Double): Array[Double] =
    WriterUtil.parse3(options.get, key, default)
  private val scale = parse3("scale", 1.0)
  private val offset = parse3("offset", 0.0)
  // `major` (or the prefix of a dotted `version`) is accepted and
  // validated — every published LAS release is major 1, so anything else
  // is a caller error, not a new file flavor (the reference reads the
  // option too, las/package.scala:31-33, but swaps it into minor)
  options.get("major")
    .orElse(options.get("version").filter(_.contains('.')).map(_.split('.').head))
    .foreach { m =>
      require(m.trim.toByte == 1,
        s"LAS major version must be 1 (got '$m'); only minor is selectable")
    }
  private val minorOpt: Byte =
    options.get("minor").orElse(options.get("version").map(_.split('.').last)).map(_.toByte)
      .getOrElse(if (extraFields.nonEmpty) 4.toByte else 2.toByte)

  // `compress=laz`: LASzip-compressed output (.laz) — records buffer
  // into fixed-size chunks, each chunk entropy-coded and streamed to the
  // task body; the header/VLR/chunk-table assemble at commit. The raw
  // record bytes the chunk encoder consumes are EXACTLY what the .las
  // path writes, so both sinks share RecordEncoder and the stats pass.
  private val compressLaz = options.get("compress").exists(_.equalsIgnoreCase("laz"))
  if (compressLaz) {
    require(graft.pointcloud.las.laz.Laz.supportsFormat(format),
      s"LAZ write supports point formats 0-10, got format $format")
    // ExtraBytes columns ride as the BYTE item; their field layout must
    // be byte-typed-size-derivable like the uncompressed path already
    // guarantees via the ExtraBytes VLR
  }
  // `laz.chunkPlan` (comma-separated point counts, cycled) switches the
  // sink to VARIABLE chunking: VLR chunk size −1, per-chunk point counts
  // in the chunk table — the spatially-indexed layout, and the write
  // twin of the reader's variable-table support
  // laz.* options are parsed and validated ONLY under compress=laz: an
  // uncompressed write sharing an options map with a .laz job must not
  // reject (or even parse) settings that are meaningless for it
  private val lazChunkPlan: Array[Int] =
    if (!compressLaz) Array.empty
    else options.get("laz.chunkplan") match {
      case Some(plan) =>
        val entries = plan.split(',').map(_.trim)
        require(entries.nonEmpty && entries.forall(_.nonEmpty),
          s"laz.chunkPlan must be comma-separated point counts, got '$plan'")
        entries.map(PointCloudUtil.intValue("laz.chunkPlan entry", _))
      case None => Array.empty
    }
  // `copc.cube` (= "cx,cy,cz,halfsize", the octree cube in WORLD
  // coordinates) switches the laz sink to the COPC layout: chunk
  // boundaries follow the level-`copc.level` voxel key of each record
  // (variable chunking), and commit emits the `copc` info VLR + octree
  // hierarchy EVLR that give readers per-chunk spatial bounds for
  // planner-side chunk skipping. The cube MUST enclose every written
  // point — enforced per record below, because the reader trusts the
  // declared octree the way parquet readers trust row-group stats. Use
  // `writeCopc` (syntax.scala), which derives an enclosing cube and a
  // density-matched level in one columnar pass. A node whose points
  // overflow `copc.chunkcap` splits LEVEL-LOCALLY into child voxels
  // (single-entry keys — see the copcSplittable block below); only the
  // non-splittable paths fall back to several chunks sharing one key,
  // which readers that sum entries per key (ours) still read whole.
  private val copcCube: Array[Double] =
    if (!compressLaz) null
    else options.get("copc.cube") match {
      case Some(s) =>
        val parts = s.split(',').map(_.trim.toDouble)
        require(parts.length == 4,
          s"copc.cube must be 'cx,cy,cz,halfsize', got '$s'")
        require(parts(3) > 0, s"copc.cube halfsize must be positive, got ${parts(3)}")
        parts
      case None => null
    }
  private val copc = copcCube != null
  private val copcLevel: Int =
    if (!copc) 0 else WriterUtil.copcLevel(options.get).getOrElse(0)
  // `copc.lod = true`: distribute points across octree LEVELS 0..copcLevel
  // by the deterministic hash of the raw coordinates (Copc.lodHash /
  // lodLevel) — the published-COPC shape where coarse levels hold a
  // subsample, enabling the `copc.maxlevel` approximate read. Chunk keys
  // then pack (level, voxel-at-level).
  private val copcLod: Boolean =
    copc && options.get("copc.lod").exists(_.toBoolean)
  // `copc.pageentries`: per-PAGE hierarchy entry budget — past it the
  // hierarchy EVLR splits into the published page graph (root page +
  // child-page references) instead of one monolithic root page, so a
  // streaming viewer fetches only the pages along its descent path.
  // Default = the reader's page bound: a single root page, the exact
  // pre-paging bytes (paging is opt-in and byte-invisible until then).
  private val copcPageEntries: Int =
    if (!copc) 0
    else {
      val pe = intOption("copc.pageEntries")
        .getOrElse(graft.pointcloud.las.laz.Copc.MaxEntries)
      require(pe > 0, s"copc.pageEntries must be positive, got $pe")
      pe
    }
  if (copc) {
    require(format >= 6 && format <= 8,
      s"COPC requires point format 6-8 (layered LAZ), got format $format")
    require(lazChunkPlan.isEmpty, "copc.cube and laz.chunkPlan are exclusive " +
      "(COPC chunk boundaries follow the octree, not a fixed plan)")
    require(!copcLod || copcLevel <= graft.pointcloud.las.laz.Copc.MaxLodLevel,
      s"copc.lod requires copc.level <= ${graft.pointcloud.las.laz.Copc.MaxLodLevel}, got $copcLevel")
  }
  private val lazVariable = lazChunkPlan.nonEmpty || copc
  private val lazChunkSize: Int =
    if (!compressLaz) 0
    else if (copc) {
      val cap = intOption("copc.chunkCap").getOrElse(1 << 16)
      require(cap > 0, s"copc.chunkCap must be positive, got $cap")
      cap
    }
    else if (lazVariable) lazChunkPlan.max
    else intOption("laz.chunkSize").getOrElse(graft.pointcloud.las.laz.Laz.DefaultChunkSize)
  if (compressLaz) {
    require(lazVariable || lazChunkSize > 0,
      s"laz.chunkSize must be positive, got $lazChunkSize")
    require(!lazVariable || lazChunkPlan.forall(_ > 0),
      s"laz.chunkPlan entries must be positive, got ${lazChunkPlan.mkString(",")}")
    // mirror the reader's resolve-time bound: past 2^24 points the chunk
    // buffer's Int byte product can overflow, and the produced file would
    // be rejected by this project's own Laz.infoFor
    require(lazChunkSize <= (1 << 24),
      s"laz chunk size $lazChunkSize exceeds the ${1 << 24}-point chunk bound")
  }
  // Chunkcap-overflow SPLITTING (the published one-entry-per-node
  // shape): a voxel run overflowing copc.chunkcap used to emit several
  // cap-sized chunks SHARING one hierarchy key — readable by this
  // repo's entry-summing reader but off-spec for foreign tools. On the
  // splittable path (non-LOD, leaf level deep enough to descend) the
  // writer now buffers the whole run and, past the cap, counting-sorts
  // it LEVEL-LOCALLY into child voxels (recursively) so every
  // hierarchy key stays single-entry. LOD layouts keep the old
  // encoding (splitting an interior subsample level into children
  // would collide with the real child-level data). Runs longer than
  // `copc.overflowbuffer` points (default 8× the cap) SPILL to a
  // task-local temp file and split from disk ([[emitRunFromFile]]), so
  // single-entry keys hold UNCONDITIONALLY — the option now only sizes
  // the in-memory buffer, it no longer changes the encoding. The sole
  // remaining multi-entry residue is a >cap voxel at the depth bound
  // (level 19 — a cube side of 2·halfsize/2^19).
  //
  // DECLARATION ORDER MATTERS: these read `lazChunkSize`, so they must
  // initialize after it — a forward reference to a later val reads 0
  // in Scala's in-order class initialization, and a 0 default here
  // zeroed the grown run buffer at 10x scale (caught by the r16 probe).
  private val copcSplittable: Boolean =
    copc && !copcLod && copcLevel < graft.pointcloud.las.laz.Copc.MaxLodLevel
  private val copcOverflowPoints: Int =
    if (!copcSplittable) 0
    else {
      require(lazChunkSize > 0, s"chunk cap must be set before the overflow bound")
      // the default must never fall below the cap itself: chunkcap may
      // legally reach 2^24, and a sub-cap default would abort the write
      // with a message about an option the user never set — the
      // require below exists to reject an EXPLICITLY too-small option
      val ob = intOption("copc.overflowBuffer").getOrElse(math.max(lazChunkSize.toLong,
        math.min(8L * lazChunkSize, 1L << 22)).toInt)
      require(ob >= lazChunkSize,
        s"copc.overflowBuffer must be >= the chunk cap $lazChunkSize, got $ob")
      ob
    }

  private val conf = LocalIo.conf
  private val base = baseName.getOrElse(
    WriterUtil.defaultBase(options, queryId, partitionId, taskId))
  private val finalPath = new Path(dir, s"$base.${if (compressLaz) "laz" else "las"}")
  private val tmpPath = new Path(dir, s".graft-tmp-$queryId/$base-$partitionId-$taskId.pdr")
  private val fs = finalPath.getFileSystem(conf)
  private val body = new DataOutputStream(new BufferedOutputStream(LocalIo.create(fs, tmpPath), 1 << 16))

  private val encoder = new RecordEncoder(fileSchema, inputSchema, littleEndian = true)

  // chunk state (laz only): records accumulate raw, flush per chunk
  private val lazEncoder =
    if (compressLaz)
      new graft.pointcloud.las.laz.LazChunkEncoder(format, encoder.recordLength)
    else null
  // bound the PRODUCT, not just the point count: a wide record (format 8
  // plus ExtraBytes) at the maximum chunk size can overflow the Int byte
  // product (2^24 * 128 = 2^31) into a NegativeArraySizeException — or
  // worse, wrap to a too-small positive buffer that AIOOBEs mid-write
  if (compressLaz)
    require(lazChunkSize.toLong * encoder.recordLength <= Int.MaxValue,
      s"laz chunk geometry $lazChunkSize points x ${encoder.recordLength}-byte " +
        "records overflows the Int chunk-buffer size; lower laz.chunkSize")
  if (copcSplittable)
    require(copcOverflowPoints.toLong * encoder.recordLength <= Int.MaxValue,
      s"copc.overflowBuffer $copcOverflowPoints points x ${encoder.recordLength}-byte " +
        "records overflows the Int run-buffer size; lower copc.overflowBuffer")
  // the splittable COPC path grows this buffer up to copcOverflowPoints
  // records to hold a whole voxel run; every other path keeps the fixed
  // cap-sized allocation
  private var chunkBuf: Array[Byte] =
    if (compressLaz) new Array[Byte](lazChunkSize * encoder.recordLength) else null
  private var runScratch: Array[Byte] = null
  private var chunkFill = 0
  // spilled-run state (splittable COPC path): a voxel run past the
  // in-memory overflow bound streams to a task-local temp file, so even
  // an arbitrarily dense voxel still splits LEVEL-LOCALLY into
  // single-entry child keys — the old memory-bound fallback re-shared
  // hierarchy keys, the one foreign-reader caveat this removes. The
  // spill lives on the JVM temp dir (task-local scratch disk, the same
  // class of storage a shuffle spill uses), costs one sequential
  // write + O(depth) sequential passes, and only ever exists while ONE
  // overflowing run is open.
  private var runSpillPath: java.nio.file.Path = null
  private var runSpillOut: java.io.OutputStream = null
  private var runSpillCount: Long = 0L
  private val chunkByteCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val chunkPointCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
  // current chunk's target point count: fixed, the plan entry (cycled),
  // or the COPC node capacity (boundaries then follow the voxel key)
  private def chunkTarget: Int =
    if (copc || !lazVariable) lazChunkSize
    else lazChunkPlan(chunkByteCounts.length % lazChunkPlan.length)

  // COPC state: the open chunk's packed voxel key (valid when
  // chunkFill > 0), per-flushed-chunk keys for the hierarchy, and the
  // streamed gpstime range for the info VLR
  private var copcCurKey = 0L
  private val copcChunkKeys = scala.collection.mutable.ArrayBuffer.empty[Long]
  private val copcTimeOrd: Int =
    if (!copc) -1
    else inputSchema.fields.indexWhere(f => f.name == "time" && f.dataType == DoubleType)
  private var copcGpsMin = Double.PositiveInfinity
  private var copcGpsMax = Double.NegativeInfinity
  // a null time ENCODES as raw 0.0 and reads back as time=0.0, so a file
  // mixing null and non-null times must widen its gps range to include
  // 0.0 — a range built from the non-null values alone could whole-file-
  // skip a pushed `time <= t` predicate that the record predicate would
  // match on the null rows' encoded zeros
  private var copcSawNullTime = false
  // voxel geometry (derived once): cube min per axis and node side —
  // per LEVEL, so the per-record key path never divides or allocates
  private val copcSideAt: Array[Double] =
    if (copc) Array.tabulate(copcLevel + 1)(l => 2.0 * copcCube(3) / (1 << l))
    else null
  private val copcMin: Array[Double] =
    if (copc) Array.tabulate(3)(a => copcCube(a) - copcCube(3)) else null
  // boundary tolerance: fp assembly of the cube from a bbox pass can
  // land the extreme point a few ulps outside; within this slack the
  // point clamps into the edge voxel, past it the cube is a caller lie.
  // Capped per axis at ONE raw quantum — the reader widens each node's
  // bounds by exactly one quantum (Copc.fillDim), so any larger
  // admitted overflow could clamp into an edge voxel whose declared
  // bounds exclude the point's raw value, and a query on that value
  // would prune the chunk away (possible when halfsize/scale > 1e9).
  private val copcTol: Array[Double] =
    if (copc) Array.tabulate(3)(a => math.min(copcCube(3) * 1e-9, scale(a)))
    else null

  /** Packed level-`copcLevel` voxel key of a row (raw ints decode
    * through the same scale/offset the reader will apply; nulls encode
    * as raw 0, so the key matches the bytes actually written). Rejects
    * points outside the declared cube — the invariant chunk pruning
    * trusts. */
  private def copcKeyOf(row: InternalRow): Long = {
    val copcImport = graft.pointcloud.las.laz.Copc
    // three scalar reads, no per-record allocation (this runs per point
    // in the sink's hot loop)
    val o0 = xyzOrd(0); val o1 = xyzOrd(1); val o2 = xyzOrd(2)
    val r0 = if (o0 >= 0 && !row.isNullAt(o0)) row.getInt(o0) else 0
    val r1 = if (o1 >= 0 && !row.isNullAt(o1)) row.getInt(o1) else 0
    val r2 = if (o2 >= 0 && !row.isNullAt(o2)) row.getInt(o2) else 0
    // LOD: the row's level is a deterministic function of its raw
    // coordinates, so the oracle (or any external system) can re-derive
    // the exact level split with integer arithmetic
    val lvl =
      if (!copcLod) copcLevel
      else copcImport.lodLevel(copcImport.lodHash(r0, r1, r2), copcLevel)
    val side = copcSideAt(lvl)
    var key = 0L
    var a = 0
    while (a < 3) {
      val raw = if (a == 0) r0 else if (a == 1) r1 else r2
      val w = raw * scale(a) + offset(a)
      if (w < copcMin(a) - copcTol(a) || w > copcMin(a) + 2.0 * copcCube(3) + copcTol(a))
        throw new IllegalArgumentException(
          f"point ${"xyz".charAt(a)}%c=$w%.6f outside the declared copc.cube " +
            f"[${copcMin(a)}%.6f, ${copcMin(a) + 2.0 * copcCube(3)}%.6f]; " +
            "the cube must enclose every written point (writeCopc derives one)")
      val idx = copcImport.voxelIdx(w, copcMin(a), side, lvl)
      key = (key << lvl) + idx
      a += 1
    }
    if (copcLod) copcImport.packLodKey(lvl, key) else key
  }

  private def flushChunk(): Unit = {
    if (chunkFill > 0) {
      val chunk = lazEncoder.encode(chunkBuf, 0, chunkFill)
      body.write(chunk)
      chunkPointCounts += chunkFill.toLong
      chunkByteCounts += chunk.length.toLong
      if (copc) copcChunkKeys += copcCurKey
      chunkFill = 0
    }
  }

  /** Flush the buffered voxel RUN (splittable COPC path): a run within
    * the chunk cap emits one chunk under its leaf key — the common
    * case, chunk-for-chunk identical to the pre-splitting layout — and
    * an overflowing run splits LEVEL-LOCALLY into child voxels
    * ([[emitRun]]) so every hierarchy key stays single-entry, the
    * published one-entry-per-node COPC shape. */
  private def flushRun(): Unit = {
    val spilled = runSpillOut != null
    if (spilled) {
      // the run outgrew the in-memory bound and has been streaming to a
      // temp file: land the buffered residue, then split the WHOLE run
      // from disk — single-entry keys regardless of run length
      if (chunkFill > 0) spillRun()
      runSpillOut.close()
      runSpillOut = null
      val file = runSpillPath
      val total = runSpillCount
      runSpillPath = null
      runSpillCount = 0L
      emitRunFromFile(file, total, copcLevel, copcCurKey)
    } else if (chunkFill > 0) {
      emitRun(0, chunkFill, copcLevel, copcCurKey)
    }
    if (chunkFill > 0 || runScratch != null || spilled) {
      chunkFill = 0
      // an oversized run grew the buffers up to the overflow bound
      // (spilled runs reach it even when every subtree then emitted
      // without a counting sort — chunkFill zeroed, runScratch never
      // allocated); shrink back to the steady-state cap so one dense
      // voxel doesn't pin that footprint for the task's whole lifetime
      // (x concurrent writer tasks per executor)
      val capBytes = lazChunkSize * encoder.recordLength
      if (chunkBuf.length > capBytes) chunkBuf = new Array[Byte](capBytes)
      runScratch = null
    }
  }

  /** Append the buffered records to the open run-spill file (opening it
    * on first overflow) and recycle the in-memory buffer. */
  private def spillRun(): Unit = {
    val rl = encoder.recordLength
    if (runSpillOut == null) {
      runSpillPath = java.nio.file.Files.createTempFile("graft-copc-run", ".spill")
      runSpillOut = new java.io.BufferedOutputStream(
        java.nio.file.Files.newOutputStream(runSpillPath), 1 << 16)
    }
    runSpillOut.write(chunkBuf, 0, chunkFill * rl)
    runSpillCount += chunkFill
    chunkFill = 0
  }

  /** [[emitRun]] for a run that lives in a SPILL FILE: a subtree that
    * fits the in-memory bound loads and splits in memory; a larger one
    * pays one sequential classification pass that partitions it into
    * ≤ 8 child spill files and recurses a level deeper. Total IO is the
    * run size × the levels until each subtree fits memory — the
    * counting-sort recursion of [[emitRun]] restated on files. The only
    * residue that can still share a hierarchy key is a single voxel AT
    * THE DEPTH BOUND holding more than a chunk cap — level
    * [[graft.pointcloud.las.laz.Copc.MaxLodLevel]], a cube side of
    * 2·halfsize/2^19. Deletes `file` before returning. */
  private def emitRunFromFile(file: java.nio.file.Path, count: Long,
      level: Int, key: Long): Unit = {
    val copcImport = graft.pointcloud.las.laz.Copc
    val rl = encoder.recordLength
    try {
      if (count <= copcOverflowPoints) {
        val bytes = (count * rl).toInt
        if (chunkBuf.length < bytes) chunkBuf = new Array[Byte](bytes)
        val in = java.nio.file.Files.newInputStream(file)
        try {
          var off = 0
          while (off < bytes) {
            val n = in.read(chunkBuf, off, bytes - off)
            require(n > 0, s"run spill truncated at $off of $bytes bytes")
            off += n
          }
        } finally in.close()
        emitRun(0, count.toInt, level, key)
      } else if (level >= copcImport.MaxLodLevel) {
        // depth bound: stream the file out as cap-sized chunks under
        // this deepest key — the one remaining multi-entry residue
        val in = new java.io.BufferedInputStream(
          java.nio.file.Files.newInputStream(file), 1 << 16)
        try {
          var left = count
          while (left > 0) {
            val n = math.min(chunkTarget.toLong, left).toInt
            var off = 0
            while (off < n * rl) {
              val r = in.read(chunkBuf, off, n * rl - off)
              require(r > 0, s"run spill truncated at $off of ${n * rl} bytes")
              off += r
            }
            val chunk = lazEncoder.encode(chunkBuf, 0, n)
            body.write(chunk)
            chunkPointCounts += n.toLong
            chunkByteCounts += chunk.length.toLong
            copcChunkKeys += copcImport.packLodKey(level, key)
            left -= n
          }
        } finally in.close()
      } else {
        val (kx, ky, kz) = copcImport.unpackKey(key, level)
        val childLevel = level + 1
        val side = 2.0 * copcCube(3) / (1 << childLevel)
        val paths = new Array[java.nio.file.Path](8)
        val outs = new Array[java.io.OutputStream](8)
        val cnt = new Array[Long](8)
        // if the classification pass or a child recursion throws, the
        // already-created sibling child spill files must not leak on the
        // JVM temp dir (abort() only reaps runSpillPath) — reap them all
        // here; children that completed deleted their own file already,
        // so deleteIfExists is a no-op for them
        try {
        val in = new java.io.BufferedInputStream(
          java.nio.file.Files.newInputStream(file), 1 << 16)
        try {
          val blockRecs = math.max(1, chunkBuf.length / rl)
          var left = count
          while (left > 0) {
            val n = math.min(blockRecs.toLong, left).toInt
            var off = 0
            while (off < n * rl) {
              val r = in.read(chunkBuf, off, n * rl - off)
              require(r > 0, s"run spill truncated at $off of ${n * rl} bytes")
              off += r
            }
            var i = 0
            while (i < n) {
              val o = octantOf(chunkBuf, i * rl, kx, ky, kz, side, childLevel)
              if (outs(o) == null) {
                paths(o) = java.nio.file.Files.createTempFile("graft-copc-run", ".spill")
                outs(o) = new java.io.BufferedOutputStream(
                  java.nio.file.Files.newOutputStream(paths(o)), 1 << 16)
              }
              outs(o).write(chunkBuf, i * rl, rl)
              cnt(o) += 1
              i += 1
            }
            left -= n
          }
        } finally {
          in.close()
          outs.foreach(o => if (o != null) o.close())
        }
        java.nio.file.Files.deleteIfExists(file)
        var o = 0
        while (o < 8) {
          if (cnt(o) > 0) {
            val bx = (o >> 2) & 1
            val by = (o >> 1) & 1
            val bz = o & 1
            val ck = copcImport.packKey(2 * kx + bx, 2 * ky + by, 2 * kz + bz, childLevel)
            emitRunFromFile(paths(o), cnt(o), childLevel, ck)
          }
          o += 1
        }
        } finally {
          paths.foreach { p =>
            if (p != null) {
              try java.nio.file.Files.deleteIfExists(p)
              catch { case _: Exception => }
            }
          }
        }
      }
    } finally {
      try java.nio.file.Files.deleteIfExists(file)
      catch { case _: Exception => }
    }
  }

  /** The child OCTANT of the record at `base` (same ±1-quantum clamp
    * discipline as the leaf key), shared by the in-memory and spilled
    * counting sorts. */
  private def octantOf(buf: Array[Byte], base: Int, kx: Int, ky: Int,
      kz: Int, side: Double, childLevel: Int): Int = {
    val copcImport = graft.pointcloud.las.laz.Copc
    var o = 0
    var a = 0
    while (a < 3) {
      val raw = (buf(base + 4 * a) & 0xff) |
        ((buf(base + 4 * a + 1) & 0xff) << 8) |
        ((buf(base + 4 * a + 2) & 0xff) << 16) |
        ((buf(base + 4 * a + 3) & 0xff) << 24)
      val w = raw * scale(a) + offset(a)
      val p = if (a == 0) kx else if (a == 1) ky else kz
      var ci = copcImport.voxelIdx(w, copcMin(a), side, childLevel)
      if (ci < 2 * p) ci = 2 * p else if (ci > 2 * p + 1) ci = 2 * p + 1
      o = (o << 1) | (ci - 2 * p)
      a += 1
    }
    o
  }

  /** Emit `count` buffered records (all inside voxel `key` at `level`)
    * as chunks: within the cap (or at the depth bound) one chunk per
    * cap-slice under this key; past it, a stable counting sort by child
    * OCTANT partitions the records into the ≤ 8 child voxels and each
    * recurses one level deeper. The octant comes from the record's own
    * raw x/y/z re-derived through the same scale/offset voxel
    * arithmetic the leaf key used, clamped into the parent's octant
    * pair per axis — the same ±1-quantum edge discipline as the leaf
    * clamp, and the reader widens node bounds by exactly that quantum.
    * Chunk keys carry (level, voxel) packed LOD-style because split
    * chunks live DEEPER than the declared leaf level. */
  private def emitRun(startRec: Int, count: Int, level: Int, key: Long): Unit = {
    val copcImport = graft.pointcloud.las.laz.Copc
    val rl = encoder.recordLength
    if (count <= chunkTarget || level >= copcImport.MaxLodLevel) {
      var off = startRec
      var left = count
      while (left > 0) {
        val n = math.min(chunkTarget, left)
        val chunk = lazEncoder.encode(chunkBuf, off * rl, n)
        body.write(chunk)
        chunkPointCounts += n.toLong
        chunkByteCounts += chunk.length.toLong
        copcChunkKeys += copcImport.packLodKey(level, key)
        off += n
        left -= n
      }
    } else {
      val (kx, ky, kz) = copcImport.unpackKey(key, level)
      val childLevel = level + 1
      val side = 2.0 * copcCube(3) / (1 << childLevel)
      val oct = new Array[Byte](count)
      val cnt = new Array[Int](8)
      var i = 0
      while (i < count) {
        val o = octantOf(chunkBuf, (startRec + i) * rl, kx, ky, kz, side, childLevel)
        oct(i) = o.toByte
        cnt(o) += 1
        i += 1
      }
      val startOfs = new Array[Int](8)
      var acc = 0
      var o = 0
      while (o < 8) { startOfs(o) = acc; acc += cnt(o); o += 1 }
      if (runScratch == null || runScratch.length < count * rl)
        runScratch = new Array[Byte](count * rl)
      val cur = startOfs.clone()
      i = 0
      while (i < count) {
        val d = cur(oct(i))
        cur(oct(i)) += 1
        System.arraycopy(chunkBuf, (startRec + i) * rl, runScratch, d * rl, rl)
        i += 1
      }
      System.arraycopy(runScratch, 0, chunkBuf, startRec * rl, count * rl)
      o = 0
      while (o < 8) {
        if (cnt(o) > 0) {
          val bx = (o >> 2) & 1
          val by = (o >> 1) & 1
          val bz = o & 1
          val ck = copcImport.packKey(2 * kx + bx, 2 * ky + by, 2 * kz + bz, childLevel)
          emitRun(startRec + startOfs(o), cnt(o), childLevel, ck)
        }
        o += 1
      }
    }
  }

  // streaming stats
  private var count = 0L
  private val minRaw = Array.fill(3)(Long.MaxValue)
  private val maxRaw = Array.fill(3)(Long.MinValue)
  private val returnCounts = new Array[Long](15)
  private val xyzOrd: Array[Int] = Array("x", "y", "z").map(n =>
    inputSchema.fields.indexWhere(f => f.name == n && f.dataType == IntegerType))
  // return number: formats 0-5 carry it in flags bits 0-2; 6-10 in the
  // dedicated `return` byte, bits 0-3 (public LAS spec)
  private val returnOrd: Int =
    if (format <= 5) inputSchema.fields.indexWhere(f => f.name == "flags" && f.dataType == ByteType)
    else inputSchema.fields.indexWhere(f => f.name == "return" && f.dataType == ByteType)
  private val returnMask: Int = if (format <= 5) 0x7 else 0xf

  override def write(row: InternalRow): Unit = {
    if (compressLaz) {
      if (copc) {
        // chunk boundary = voxel-key change (input arrives key-sorted
        // from writeCopc; unsorted input stays CORRECT — every key run
        // still gets key-pure chunks — just with more, smaller chunks)
        val key = copcKeyOf(row)
        // the run is "open" if records are buffered OR spilled to disk
        // (after spillRun, chunkFill is 0 while runSpillOut stays open —
        // a run whose length is an exact multiple of the overflow bound
        // must still flush on key change, or the next voxel's records
        // would merge into the previous voxel's spilled run)
        if ((chunkFill > 0 || runSpillOut != null) && key != copcCurKey) {
          if (copcSplittable) flushRun() else flushChunk()
        }
        copcCurKey = key
        if (copcTimeOrd >= 0 && !row.isNullAt(copcTimeOrd)) {
          val t = row.getDouble(copcTimeOrd)
          if (t < copcGpsMin) copcGpsMin = t
          if (t > copcGpsMax) copcGpsMax = t
        } else if (copcTimeOrd >= 0) copcSawNullTime = true
      }
      val rl = encoder.recordLength
      if (copcSplittable && (chunkFill + 1) * rl > chunkBuf.length) {
        // grow the run buffer (doubling, capped at the overflow bound)
        // — an overflowing voxel run buffers WHOLE so it can split into
        // single-entry child voxels instead of cap-sized same-key chunks
        chunkBuf = java.util.Arrays.copyOf(chunkBuf,
          math.min(copcOverflowPoints.toLong * rl,
            math.max(chunkBuf.length.toLong * 2, (chunkFill + 1).toLong * rl)).toInt)
      }
      System.arraycopy(encoder.encode(row), 0, chunkBuf, chunkFill * rl, rl)
      chunkFill += 1
      if (copcSplittable) {
        // bound hit: the run keeps growing on DISK (task-local spill),
        // so the eventual key-change flush still splits the whole run
        // level-locally — single-entry keys at any run length
        if (chunkFill == copcOverflowPoints) spillRun()
      } else if (chunkFill == chunkTarget) flushChunk()
    } else {
      body.write(encoder.encode(row))
    }
    var a = 0
    while (a < 3) {
      val o = xyzOrd(a)
      if (o >= 0 && !row.isNullAt(o)) {
        val v = row.getInt(o).toLong
        if (v < minRaw(a)) minRaw(a) = v
        if (v > maxRaw(a)) maxRaw(a) = v
      }
      a += 1
    }
    if (returnOrd >= 0 && !row.isNullAt(returnOrd)) {
      val r = row.getByte(returnOrd) & returnMask
      if (r >= 1 && r <= 15) returnCounts(r - 1) += 1
    }
    count += 1
  }

  override def commit(): WriterCommitMessage = {
    if (compressLaz) { if (copcSplittable) flushRun() else flushChunk() }
    body.close()
    val extrasVlr: Array[Byte] =
      if (extraFields.nonEmpty) LasExtraBytes.writeVlr(extraFields) else Array.empty
    val minor: Byte = if (copc || count > Int.MaxValue) 4 else minorOpt
    val headerSize = LasHeader.headerSize(minor).toInt
    // chunk table serialized once: its length feeds the COPC EVLR offset
    val tableBytes: Array[Byte] =
      if (!compressLaz) Array.empty
      else graft.pointcloud.las.laz.LazFile.chunkTableBytes(chunkByteCounts.toSeq,
        if (lazVariable) Some(chunkPointCounts.toSeq) else None)
    // COPC: info VLR leads the VLR block (published layout); the octree
    // hierarchy rides as one root EVLR page after the chunk table. All
    // offsets are absolute, so the fixed info-VLR length (54+160) lets
    // everything resolve before assembly.
    val (copcVlr, copcEvlr): (Array[Byte], Array[Byte]) =
      if (!copc) (Array.empty[Byte], Array.empty[Byte])
      else {
        val copcImport = graft.pointcloud.las.laz.Copc
        val lazVlrLen = graft.pointcloud.las.laz.Laz.vlrRecordBytes(format,
          graft.pointcloud.las.laz.Laz.VariableChunkSize,
          encoder.recordLength - LasHeader.recordLength(format)).length
        val vlrLen = (54 + copcImport.InfoPayloadLen) + lazVlrLen + extrasVlr.length
        val dataStart = headerSize.toLong + vlrLen + 8
        val tableOffset = dataStart + chunkByteCounts.sum
        val evlrOffset = tableOffset + tableBytes.length
        var off = dataStart
        val leaves = copcChunkKeys.indices.map { i =>
          val packed = copcChunkKeys(i)
          // LOD layouts and the splittable path both pack (level, key):
          // split chunks live DEEPER than the declared leaf level
          val lvl =
            if (copcLod || copcSplittable) copcImport.unpackLodLevel(packed)
            else copcLevel
          val kraw =
            if (copcLod || copcSplittable) copcImport.unpackLodKey(packed)
            else packed
          val (kx, ky, kz) = copcImport.unpackKey(kraw, lvl)
          val e = copcImport.Entry(lvl, kx, ky, kz, off,
            chunkByteCounts(i).toInt, chunkPointCounts(i).toInt)
          off += chunkByteCounts(i)
          e
        }
        val ancestors = copcImport.ancestorEntries(leaves)
        // the TOTAL hierarchy must stay under the reader's bound (the
        // per-PAGE size is handled by the paging below) — fail the TASK
        // here (job aborts with the actionable message) rather than
        // land a file this repo's own reader rejects at resolve time
        copcImport.requireEntryBudget(
          ancestors.length.toLong + leaves.length, finalPath.toString)
        // page the hierarchy past copc.pageentries (default = one root
        // page, byte-identical to the unpaged layout); the info VLR
        // declares the ROOT page only and readers follow the
        // child-page references
        val (payload, rootPageSize) = copcImport.pagedHierarchyPayload(
          ancestors ++ leaves, copcPageEntries, evlrOffset + 60)
        // the reader's total bound counts SERIALIZED entries — child-page
        // REFERENCE entries included — so the authoritative check is on
        // the paged payload, not the data entries alone: a near-cap
        // hierarchy plus thousands of refs would otherwise pass the
        // pre-check and land a file our own reader rejects at resolve
        copcImport.requireEntryBudget(
          (payload.length / copcImport.EntryLen).toLong, finalPath.toString)
        // spacing is defined at the ROOT node by the published spec
        // (halved per level); the leaf side would be 2^level too fine
        // for a foreign LOD viewer picking its streaming depth
        // all-null times keep the published 0/0 "unknown" sentinel; a
        // MIXED file widens the measured range to the nulls' encoded 0.0
        // so the file-skip stays conservative wrt read-back values
        val info = copcImport.Info(copcCube(0), copcCube(1), copcCube(2),
          copcCube(3), 2.0 * copcCube(3), evlrOffset + 60, rootPageSize.toLong,
          if (copcGpsMin.isInfinite) 0.0
          else if (copcSawNullTime) math.min(copcGpsMin, 0.0) else copcGpsMin,
          if (copcGpsMax.isInfinite) 0.0
          else if (copcSawNullTime) math.max(copcGpsMax, 0.0) else copcGpsMax)
        (copcImport.infoVlrRecord(info), copcImport.hierEvlrRecord(payload))
      }
    val (vlrBytes, numVlrs) =
      if (compressLaz) {
        val declaredChunkSize =
          if (lazVariable) graft.pointcloud.las.laz.Laz.VariableChunkSize
          else lazChunkSize
        val lazVlr = graft.pointcloud.las.laz.Laz.vlrRecordBytes(format, declaredChunkSize,
          encoder.recordLength - LasHeader.recordLength(format))
        (copcVlr ++ lazVlr ++ extrasVlr,
          (if (copc) 1 else 0) + 1 + (if (extraFields.nonEmpty) 1 else 0))
      } else (extrasVlr, if (extraFields.nonEmpty) 1 else 0)
    val header = LasHeader(
      location = finalPath.toString,
      pdrFormat = format,
      pdrCount = count,
      pMin = Array.tabulate(3)(a =>
        if (count == 0 || minRaw(a) == Long.MaxValue) 0.0 else minRaw(a) * scale(a) + offset(a)),
      pMax = Array.tabulate(3)(a =>
        if (count == 0 || maxRaw(a) == Long.MinValue) 0.0 else maxRaw(a) * scale(a) + offset(a)),
      scale = scale,
      offset = offset,
      returnCounts = returnCounts,
      pdrOffsetRaw = headerSize + vlrBytes.length,
      versionMinor = minor,
      vlrCount = numVlrs,
      pdrLengthRaw = encoder.recordLength.toShort,
      extraFields = extraFields,
      compressed = compressLaz,
      evlrCount = if (copc) 1 else 0,
      evlrOffset =
        if (copc) (headerSize + vlrBytes.length).toLong + 8 +
          chunkByteCounts.sum + tableBytes.length
        else 0L)

    // assemble header+body in the temp dir, then RENAME into place: the
    // final name appears atomically, so a crash mid-commit can never
    // leave a partial file under a name readers pick up
    val finPath = new Path(tmpPath.getParent, tmpPath.getName + ".fin")
    val out = new DataOutputStream(new BufferedOutputStream(LocalIo.create(fs, finPath), 1 << 16))
    try {
      header.write(out)
      if (vlrBytes.nonEmpty) out.write(vlrBytes)
      if (compressLaz) {
        // i64 absolute chunk-table offset, then chunks, then the table
        val tableOffset = (headerSize + vlrBytes.length).toLong + 8 +
          chunkByteCounts.sum
        val ob = java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(tableOffset)
        out.write(ob.array())
      }
      val in = LocalIo.open(fs, tmpPath)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      if (compressLaz) {
        out.write(tableBytes)
        if (copc) out.write(copcEvlr)
      }
    } finally out.close()
    // a crashed earlier attempt may have left a stale file under the
    // final name (keyed writes derive it from the KEY, not the taskId);
    // LocalIo.rename replaces it atomically (Hadoop fallback: delete
    // first — an absent-name window, never a partial file)
    LocalIo.rename(fs, finPath, finalPath)
    LocalIo.delete(fs, tmpPath)
    LasPartMessage(finalPath.toString, count)
  }

  override def abort(): Unit = {
    try body.close() catch { case _: Exception => }
    // an aborted task may hold an open run spill — release and reap it
    if (runSpillOut != null) {
      try runSpillOut.close() catch { case _: Exception => }
      runSpillOut = null
    }
    if (runSpillPath != null) {
      try java.nio.file.Files.deleteIfExists(runSpillPath)
      catch { case _: Exception => }
      runSpillPath = null
    }
    LocalIo.delete(fs, tmpPath)
    LocalIo.delete(fs, finalPath)
  }

  override def close(): Unit = ()
}

/** PLY task writer. Default: a self-contained `part-<pid>-<tid>.ply` per
  * task (reference K4, ply/package.scala:40-69). With `merge=true` the
  * body stays in the temp dir and the driver concatenates at job commit
  * (reference K3). */
class PlyDataWriter(
    dir: String,
    inputSchema: StructType,
    options: Map[String, String],
    queryId: String,
    partitionId: Int,
    taskId: Long,
    baseName: Option[String] = None)
  extends DataWriter[InternalRow] {

  private val dataSchema = WriterUtil.dataFields(inputSchema, options)
  private val element = options.getOrElse("element", "vertex")
  private val littleEndian = !options.get("bigendian").contains("true")
  private val merge = options.get("merge").contains("true")

  private val conf = LocalIo.conf
  private val base = baseName.getOrElse(
    WriterUtil.defaultBase(options, queryId, partitionId, taskId))
  private val bodyPath = new Path(dir, s".graft-tmp-$queryId/$base-$partitionId-$taskId.$element.body")
  private val finalPath = new Path(dir, s"$base.ply")
  private val fs = bodyPath.getFileSystem(conf)
  private val body = new DataOutputStream(new BufferedOutputStream(LocalIo.create(fs, bodyPath), 1 << 16))
  private val encoder = new RecordEncoder(dataSchema, inputSchema, littleEndian)
  private var count = 0L

  override def write(row: InternalRow): Unit = {
    body.write(encoder.encode(row))
    count += 1
  }

  override def commit(): WriterCommitMessage = {
    body.close()
    if (merge) {
      PlyPartMessage(bodyPath.toString, count, dataSchema.json)
    } else {
      val header = PlyHeader("", littleEndian, 0, Seq(PlyElement(element, count, dataSchema)))
      // header+body assembled in the temp dir, renamed into place — the
      // final name appears atomically (see LasDataWriter.commit)
      val finPath = new Path(bodyPath.getParent, bodyPath.getName + ".fin")
      val out = new DataOutputStream(new BufferedOutputStream(LocalIo.create(fs, finPath), 1 << 16))
      try {
        out.write(header.headerText.getBytes(StandardCharsets.US_ASCII))
        val in = LocalIo.open(fs, bodyPath)
        try {
          val buf = new Array[Byte](1 << 20)
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      } finally out.close()
      LocalIo.rename(fs, finPath, finalPath)
      LocalIo.delete(fs, bodyPath)
      PlyPartMessage(finalPath.toString, count, dataSchema.json)
    }
  }

  override def abort(): Unit = {
    try body.close() catch { case _: Exception => }
    LocalIo.delete(fs, bodyPath)
    LocalIo.delete(fs, finalPath)
  }

  override def close(): Unit = ()
}

/** Tab-separated text writer, one file per task (reference K5,
  * xyz/package.scala:40-61). Null values become empty tokens, which the
  * reader parses back to null. Streams to a task-temp file and renames at
  * commit (like the LAS/PLY writers): a direct write to the final name
  * would let an executor crash — which never calls abort() — leave a
  * PARTIAL .xyz behind that the retried task (different taskId ⇒
  * different name) does not replace, and readers would see partial plus
  * complete rows. Temp files live under dot-prefixed paths readers skip,
  * and job commit/abort removes the temp dir wholesale. */
class XyzDataWriter(
    dir: String,
    inputSchema: StructType,
    options: Map[String, String],
    queryId: String,
    partitionId: Int,
    taskId: Long,
    baseName: Option[String] = None)
  extends DataWriter[InternalRow] {

  private val dataSchema = WriterUtil.dataFields(inputSchema, options)
  private val ords: Array[(Int, DataType)] = dataSchema.fields.map { f =>
    (inputSchema.fieldNames.indexOf(f.name), f.dataType)
  }
  private val base = baseName.getOrElse(
    WriterUtil.defaultBase(options, queryId, partitionId, taskId))
  private val finalPath = new Path(dir, s"$base.xyz")
  private val tmpPath = new Path(dir, s".graft-tmp-$queryId/$base-$partitionId-$taskId.txt")
  private val fs = finalPath.getFileSystem(LocalIo.conf)
  private val out = new DataOutputStream(new BufferedOutputStream(LocalIo.create(fs, tmpPath), 1 << 16))
  private var count = 0L
  private val sb = new StringBuilder

  override def write(row: InternalRow): Unit = {
    sb.setLength(0)
    var i = 0
    while (i < ords.length) {
      if (i > 0) sb.append('\t')
      val (o, dt) = ords(i)
      if (o >= 0 && !row.isNullAt(o)) sb.append(row.get(o, dt))
      i += 1
    }
    sb.append('\n')
    out.write(sb.result().getBytes(StandardCharsets.UTF_8))
    count += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    LocalIo.rename(fs, tmpPath, finalPath)
    XyzPartMessage(finalPath.toString, count)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Exception => }
    LocalIo.delete(fs, tmpPath)
    LocalIo.delete(fs, finalPath)
  }

  override def close(): Unit = ()
}
