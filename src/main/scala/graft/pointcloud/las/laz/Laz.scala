package graft.pointcloud.las.laz

import graft.pointcloud.las.{LasExtraBytes, LasHeader}

/** Driver-side description of one LAZ file's compressed layout — what
  * the planner needs to cut CHUNK-ALIGNED splits (a LAZ chunk resets all
  * codec state, so it is the smallest independently decodable unit, the
  * compressed analogue of the record-aligned split). `chunkPoints` is
  * resolved at `infoFor` time for BOTH chunking modes — derived from the
  * fixed `chunkSize` (the common layout), or read straight out of the
  * variable chunk table (VLR chunk size −1, the spatially-indexed
  * layout) — so the planner and readers never branch on the mode. */
case class LazInfo(
    format: Byte,
    chunkSize: Int,
    stride: Int,
    firstChunkOffset: Long,
    chunkBytes: Array[Long],
    chunkPoints: Array[Long],
    /** COPC only: per-chunk raw-integer [xlo,xhi,ylo,yhi,zlo,zhi]
      * derived from the octree hierarchy (null rows = chunk without an
      * entry; null array = not a COPC file). Consumed by the planner to
      * SKIP chunks outside a pushed x/y/z bbox — the record predicate
      * still runs on everything decoded, so the bounds only ever save
      * work. */
    chunkRawBounds: Array[Array[Long]] = null,
    /** COPC only: each chunk's octree node LEVEL (−1 = unbound chunk,
      * null = not COPC). Powers the `copc.maxlevel` approximate read
      * over LOD layouts — unlike the bbox bounds this one CHANGES the
      * result set (a declared coarse preview), so it is only ever
      * driven by an explicit read option, never by query predicates. */
    chunkLevels: Array[Int] = null,
    /** COPC only: the info VLR's [gpsMin, gpsMax] — the file's gpstime
      * span (null = not COPC, or the 0/0 "unknown" sentinel). Powers
      * WHOLE-FILE skipping for pushed `time` range predicates at
      * planning, the temporal twin of the header-bbox file skip; the
      * record predicate still exacts the residue, so like every other
      * planner bound it only ever saves work. Attached whenever the
      * info VLR parses, even if the octree hierarchy fails to bind. */
    gpsRange: Array[Double] = null) extends Serializable {
  def numChunks: Int = chunkBytes.length
}

/** Public entry points of the LAZ codec for the connector and writer:
  * resolve a compressed file's chunk layout, and encode/decode whole
  * chunks between raw LAS record bytes and the compressed stream. The
  * raw-record interface is what lets every existing LAS semantic
  * (schema, casts, fid/pid, predicate evaluation, vectorized twin) stay
  * unchanged: a decoded chunk IS a run of ordinary LAS records. */
object Laz {

  val DefaultChunkSize: Int = LazFile.DefaultChunkSize

  /** Parse the laszip VLR + chunk table of a compressed LAS file —
    * fixed-size chunking (the common layout) or variable-size chunking
    * (VLR chunk size −1, the spatially-indexed layout, per-chunk point
    * counts carried in the chunk table). Both chunk-table placements are
    * accepted: the common seekable-writer layout (leading i64 slot holds
    * the table offset) and the streamed layout (leading slot −1, table
    * at EOF, its position in the file's last 8 bytes — what a
    * non-seekable writer emits). `fileLen` bounds the chunk-table read;
    * `readAt` is the same random-access closure the ExtraBytes reader
    * uses. Throws (→ the provider's skip-unreadable warning) on layouts
    * this codec does not implement: non-chunked compressors and
    * non-canonical item layouts for the declared format. */
  def infoFor(header: LasHeader, readAt: LasExtraBytes.ReadAt, fileLen: Long): LazInfo = {
    val payloads = LasExtraBytes.findVlrPayloads(header, readAt,
      LazFile.VlrUserId, LazFile.VlrRecordId)
    require(payloads.nonEmpty,
      s"${header.location}: compressed LAS carries no laszip VLR")
    val vlr = LazFile.parseVlrPayload(payloads.head)
    require(vlr.compressor == LazFile.compressorFor(header.pdrFormat),
      s"${header.location}: LAZ compressor ${vlr.compressor} for format " +
        s"${header.pdrFormat} (expected ${LazFile.compressorFor(header.pdrFormat)}: " +
        "pointwise-chunked for 0-5, layered for 6-10)")
    require(vlr.coder == 0,
      s"${header.location}: unsupported LAZ coder ${vlr.coder} (only arithmetic, 0)")
    // chunk size −1 (u32 0xFFFFFFFF) declares VARIABLE chunking: the
    // per-chunk point counts live in the chunk table instead
    val variable = vlr.chunkSize == -1
    require(variable || vlr.chunkSize > 0,
      s"${header.location}: non-positive LAZ chunk size ${vlr.chunkSize}")
    // readers size decoded-record buffers and column vectors from the
    // declared chunk geometry: a foreign file declaring absurd values
    // must fail HERE (the resolve-time skip path), not as an executor
    // NegativeArraySizeException/OOM mid-scan (variable layouts get the
    // same bound per chunk-table entry below)
    require(variable || vlr.chunkSize <= (1 << 24),
      s"${header.location}: LAZ chunk size ${vlr.chunkSize} exceeds the " +
        s"${1 << 24}-point reader bound")
    val stride = vlr.recordLength
    require(stride == header.pdrLength.toInt,
      s"${header.location}: LAZ items cover $stride bytes but the header " +
        s"declares ${header.pdrLength}-byte records")
    // the decoder derives its codec chain from (format, stride), so the
    // file's item sequence must BE the canonical one for that format —
    // any other layout (e.g. time stored as opaque bytes) would decode
    // into the wrong fields silently
    val extra = stride - graft.pointcloud.las.LasHeader.recordLength(header.pdrFormat)
    val expected = LazFile.itemsFor(header.pdrFormat, extra)
    require(vlr.items == expected,
      s"${header.location}: LAZ item sequence ${vlr.items} does not match the " +
        s"canonical layout $expected for format ${header.pdrFormat}")
    val tableOffBytes = readAt(header.pdrOffset.toLong, 8)
    val leadOffset = java.nio.ByteBuffer.wrap(tableOffBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(0)
    // leading offset −1 is the published non-seekable-writer layout: the
    // writer could not come back to patch the slot, so the table sits at
    // EOF and its real position is the file's LAST 8 bytes
    val streamed = leadOffset == -1L
    val (tableOffset, tableEnd) =
      if (streamed) {
        // the streamed footer sits at the end of the POINT REGION: a
        // legal streamed LAZ 1.4 file may carry EVLRs after it, so when
        // the header declares them the file's last 8 bytes are EVLR
        // payload, not the table offset — read the footer from just
        // before the declared EVLR block instead (conservatively bounded
        // by fileLen against a lying header)
        val regionEnd =
          if (header.evlrCount > 0 && header.evlrOffset > 0)
            math.min(header.evlrOffset, fileLen)
          else fileLen
        require(regionEnd >= header.pdrOffset.toLong + 8 + 8 + 8,
          s"${header.location}: file too short for the streamed (offset -1) chunk-table layout")
        val tailBytes = readAt(regionEnd - 8, 8)
        val off = java.nio.ByteBuffer.wrap(tailBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(0)
        (off, regionEnd - 8)
      } else (leadOffset, fileLen)
    require(tableOffset > header.pdrOffset && tableOffset <= tableEnd - 8,
      s"${header.location}: chunk table offset $tableOffset outside the file (len $fileLen)")
    // the table tail is buffered whole; a foreign file declaring a table
    // gigabytes before EOF must fail here, not overflow the Int length
    require(tableEnd - tableOffset <= (1 << 28),
      s"${header.location}: ${tableEnd - tableOffset} bytes between chunk table " +
        "offset and EOF exceed the reader's table bound")
    val tableBytes = readAt(tableOffset, (tableEnd - tableOffset).toInt)
    // every chunk carries ≥1 point and ≥1 compressed byte, so the header
    // point count and the chunk-region length both bound the plausible
    // chunk count — handed to the parser so a corrupt table's declared
    // u32 count is rejected BEFORE the entry arrays are allocated
    val dataBytes = tableOffset - (header.pdrOffset.toLong + 8)
    lazy val needChunks =
      if (header.pdrCount == 0) 0L
      else (header.pdrCount - 1) / vlr.chunkSize + 1
    val (counts, tablePoints) = LazFile.parseChunkTable(tableBytes,
      math.min(if (variable) header.pdrCount else needChunks, dataBytes), variable)
    val points = tablePoints match {
      case Some(pts) =>
        pts.foreach(p => require(p > 0 && p <= (1 << 24),
          s"${header.location}: variable chunk of $p points exceeds the " +
            s"${1 << 24}-point reader bound"))
        require(pts.sum == header.pdrCount,
          s"${header.location}: variable chunk table counts ${pts.sum} points " +
            s"but the header declares ${header.pdrCount}")
        pts
      case None =>
        require(counts.length == needChunks,
          s"${header.location}: ${counts.length} chunks for ${header.pdrCount} points " +
            s"at chunk size ${vlr.chunkSize} (expected $needChunks)")
        Array.tabulate(counts.length) { i =>
          if (i < counts.length - 1) vlr.chunkSize.toLong
          else math.max(0L, header.pdrCount - vlr.chunkSize.toLong * (counts.length - 1))
        }
    }
    counts.foreach(c => require(c > 0 && c <= Int.MaxValue - 8,
      s"${header.location}: chunk of $c compressed bytes outside the reader bound"))
    // decoded-buffer product bound (the ADVICE r13 gap): decodeChunk
    // allocates count*stride bytes, and a foreign file can declare 2^24
    // points with a wide u16 stride — the product must fail on THIS
    // driver skip path, not as an executor NegativeArraySizeException
    points.foreach(p => require(p * stride <= Int.MaxValue,
      s"${header.location}: chunk geometry $p points x $stride-byte records " +
        "overflows the decoded-buffer bound"))
    require(counts.sum == dataBytes,
      s"${header.location}: chunk table sums to ${counts.sum} bytes " +
        s"but the chunk region holds $dataBytes")
    val info = LazInfo(header.pdrFormat, vlr.chunkSize, stride,
      header.pdrOffset.toLong + 8, counts, points)
    // COPC overlay: when a `copc` info VLR is present and its hierarchy
    // binds cleanly to the chunk table, attach per-chunk spatial bounds
    // and node levels for planner-side chunk skipping (degrades to none
    // — the file is a valid LAZ with or without its index). The info
    // VLR's gpstime span attaches independently of the hierarchy (it is
    // header-level metadata), skipping the published 0/0 "unknown"
    // sentinel and any inverted range — conservative like every bound.
    val copcInfo: Option[Copc.Info] =
      try Copc.readInfo(header, readAt) catch { case _: Exception => None }
    val gps: Array[Double] = copcInfo.collect {
      case ci if ci.gpsMin <= ci.gpsMax && !(ci.gpsMin == 0.0 && ci.gpsMax == 0.0) =>
        Array(ci.gpsMin, ci.gpsMax)
    }.orNull
    val idx = copcInfo.map(Copc.indexForInfo(header, readAt, fileLen, info, _)).orNull
    if (idx == null) info.copy(gpsRange = gps)
    else info.copy(chunkRawBounds = idx.bounds, chunkLevels = idx.levels,
      gpsRange = gps)
  }

  /** The laszip VLR record (54-byte container header + payload) for a
    * write of `format` at `chunkSize` with `extraBytes` tail bytes. */
  def vlrRecordBytes(format: Byte, chunkSize: Int, extraBytes: Int = 0): Array[Byte] =
    LazFile.vlrRecord(LazFile.vlrPayload(
      LazFile.LazVlr(LazFile.compressorFor(format), 0, chunkSize,
        LazFile.itemsFor(format, extraBytes))))

  /** The VLR chunk-size sentinel declaring variable chunking. */
  final val VariableChunkSize: Int = -1

  /** True when this codec can compress `format`: 0-5 via the pointwise
    * v2 scheme (4/5 with the WAVEPACKET13 tail), 6-10 via the layered
    * 1.4 scheme (9/10 with WAVEPACKET14) — the full LAS format range. */
  def supportsFormat(format: Byte): Boolean =
    format >= 0 && format <= 10
}

/** Chunk decoder with reusable codec state (init resets per chunk) and
  * grow-only buffers: `stride` beyond the format's base record decodes
  * as an opaque BYTE/BYTE14 item (the ExtraBytes tail); formats 6-10
  * dispatch to the layered scheme. `layers` (see
  * [[LazChunkDecoder.layersFor]]; null = all) selects the layers of a
  * layered chunk to entropy-decode; the record bytes of a skipped
  * layer's fields are stale after decode. One instance per reader task,
  * shared by every split of the task that needs the same layers; not
  * thread-safe. */
final class LazChunkDecoder(format: Byte, val stride: Int, layers: Array[Boolean] = null) {
  private val items = LazChunkDecoder.items(format, stride)
  private val layered = format >= 6
  require(items.map(_.size).sum == stride,
    s"LAZ items do not tile a $stride-byte format-$format record")
  private val codecs = if (layered) null else LazFile.codecsFor(items)
  private val codecs14 = if (layered) LazFile.codecsLayeredFor(items, layers) else null

  private var compressed = new Array[Byte](0)
  private var records = new Array[Byte](0)

  /** A buffer of at least `n` bytes to read one compressed chunk into,
    * reused across chunks (it grows, never shrinks). */
  def chunkBuffer(n: Int): Array[Byte] = {
    if (compressed.length < n) compressed = new Array[Byte](n)
    compressed
  }

  /** Decode `count` points from the first `len` bytes of `chunk` into
    * raw records. The result is this decoder's records buffer: its first
    * `count * stride` bytes hold the chunk until the next decode. */
  def decode(chunk: Array[Byte], len: Int, count: Int): Array[Byte] = {
    val n = count.toLong * stride
    require(n <= Int.MaxValue, s"$count x $stride-byte records overflow the records buffer")
    if (records.length < n) records = new Array[Byte](n.toInt)
    if (layered) LazFile.decodeChunkLayered(codecs14, chunk, len, count, stride, records)
    else LazFile.decodeChunk(codecs, chunk, len, count, stride, records)
    records
  }

  /** Decode `count` points from one whole compressed chunk. */
  def decode(chunk: Array[Byte], count: Int): Array[Byte] = decode(chunk, chunk.length, count)
}

object LazChunkDecoder {
  private def items(format: Byte, stride: Int) = LazFile.itemsFor(format,
    stride - graft.pointcloud.las.LasHeader.recordLength(format))

  /** The layers of a (format, stride) chunk that a reader of the record
    * bytes `needed` must decode, one flag per layer in chunk order. A
    * pointwise format (0-5) codes one stream, so its one flag is set. */
  def layersFor(format: Byte, stride: Int, needed: Int => Boolean): Array[Boolean] =
    if (format < 6) Array(true) else LazFile.layersNeeded(items(format, stride), needed)

  /** The names of a (format, stride) chunk's layers, in chunk order:
    * `xy`, `z`, `classification`, `flags`, `intensity`, `angle`, `user`,
    * `source`, `gps`, then `rgb`, `nir`, `wavepacket` and one `extraN`
    * per ExtraBytes byte, as the format carries them. A pointwise format
    * has one layer, `pointwise`. */
  def layerNames(format: Byte, stride: Int): Array[String] =
    if (format < 6) Array("pointwise")
    else items(format, stride).toArray.flatMap(LazFile.itemLayers(_)._2)
}

/** Chunk encoder with reusable codec state; one per writer task. */
final class LazChunkEncoder(format: Byte, val stride: Int) {
  private val items = LazFile.itemsFor(format,
    stride - graft.pointcloud.las.LasHeader.recordLength(format))
  private val layered = format >= 6
  private val codecs = if (layered) null else LazFile.codecsFor(items)
  private val codecs14 = if (layered) LazFile.codecsLayeredFor(items) else null
  require(items.map(_.size).sum == stride,
    s"LAZ items do not tile a $stride-byte format-$format record")
  /** Encode `count` records (raw LAS layout) into one compressed chunk. */
  def encode(records: Array[Byte], off: Int, count: Int): Array[Byte] =
    if (layered) LazFile.encodeChunkLayered(codecs14, records, off, count, stride)
    else LazFile.encodeChunk(codecs, records, off, count, stride)
}
