package graft.pointcloud.las.laz

import java.nio.{ByteBuffer, ByteOrder}

/** LAZ container pieces (public LASzip/LAZ specification): the `laszip
  * encoded` VLR describing compressor/chunking/items, the compressed
  * chunk table, and whole-chunk encode/decode over the item codecs.
  *
  * File layout: LAS header (point-format byte's high bit set) + VLRs
  * (including the LAZ VLR) + at offset-to-point-data an i64 absolute
  * offset to the chunk table + the chunks back to back + the chunk
  * table. Each chunk opens with its first point RAW and continues with
  * arithmetic-coded points; chunk state is fully reset per chunk, so a
  * chunk is the independent split unit a record-aligned planner can
  * hand an executor.
  */
private[graft] object LazFile {

  final val VlrUserId = "laszip encoded"
  final val VlrRecordId = 22204
  /** pointwise-chunked — the compressor for point formats 0-5. */
  final val CompressorChunked = 2
  /** layered-chunked — the compressor for LAS 1.4 point formats 6-10. */
  final val CompressorLayered = 3
  final val DefaultChunkSize = 50000

  /** The compressor a point format's items require. */
  def compressorFor(format: Byte): Int =
    if (format >= 6) CompressorLayered else CompressorChunked

  /** One LAZ VLR item: (type, size, version). */
  case class LazItem(itemType: Int, size: Int, version: Int)

  case class LazVlr(compressor: Int, coder: Int, chunkSize: Int, items: Seq[LazItem]) {
    def recordLength: Int = items.map(_.size).sum
  }

  /** Items for a LAS point format plus `extraBytes` tail bytes: formats
    * 0–5 pointwise (v2 scheme; 4/5 add the WAVEPACKET13 tail), 6–10
    * layered (native-1.4 scheme; 9/10 add WAVEPACKET14). */
  def itemsFor(format: Byte, extraBytes: Int = 0): Seq[LazItem] = {
    val base = format match {
      case 0 => Seq(LazItem(LazItemCodec.TypePoint10, 20, 2))
      case 1 => Seq(LazItem(LazItemCodec.TypePoint10, 20, 2),
        LazItem(LazItemCodec.TypeGpsTime11, 8, 2))
      case 2 => Seq(LazItem(LazItemCodec.TypePoint10, 20, 2),
        LazItem(LazItemCodec.TypeRgb12, 6, 2))
      case 3 => Seq(LazItem(LazItemCodec.TypePoint10, 20, 2),
        LazItem(LazItemCodec.TypeGpsTime11, 8, 2),
        LazItem(LazItemCodec.TypeRgb12, 6, 2))
      case 4 => Seq(LazItem(LazItemCodec.TypePoint10, 20, 2),
        LazItem(LazItemCodec.TypeGpsTime11, 8, 2),
        LazItem(LazItemCodec.TypeWavepacket13, 29, 1))
      case 5 => Seq(LazItem(LazItemCodec.TypePoint10, 20, 2),
        LazItem(LazItemCodec.TypeGpsTime11, 8, 2),
        LazItem(LazItemCodec.TypeRgb12, 6, 2),
        LazItem(LazItemCodec.TypeWavepacket13, 29, 1))
      case 6 => Seq(LazItem(LazItemCodec.TypePoint14, 30, 3))
      case 7 => Seq(LazItem(LazItemCodec.TypePoint14, 30, 3),
        LazItem(LazItemCodec.TypeRgb14, 6, 3))
      case 8 => Seq(LazItem(LazItemCodec.TypePoint14, 30, 3),
        LazItem(LazItemCodec.TypeRgbNir14, 8, 3))
      case 9 => Seq(LazItem(LazItemCodec.TypePoint14, 30, 3),
        LazItem(LazItemCodec.TypeWavepacket14, 29, 3))
      case 10 => Seq(LazItem(LazItemCodec.TypePoint14, 30, 3),
        LazItem(LazItemCodec.TypeRgbNir14, 8, 3),
        LazItem(LazItemCodec.TypeWavepacket14, 29, 3))
      case f => throw new IllegalArgumentException(
        s"LAZ supports point formats 0-10, got format $f")
    }
    if (extraBytes > 0)
      base :+ (if (format >= 6) LazItem(LazItemCodec.TypeByte14, extraBytes, 3)
      else LazItem(LazItemCodec.TypeByte, extraBytes, 2))
    else base
  }

  def codecsFor(items: Seq[LazItem]): Array[LazItemCodec] = items.map {
    case LazItem(LazItemCodec.TypePoint10, 20, _) => new Point10Codec
    case LazItem(LazItemCodec.TypeGpsTime11, 8, _) => new GpsTime11Codec
    case LazItem(LazItemCodec.TypeRgb12, 6, _) => new Rgb12Codec
    case LazItem(LazItemCodec.TypeWavepacket13, 29, _) => new WavePacket13Codec
    case LazItem(LazItemCodec.TypeByte, n, _) if n > 0 => new BytesCodec(n)
    case it => throw new IllegalArgumentException(
      s"unsupported LAZ item type ${it.itemType} (size ${it.size}) — " +
        "this reader implements POINT10, GPSTIME11, RGB12, WAVEPACKET13 and BYTE")
  }.toArray

  /** Layered codecs for `items`. `layers` (one flag per layer of the
    * chunk, in chunk order; null = all) selects what a decoder reads. */
  def codecsLayeredFor(items: Seq[LazItem],
      layers: Array[Boolean] = null): Array[LazLayeredCodec] = {
    var first = 0 // first layer of the next item
    items.map { it =>
      val (_, names, codec) = layered(it)
      val on =
        if (layers == null) Array.fill(names.length)(true)
        else layers.slice(first, first + names.length)
      first += names.length
      codec(on)
    }.toArray
  }

  /** A layered item's layers: the layer coding each of its bytes, and
    * each layer's name. */
  def itemLayers(item: LazItem): (Array[Int], Array[String]) = {
    val (byteLayer, names, _) = layered(item)
    (byteLayer, names)
  }

  private def layered(item: LazItem)
      : (Array[Int], Array[String], Array[Boolean] => LazLayeredCodec) = item match {
    case LazItem(LazItemCodec.TypePoint14, 30, _) =>
      (Point14Codec.ByteLayer, Point14Codec.LayerNames, new Point14Codec(_))
    case LazItem(LazItemCodec.TypeRgb14, 6, _) =>
      (Array.fill(6)(0), Array("rgb"), new Rgb14Codec(withNir = false, _))
    case LazItem(LazItemCodec.TypeRgbNir14, 8, _) =>
      (Array.fill(6)(0) ++ Array(1, 1), Array("rgb", "nir"), new Rgb14Codec(withNir = true, _))
    case LazItem(LazItemCodec.TypeWavepacket14, 29, _) =>
      (Array.fill(29)(0), Array("wavepacket"), new WavePacket14Codec(_))
    case LazItem(LazItemCodec.TypeByte14, n, _) if n > 0 =>
      (Array.tabulate(n)(identity), Array.tabulate(n)(i => s"extra$i"), new Bytes14Codec(n, _))
    case it => throw new IllegalArgumentException(
      s"unsupported layered LAZ item type ${it.itemType} (size ${it.size}) — " +
        "this reader implements POINT14, RGB14, RGBNIR14, WAVEPACKET14 and BYTE14")
  }

  /** The layers a reader of the record bytes `needed` must decode: one
    * flag per layer of a layered chunk, in chunk order. A layer is needed
    * when it codes a needed byte; the POINT14 XY layer always is, since
    * every other layer's context derives from it. */
  def layersNeeded(items: Seq[LazItem], needed: Int => Boolean): Array[Boolean] = {
    var off = 0
    items.flatMap { it =>
      val (byteLayer, names) = itemLayers(it)
      val on = new Array[Boolean](names.length)
      var b = 0
      while (b < byteLayer.length) {
        if (needed(off + b)) on(byteLayer(b)) = true
        b += 1
      }
      if (it.itemType == LazItemCodec.TypePoint14) on(Point14Codec.LXy) = true
      off += it.size
      on
    }.toArray
  }

  /** Serialize the LAZ VLR payload (34 + 6·items bytes, little-endian). */
  def vlrPayload(vlr: LazVlr): Array[Byte] = {
    val out = new Array[Byte](34 + 6 * vlr.items.size)
    val buf = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    buf.putShort(vlr.compressor.toShort)
    buf.putShort(vlr.coder.toShort)
    buf.put(2.toByte).put(4.toByte) // version major.minor of the scheme
    buf.putShort(0) // revision
    buf.putInt(0) // options
    buf.putInt(vlr.chunkSize)
    buf.putLong(-1L) // number of special EVLRs (none)
    buf.putLong(-1L) // offset to special EVLRs
    buf.putShort(vlr.items.size.toShort)
    vlr.items.foreach { it =>
      buf.putShort(it.itemType.toShort)
      buf.putShort(it.size.toShort)
      buf.putShort(it.version.toShort)
    }
    out
  }

  def parseVlrPayload(bytes: Array[Byte]): LazVlr = {
    require(bytes.length >= 34, s"LAZ VLR payload too short: ${bytes.length} bytes")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val compressor = buf.getShort(0) & 0xFFFF
    val coder = buf.getShort(2) & 0xFFFF
    val chunkSize = buf.getInt(12)
    val numItems = buf.getShort(32) & 0xFFFF
    require(bytes.length >= 34 + 6 * numItems,
      s"LAZ VLR payload truncated: $numItems items in ${bytes.length} bytes")
    val items = (0 until numItems).map { i =>
      LazItem(buf.getShort(34 + 6 * i) & 0xFFFF,
        buf.getShort(36 + 6 * i) & 0xFFFF,
        buf.getShort(38 + 6 * i) & 0xFFFF)
    }
    LazVlr(compressor, coder, chunkSize, items)
  }

  /** Standard 54-byte VLR container header + payload. */
  def vlrRecord(payload: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](54 + payload.length)
    val buf = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    val uid = VlrUserId.getBytes("US-ASCII")
    var j = 0
    while (j < uid.length) { buf.put(2 + j, uid(j)); j += 1 }
    buf.putShort(18, VlrRecordId.toShort)
    buf.putShort(20, payload.length.toShort)
    System.arraycopy(payload, 0, out, 54, payload.length)
    out
  }

  /** Chunk table payload: u32 version (0), u32 chunk count, then the
    * per-chunk compressed byte counts delta-coded through an
    * [[IntegerCompressor]] (32 bits, 2 contexts, context 1, previous
    * count as predictor — the published layout). With `pointCounts`
    * (VARIABLE chunking, VLR chunk size −1) each entry first codes the
    * chunk's point count (context 0, previous count as predictor) — the
    * published layout for spatially-indexed `.laz`, where chunk
    * boundaries follow the data rather than a fixed stride. */
  def chunkTableBytes(chunkByteCounts: Seq[Long],
      pointCounts: Option[Seq[Long]] = None): Array[Byte] = {
    pointCounts.foreach(pts => require(pts.length == chunkByteCounts.length,
      s"${pts.length} point counts for ${chunkByteCounts.length} chunks"))
    val enc = new ArithmeticEncoder
    val ic = new IntegerCompressor(32, 2)
    val points = pointCounts.map(_.iterator)
    var prevP = 0
    var prevB = 0
    chunkByteCounts.foreach { b =>
      points.foreach { it =>
        val p = it.next()
        require(p > 0 && p <= Int.MaxValue,
          s"chunk of $p points outside the format's u32 count")
        ic.compress(enc, prevP, p.toInt, 0)
        prevP = p.toInt
      }
      require(b <= Int.MaxValue, s"chunk of $b bytes exceeds the format's u32 count")
      ic.compress(enc, prevB, b.toInt, 1)
      prevB = b.toInt
    }
    enc.done()
    val coded = enc.result()
    val out = new Array[Byte](8 + coded.length)
    val buf = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(0) // version
    buf.putInt(chunkByteCounts.size)
    System.arraycopy(coded, 0, out, 8, coded.length)
    out
  }

  /** Parse a chunk table payload → (per-chunk compressed byte counts,
    * per-chunk point counts when `variable`). `maxChunks` is the caller's
    * independent bound on how many chunks the file can plausibly hold
    * (each chunk carries ≥1 point and ≥1 compressed byte, so the header's
    * point count and the chunk-region byte length both bound it) — the
    * declared u32 count is validated against it BEFORE the entry arrays
    * are allocated, so a corrupt table cannot force a multi-gigabyte
    * driver allocation. */
  def parseChunkTable(bytes: Array[Byte], maxChunks: Long,
      variable: Boolean = false): (Array[Long], Option[Array[Long]]) = {
    require(bytes.length >= 8, s"chunk table too short: ${bytes.length} bytes")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val version = buf.getInt(0)
    require(version == 0, s"unsupported chunk table version $version")
    val n = buf.getInt(4)
    require(n >= 0 && n <= maxChunks,
      s"chunk table declares $n chunks, outside the plausible bound $maxChunks")
    val dec = new ArithmeticDecoder(bytes, 8, bytes.length)
    val ic = new IntegerCompressor(32, 2)
    val counts = new Array[Long](n)
    val points = if (variable) Some(new Array[Long](n)) else None
    var prevP = 0
    var prevB = 0
    var i = 0
    while (i < n) {
      points.foreach { pts =>
        prevP = ic.decompress(dec, prevP, 0)
        pts(i) = prevP.toLong & 0xFFFFFFFFL
      }
      prevB = ic.decompress(dec, prevB, 1)
      counts(i) = prevB.toLong & 0xFFFFFFFFL
      i += 1
    }
    (counts, points)
  }

  /** Encode one chunk: raw first point, then coded points; returns the
    * chunk's bytes. `records` is `count` back-to-back records of
    * `stride` bytes starting at `off`. */
  def encodeChunk(codecs: Array[LazItemCodec], records: Array[Byte], off: Int,
      count: Int, stride: Int): Array[Byte] = {
    require(count > 0, "encodeChunk needs at least one point")
    require(codecs.map(_.size).sum == stride,
      s"item sizes ${codecs.map(_.size).mkString("+")} must tile the $stride-byte record")
    val enc = new ArithmeticEncoder
    var itemOff = off
    codecs.foreach { c => c.init(records, itemOff); itemOff += c.size }
    var i = 1
    while (i < count) {
      var p = off + i * stride
      codecs.foreach { c => c.write(enc, records, p); p += c.size }
      i += 1
    }
    enc.done()
    val coded = enc.result()
    val out = new Array[Byte](stride + coded.length)
    System.arraycopy(records, off, out, 0, stride)
    System.arraycopy(coded, 0, out, stride, coded.length)
    out
  }

  /** Encode one LAYERED chunk (compressor 3): raw first point, u32 point
    * count, u32 byte count per layer, then each layer's bitstream back to
    * back (the published native-1.4 chunk shape — the writer emits
    * count+sizes+layers when the chunk completes, which lands them right
    * after the raw first point it streamed out when the chunk opened). */
  def encodeChunkLayered(codecs: Array[LazLayeredCodec], records: Array[Byte],
      off: Int, count: Int, stride: Int): Array[Byte] = {
    require(count > 0, "encodeChunkLayered needs at least one point")
    require(codecs.map(_.size).sum == stride,
      s"item sizes ${codecs.map(_.size).mkString("+")} must tile the $stride-byte record")
    val ctx = new ChannelCtx
    var itemOff = off
    codecs.foreach { c => c.initWrite(records, itemOff, ctx); itemOff += c.size }
    var i = 1
    while (i < count) {
      var p = off + i * stride
      codecs.foreach { c => c.write(records, p, ctx); p += c.size }
      i += 1
    }
    val layers = codecs.flatMap(_.finishLayers())
    val total = stride + 4 + 4 * layers.length + layers.map(_.length).sum
    val out = new Array[Byte](total)
    System.arraycopy(records, off, out, 0, stride)
    val buf = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(stride, count)
    var pos = stride + 4
    layers.foreach { b => buf.putInt(pos, b.length); pos += 4 }
    layers.foreach { b => System.arraycopy(b, 0, out, pos, b.length); pos += b.length }
    out
  }

  /** Decode one LAYERED chunk of `count` points, held in the first
    * `len` bytes of `chunk`, into the first `count * stride` bytes of
    * `out`. Only the layers the codecs select are entropy-decoded; the
    * bytes of a skipped layer's fields are left stale. */
  def decodeChunkLayered(codecs: Array[LazLayeredCodec], chunk: Array[Byte], len: Int,
      count: Int, stride: Int, out: Array[Byte]): Unit = {
    require(count > 0, "decodeChunkLayered needs at least one point")
    require(codecs.map(_.size).sum == stride,
      s"item sizes ${codecs.map(_.size).mkString("+")} must tile the $stride-byte record")
    require(len <= chunk.length && out.length.toLong >= count.toLong * stride,
      s"buffers too small for a $len-byte chunk of $count $stride-byte records")
    val totalLayers = codecs.map(_.numLayers).sum
    require(len >= stride + 4 + 4 * totalLayers,
      s"layered chunk of $len bytes holds no raw point + layer directory")
    val buf = ByteBuffer.wrap(chunk).order(ByteOrder.LITTLE_ENDIAN)
    val declared = buf.getInt(stride)
    require(declared == count,
      s"layered chunk declares $declared points, the chunk table implies $count")
    var pos = stride + 4
    val starts = new Array[Int](totalLayers)
    val ends = new Array[Int](totalLayers)
    val sizes = Array.tabulate(totalLayers) { _ =>
      val s = buf.getInt(pos); pos += 4
      require(s >= 0, s"negative layer size $s in layered chunk")
      s
    }
    // accumulate as Long and bound every step: u32-sized layer entries
    // could wrap an Int sum past the overrun guard otherwise
    var posL = pos.toLong
    var li = 0
    while (li < totalLayers) {
      starts(li) = posL.toInt
      posL += sizes(li)
      require(posL <= len, s"layer sizes overrun the chunk ($posL > $len)")
      ends(li) = posL.toInt
      li += 1
    }
    System.arraycopy(chunk, 0, out, 0, stride)
    val ctx = new ChannelCtx
    // an item none of whose layers is selected is not read at all
    val active = codecs.indices.filter(i => codecs(i).layers.exists(identity)).toArray
    val activeOff = active.map(i => codecs.iterator.take(i).map(_.size).sum)
    li = 0
    var itemOff = 0
    codecs.foreach { c =>
      if (c.layers.exists(identity)) {
        val ds = Array.tabulate(c.numLayers)(k =>
          if (c.layers(k)) new ArithmeticDecoder(chunk, starts(li + k), ends(li + k))
          else null)
        c.initRead(ds, out, itemOff, ctx)
      }
      li += c.numLayers
      itemOff += c.size
    }
    var i = 1
    while (i < count) {
      val p = i * stride
      var a = 0
      while (a < active.length) {
        codecs(active(a)).read(out, p + activeOff(a), ctx)
        a += 1
      }
      i += 1
    }
  }

  /** Decode one chunk of `count` points, held in the first `len` bytes
    * of `chunk`, into the first `count * stride` bytes of `out`. */
  def decodeChunk(codecs: Array[LazItemCodec], chunk: Array[Byte], len: Int,
      count: Int, stride: Int, out: Array[Byte]): Unit = {
    require(count > 0, "decodeChunk needs at least one point")
    require(codecs.map(_.size).sum == stride,
      s"item sizes ${codecs.map(_.size).mkString("+")} must tile the $stride-byte record")
    require(len <= chunk.length && out.length.toLong >= count.toLong * stride,
      s"buffers too small for a $len-byte chunk of $count $stride-byte records")
    require(len >= stride, s"chunk of $len bytes holds no raw first point")
    System.arraycopy(chunk, 0, out, 0, stride)
    var itemOff = 0
    codecs.foreach { c => c.init(out, itemOff); itemOff += c.size }
    val dec = new ArithmeticDecoder(chunk, stride, len)
    var i = 1
    while (i < count) {
      var p = i * stride
      codecs.foreach { c => c.read(dec, out, p); p += c.size }
      i += 1
    }
  }
}
