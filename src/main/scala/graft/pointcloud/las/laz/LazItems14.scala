package graft.pointcloud.las.laz

/** Layered (compressor 3) item codecs for LAS 1.4 point formats 6–10:
  * POINT14 (the 30-byte extended record, GPS time included), RGB14 /
  * RGBNIR14, WAVEPACKET14 (the waveform tail of 9/10), and BYTE14 for
  * the ExtraBytes tail. This is the published
  * "native LAS 1.4 extension" of LASzip (Isenburg 2017, laszip.org):
  * inside a chunk every field family is coded into its OWN layer (an
  * independent arithmetic bitstream), and all prediction state is kept
  * per scanner channel — four contexts, seeded on first use from the
  * channel last written, so interleaved multi-scanner corpora predict as
  * well as single-channel ones. The chunk layout is
  * `[raw first point][u32 point count][u32 size per layer][layer bytes]`
  * (see [[LazFile.encodeChunkLayered]]).
  *
  * Selective decode (LASzip 1.4's selective decompression). A reader
  * that needs only some fields entropy-decodes only the layers holding
  * them and skips the other bitstreams unread. This is sound because of
  * one dependency rule, which every codec here keeps:
  *  - the POINT14 XY layer (changed bits, scanner channel, return
  *    number and count, x, y) depends on nothing but itself, and it is
  *    always decoded;
  *  - every other layer's context reads only XY-layer state (channel,
  *    returns, the x/y corrector classes, whether GPS time changed) and
  *    that layer's own history, including when a channel first seen
  *    mid-chunk seeds from the previous channel's last point.
  * So the state of a skipped layer is never read, and it is never
  * allocated or reset either. The record bytes of a skipped layer's
  * fields hold stale values after decode; a reader must not read them.
  * Each codec's `ByteLayer` table maps its item bytes to its layers.
  *
  * Verification note (the package-wide position, LazEntropy.scala:12-18):
  * the container ships no `.laz` fixture and no external LASzip binary,
  * so the layered scheme is verified by self-round-trip plus frozen
  * golden bytes only — no external fixture has cross-checked it. The two
  * return-context tables below are TRANSCRIBED from the published
  * LASzip native-1.4 source (`number_return_map_6ctx` /
  * `number_return_level_8ctx`, lasreaditemcompressed_v3, laszip.org),
  * the same transcription discipline as the v2 `NumberReturnMap`
  * ([[LazItemCodec.NumberReturnMap]], which matches its published
  * counterpart verbatim).
  *
  * Reference has no LAZ support at all (it rejects compressed input,
  * FixedLengthBinarySectionInputFormat.scala:48-56); record layouts per
  * the repo's format table, las/LasHeader.scala (formats 6–10).
  */
private[las] object LazLayered {
  /** `number_return_map_6ctx`: folds the 16×16 extended (4-bit)
    * (number-of-returns, return-number) pair into 6 prediction contexts
    * — transcribed, see the package note above. Symmetric, zero
    * diagonal, ±1 off-diagonal (the "next/previous return" bands). */
  val Map6: Array[Array[Int]] = Array(
    Array(0, 1, 2, 3, 4, 5, 3, 4, 4, 5, 5, 5, 5, 5, 5, 5),
    Array(1, 0, 1, 3, 4, 5, 3, 4, 4, 5, 5, 5, 5, 5, 5, 5),
    Array(2, 1, 0, 1, 3, 4, 3, 3, 4, 4, 5, 5, 5, 5, 5, 5),
    Array(3, 3, 1, 0, 1, 3, 3, 3, 3, 4, 4, 5, 5, 5, 5, 5),
    Array(4, 4, 3, 1, 0, 1, 3, 3, 3, 3, 4, 4, 5, 5, 5, 5),
    Array(5, 5, 4, 3, 1, 0, 1, 3, 3, 3, 3, 4, 4, 5, 5, 5),
    Array(3, 3, 3, 3, 3, 1, 0, 1, 3, 3, 3, 3, 4, 4, 5, 5),
    Array(4, 4, 3, 3, 3, 3, 1, 0, 1, 3, 3, 3, 3, 4, 4, 5),
    Array(4, 4, 4, 3, 3, 3, 3, 1, 0, 1, 3, 3, 3, 3, 4, 4),
    Array(5, 5, 4, 4, 3, 3, 3, 3, 1, 0, 1, 3, 3, 3, 3, 4),
    Array(5, 5, 5, 4, 4, 3, 3, 3, 3, 1, 0, 1, 3, 3, 3, 3),
    Array(5, 5, 5, 5, 4, 4, 3, 3, 3, 3, 1, 0, 1, 3, 3, 3),
    Array(5, 5, 5, 5, 5, 4, 4, 3, 3, 3, 3, 1, 0, 1, 3, 3),
    Array(5, 5, 5, 5, 5, 5, 4, 4, 3, 3, 3, 3, 1, 0, 1, 3),
    Array(5, 5, 5, 5, 5, 5, 5, 4, 4, 3, 3, 3, 3, 1, 0, 1),
    Array(5, 5, 5, 5, 5, 5, 5, 5, 4, 4, 3, 3, 3, 3, 1, 0))
  /** `number_return_level_8ctx`: the pair's distance clamped to 8 height
    * contexts — transcribed; coincides with `min(|n−r|, 7)` (the banded
    * structure the published table has). */
  val Level8: Array[Array[Int]] = Array(
    Array(0, 1, 2, 3, 4, 5, 6, 7, 7, 7, 7, 7, 7, 7, 7, 7),
    Array(1, 0, 1, 2, 3, 4, 5, 6, 7, 7, 7, 7, 7, 7, 7, 7),
    Array(2, 1, 0, 1, 2, 3, 4, 5, 6, 7, 7, 7, 7, 7, 7, 7),
    Array(3, 2, 1, 0, 1, 2, 3, 4, 5, 6, 7, 7, 7, 7, 7, 7),
    Array(4, 3, 2, 1, 0, 1, 2, 3, 4, 5, 6, 7, 7, 7, 7, 7),
    Array(5, 4, 3, 2, 1, 0, 1, 2, 3, 4, 5, 6, 7, 7, 7, 7),
    Array(6, 5, 4, 3, 2, 1, 0, 1, 2, 3, 4, 5, 6, 7, 7, 7),
    Array(7, 6, 5, 4, 3, 2, 1, 0, 1, 2, 3, 4, 5, 6, 7, 7),
    Array(7, 7, 6, 5, 4, 3, 2, 1, 0, 1, 2, 3, 4, 5, 6, 7),
    Array(7, 7, 7, 6, 5, 4, 3, 2, 1, 0, 1, 2, 3, 4, 5, 6),
    Array(7, 7, 7, 7, 6, 5, 4, 3, 2, 1, 0, 1, 2, 3, 4, 5),
    Array(7, 7, 7, 7, 7, 6, 5, 4, 3, 2, 1, 0, 1, 2, 3, 4),
    Array(7, 7, 7, 7, 7, 7, 6, 5, 4, 3, 2, 1, 0, 1, 2, 3),
    Array(7, 7, 7, 7, 7, 7, 7, 6, 5, 4, 3, 2, 1, 0, 1, 2),
    Array(7, 7, 7, 7, 7, 7, 7, 7, 6, 5, 4, 3, 2, 1, 0, 1),
    Array(7, 7, 7, 7, 7, 7, 7, 7, 7, 6, 5, 4, 3, 2, 1, 0))
}

/** Mutable scanner-channel slot the POINT14 codec publishes and the
  * items after it consume — the layered analogue of LASzip's `context`
  * in/out parameter. */
private[las] final class ChannelCtx {
  var value: Int = 0
}

/** One layered item codec. Unlike the pointwise [[LazItemCodec]], each
  * instance owns `numLayers` independent bitstreams; the write side
  * buffers a whole chunk and hands the finished layers back, the read
  * side is seeded with one decoder per layer. */
private[las] sealed trait LazLayeredCodec {
  /** Raw item size in bytes. */
  def size: Int
  /** Number of layers this item contributes to the chunk. */
  def numLayers: Int
  /** Per layer: decoded (true) or skipped. An encoder codes every layer;
    * `initRead` receives a null decoder for each skipped one. */
  def layers: Array[Boolean]
  /** Start an encode chunk: seed state from the raw first point. */
  def initWrite(first: Array[Byte], off: Int, ctx: ChannelCtx): Unit
  /** Encode the next point's item (also updates state). */
  def write(cur: Array[Byte], off: Int, ctx: ChannelCtx): Unit
  /** Finish the encode chunk: the layer byte arrays, in layer order. */
  def finishLayers(): Array[Array[Byte]]
  /** Start a decode chunk: one decoder per layer + the raw first point. */
  def initRead(layerDecs: Array[ArithmeticDecoder], first: Array[Byte], off: Int,
      ctx: ChannelCtx): Unit
  /** Decode the next point's item into `out` (also updates state). */
  def read(out: Array[Byte], off: Int, ctx: ChannelCtx): Unit
}

/** POINT14: the 30-byte base record of LAS formats 6–10 (x,y,z i32;
  * intensity u16; return-number|number-of-returns nibbles; classification
  * flags|scanner channel|scan direction|edge byte; classification u8;
  * user u8; scan angle i16; point source u16; GPS time f64). Nine layers:
  * channel/returns/XY, Z, classification, flags, intensity, scan angle,
  * user data, point source, GPS time. `layers` selects the layers a
  * decoder reads (the XY layer always); an encoder codes all nine. */
private[las] final class Point14Codec(override val layers: Array[Boolean])
  extends LazLayeredCodec {
  import LazItemCodec._
  import Point14Codec._

  override def size: Int = 30
  override def numLayers: Int = NumLayers
  require(layers.length == NumLayers && layers(LXy),
    "POINT14 needs a flag per layer and always codes its XY layer")

  private val zOn = layers(LZ)
  private val clsOn = layers(LCls)
  private val flagsOn = layers(LFlags)
  private val intOn = layers(LInt)
  private val angleOn = layers(LAngle)
  private val userOn = layers(LUser)
  private val psidOn = layers(LPsid)
  private val gpsOn = layers(LGps)

  /** Everything one scanner channel predicts from. Lazy model arrays are
    * allocated on first use — creation order is identical on both sides,
    * so encoder and decoder stay in lockstep. A skipped layer's state is
    * never allocated. */
  private final class Ctx {
    var unused = true
    val lastItem = new Array[Byte](30)
    var lastGpsChange = false
    // XY layer
    val mChanged = Array.fill(8)(new SymbolModel(128))
    val mScannerChannel = new SymbolModel(3)
    val mNumReturns = new Array[SymbolModel](16)
    val mRetNumber = new Array[SymbolModel](16)
    val mRetGpsSame = new SymbolModel(13)
    val icDx = new IntegerCompressor(32, 2)
    val icDy = new IntegerCompressor(32, 22)
    val medX = Array.fill(12)(new StreamingMedian5)
    val medY = Array.fill(12)(new StreamingMedian5)
    // the other layers
    val icZ = if (zOn) new IntegerCompressor(32, 20) else null
    val lastZ = new Array[Int](8)
    val mClassification = new Array[SymbolModel](64)
    val mFlags = new Array[SymbolModel](64)
    val icIntensity = if (intOn) new IntegerCompressor(16, 4) else null
    val lastIntensity = new Array[Int](8)
    val icScanAngle = if (angleOn) new IntegerCompressor(16, 2) else null
    val mUserData = new Array[SymbolModel](64)
    val icPointSource = if (psidOn) new IntegerCompressor(16, 1) else null
    val gps = if (gpsOn) new GpsTimeState else null

    /** Seed from `item` (the chunk's raw first point, or — on a channel
      * first seen mid-chunk — the last point of the channel written
      * before it, the published seeding rule). */
    def seed(item: Array[Byte], off: Int): Unit = {
      System.arraycopy(item, off, lastItem, 0, 30)
      lastGpsChange = false
      mChanged.foreach(_.reset())
      mScannerChannel.reset()
      java.util.Arrays.fill(mNumReturns.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(mRetNumber.asInstanceOf[Array[AnyRef]], null)
      mRetGpsSame.reset()
      icDx.reset(); icDy.reset()
      medX.foreach(_.reset()); medY.foreach(_.reset())
      if (zOn) {
        icZ.reset()
        java.util.Arrays.fill(lastZ, i32(item, off + 8))
      }
      if (clsOn) java.util.Arrays.fill(mClassification.asInstanceOf[Array[AnyRef]], null)
      if (flagsOn) java.util.Arrays.fill(mFlags.asInstanceOf[Array[AnyRef]], null)
      if (intOn) {
        icIntensity.reset()
        java.util.Arrays.fill(lastIntensity, u16(item, off + 12))
      }
      if (angleOn) icScanAngle.reset()
      if (userOn) java.util.Arrays.fill(mUserData.asInstanceOf[Array[AnyRef]], null)
      if (psidOn) icPointSource.reset()
      if (gpsOn) gps.seed(i64(item, off + 22))
      unused = false
    }
  }

  /** Per scanner channel, built on the channel's first use: most chunks
    * carry one channel, and a context is the bulk of a codec's memory. */
  private val ctxs = new Array[Ctx](4)
  private var cc = 0

  private def channel(i: Int): Ctx = {
    if (ctxs(i) == null) ctxs(i) = new Ctx
    ctxs(i)
  }
  private def unused(i: Int): Boolean = ctxs(i) == null || ctxs(i).unused
  private def retire(): Unit = ctxs.foreach(c => if (c != null) c.unused = true)

  private lazy val encs = Array.fill(numLayers)(new ArithmeticEncoder)
  private var decs: Array[ArithmeticDecoder] = null

  private def lazySym(arr: Array[SymbolModel], i: Int, symbols: Int): SymbolModel = {
    if (arr(i) == null) arr(i) = new SymbolModel(symbols)
    arr(i)
  }

  /** lpr: the last point's single/first/last/intermediate return shape ×
    * whether its GPS time changed — the changed-values model selector. */
  private def lprOf(c: Ctx): Int = {
    val lr = c.lastItem(14) & 0xF
    val ln = (c.lastItem(14) >>> 4) & 0xF
    (if (lr == 1) 1 else 0) + (if (lr >= ln) 2 else 0) + (if (c.lastGpsChange) 4 else 0)
  }

  override def initWrite(first: Array[Byte], off: Int, ctx: ChannelCtx): Unit = {
    require(layers.forall(identity), "a POINT14 encoder codes every layer")
    encs.foreach(_.reset())
    retire()
    cc = (first(off + 15) >>> 4) & 3
    channel(cc).seed(first, off)
    ctx.value = cc
  }

  override def write(cur: Array[Byte], off: Int, ctx: ChannelCtx): Unit = {
    val old = ctxs(cc)
    val lpr = lprOf(old)

    val sc = (cur(off + 15) >>> 4) & 3
    val channelChange = sc != cc
    // a channel first seen mid-chunk seeds from the point written just
    // before it (the old channel's last), mirroring the read side
    if (channelChange && unused(sc)) channel(sc).seed(old.lastItem, 0)
    val c = ctxs(sc)
    val tl = c.lastItem

    // change bits compare against the TARGET channel's last point; the
    // changed-values model and lpr belong to the channel we come FROM
    val psid = u16(cur, off + 20)
    val psChange = psid != u16(tl, 20)
    val tBits = i64(cur, off + 22)
    val gpsChange = tBits != i64(tl, 22)
    val angle = u16(cur, off + 18)
    val angleChange = angle != u16(tl, 18)
    val r = cur(off + 14) & 0xF
    val n = (cur(off + 14) >>> 4) & 0xF
    val lastR = tl(14) & 0xF
    val lastN = (tl(14) >>> 4) & 0xF
    var changed =
      (if (channelChange) 64 else 0) |
        (if (psChange) 32 else 0) |
        (if (gpsChange) 16 else 0) |
        (if (angleChange) 8 else 0) |
        (if (n != lastN) 4 else 0)
    if (r != lastR) {
      if (r == ((lastR + 1) & 0xF)) changed |= 1
      else if (r == ((lastR + 15) & 0xF)) changed |= 2
      else changed |= 3
    }
    encs(LXy).encodeSymbol(old.mChanged(lpr), changed)
    if (channelChange) {
      encs(LXy).encodeSymbol(old.mScannerChannel, (sc - cc + 3) & 3)
      cc = sc
      // propagate the switch to the sibling item codecs: RGB14/NIR and
      // BYTE14 select their per-channel context from ctx.value for THIS
      // point (the layered scheme's context in/out flow) — without this
      // every non-first channel's colors/extras would be predicted from
      // channel ctx.value-at-init's state
      ctx.value = sc
    }
    if ((changed & 4) != 0)
      encs(LXy).encodeSymbol(lazySym(c.mNumReturns, lastN, 16), n)
    if ((changed & 3) == 3) {
      if (gpsChange) encs(LXy).encodeSymbol(lazySym(c.mRetNumber, lastR, 16), r)
      else encs(LXy).encodeSymbol(c.mRetGpsSame, ((r - lastR) & 0xF) - 2)
    }

    val m = LazLayered.Map6(n)(r)
    val l = LazLayered.Level8(n)(r)
    val cpr = (if (r == 1) 2 else 0) + (if (r >= n) 1 else 0)
    val gtc = if (gpsChange) 1 else 0

    // X/Y: streaming-median deltas, median slot split by GPS-time change
    val dx = i32(cur, off) - i32(tl, 0)
    c.icDx.compress(encs(LXy), c.medX((m << 1) | gtc).get, dx, if (n == 1) 1 else 0)
    c.medX((m << 1) | gtc).add(dx)
    val kx = c.icDx.getK
    val dy = i32(cur, off + 4) - i32(tl, 4)
    c.icDy.compress(encs(LXy), c.medY((m << 1) | gtc).get, dy,
      (if (n == 1) 1 else 0) + (if (kx < 20) kx & ~1 else 20))
    c.medY((m << 1) | gtc).add(dy)

    // Z: level-context height prediction, own layer
    val kxy = (c.icDx.getK + c.icDy.getK) / 2
    val z = i32(cur, off + 8)
    c.icZ.compress(encs(LZ), c.lastZ(l), z,
      (if (n == 1) 1 else 0) + (if (kxy < 18) kxy & ~1 else 18))
    c.lastZ(l) = z

    // classification: context = last value's low 5 bits × single-return
    val cls = cur(off + 16) & 0xFF
    val ccc = (((tl(16) & 0x1F) << 1) + (if (cpr == 3) 1 else 0))
    encs(LCls).encodeSymbol(lazySym(c.mClassification, ccc, 256), cls)

    // flags: 6-bit symbol (edge<<5 | scanDir<<4 | clsFlags) keyed by last
    val flagSym = ((cur(off + 15) >>> 6) & 1) << 4 |
      (((cur(off + 15) >>> 7) & 1) << 5) | (cur(off + 15) & 0xF)
    val lastFlagSym = ((tl(15) >>> 6) & 1) << 4 |
      (((tl(15) >>> 7) & 1) << 5) | (tl(15) & 0xF)
    encs(LFlags).encodeSymbol(lazySym(c.mFlags, lastFlagSym, 64), flagSym)

    // intensity: coded every point, slot split by cpr × GPS-time change
    val intensity = u16(cur, off + 12)
    c.icIntensity.compress(encs(LInt), c.lastIntensity((cpr << 1) | gtc), intensity, cpr)
    c.lastIntensity((cpr << 1) | gtc) = intensity

    if (angleChange)
      c.icScanAngle.compress(encs(LAngle), u16(tl, 18), angle, gtc)

    val ud = cur(off + 17) & 0xFF
    encs(LUser).encodeSymbol(lazySym(c.mUserData, (tl(17) & 0xFF) / 4, 256), ud)

    if (psChange)
      c.icPointSource.compress(encs(LPsid), u16(tl, 20), psid, 0)

    if (gpsChange)
      c.gps.writeTime(encs(LGps), tBits)

    System.arraycopy(cur, off, tl, 0, 30)
    c.lastGpsChange = gpsChange
  }

  override def finishLayers(): Array[Array[Byte]] =
    encs.map { e => e.done(); e.result() }

  override def initRead(layerDecs: Array[ArithmeticDecoder], first: Array[Byte],
      off: Int, ctx: ChannelCtx): Unit = {
    decs = layerDecs
    retire()
    cc = (first(off + 15) >>> 4) & 3
    channel(cc).seed(first, off)
    ctx.value = cc
  }

  /** Decode the next point. Every field of a skipped layer keeps the
    * value it was seeded with; the XY layer and the change bits are
    * always read, since every other layer's context derives from them. */
  override def read(out: Array[Byte], off: Int, ctx: ChannelCtx): Unit = {
    val old = ctxs(cc)
    val lpr = lprOf(old)
    val changed = decs(LXy).decodeSymbol(old.mChanged(lpr))
    if ((changed & 64) != 0) {
      val diff = decs(LXy).decodeSymbol(old.mScannerChannel)
      val sc = (cc + diff + 1) & 3
      if (unused(sc)) channel(sc).seed(old.lastItem, 0)
      cc = sc
      // mirror of the write side: sibling codecs must decode this
      // point's RGB/extras through the NEW channel's context
      ctx.value = sc
      // the seeded copy carries the source channel's bits — fix them
      val tl0 = ctxs(cc).lastItem
      tl0(15) = ((tl0(15) & ~0x30) | (sc << 4)).toByte
    }
    val c = ctxs(cc)
    val tl = c.lastItem
    val psChange = (changed & 32) != 0
    val gpsChange = (changed & 16) != 0
    val angleChange = (changed & 8) != 0
    val lastR = tl(14) & 0xF
    val lastN = (tl(14) >>> 4) & 0xF
    val n =
      if ((changed & 4) != 0) decs(LXy).decodeSymbol(lazySym(c.mNumReturns, lastN, 16))
      else lastN
    val r = (changed & 3) match {
      case 0 => lastR
      case 1 => (lastR + 1) & 0xF
      case 2 => (lastR + 15) & 0xF
      case _ =>
        if (gpsChange) decs(LXy).decodeSymbol(lazySym(c.mRetNumber, lastR, 16))
        else (lastR + decs(LXy).decodeSymbol(c.mRetGpsSame) + 2) & 0xF
    }
    tl(14) = ((r & 0xF) | ((n & 0xF) << 4)).toByte

    val m = LazLayered.Map6(n)(r)
    val l = LazLayered.Level8(n)(r)
    val cpr = (if (r == 1) 2 else 0) + (if (r >= n) 1 else 0)
    val gtc = if (gpsChange) 1 else 0

    val dx = c.icDx.decompress(decs(LXy), c.medX((m << 1) | gtc).get, if (n == 1) 1 else 0)
    putI32(tl, 0, i32(tl, 0) + dx)
    c.medX((m << 1) | gtc).add(dx)
    val kx = c.icDx.getK
    val dy = c.icDy.decompress(decs(LXy), c.medY((m << 1) | gtc).get,
      (if (n == 1) 1 else 0) + (if (kx < 20) kx & ~1 else 20))
    putI32(tl, 4, i32(tl, 4) + dy)
    c.medY((m << 1) | gtc).add(dy)

    if (zOn) {
      val kxy = (c.icDx.getK + c.icDy.getK) / 2
      val z = c.icZ.decompress(decs(LZ), c.lastZ(l),
        (if (n == 1) 1 else 0) + (if (kxy < 18) kxy & ~1 else 18))
      putI32(tl, 8, z)
      c.lastZ(l) = z
    }

    if (clsOn) {
      val ccc = (((tl(16) & 0x1F) << 1) + (if (cpr == 3) 1 else 0))
      tl(16) = decs(LCls).decodeSymbol(lazySym(c.mClassification, ccc, 256)).toByte
    }

    if (flagsOn) {
      val lastFlagSym = ((tl(15) >>> 6) & 1) << 4 |
        (((tl(15) >>> 7) & 1) << 5) | (tl(15) & 0xF)
      val flagSym = decs(LFlags).decodeSymbol(lazySym(c.mFlags, lastFlagSym, 64))
      tl(15) = ((flagSym & 0xF) | (cc << 4) |
        (((flagSym >>> 4) & 1) << 6) | (((flagSym >>> 5) & 1) << 7)).toByte
    }

    if (intOn) {
      val intensity = c.icIntensity.decompress(decs(LInt),
        c.lastIntensity((cpr << 1) | gtc), cpr)
      c.lastIntensity((cpr << 1) | gtc) = intensity
      putU16(tl, 12, intensity)
    }

    if (angleOn && angleChange)
      putU16(tl, 18, c.icScanAngle.decompress(decs(LAngle), u16(tl, 18), gtc))

    if (userOn)
      tl(17) = decs(LUser).decodeSymbol(lazySym(c.mUserData, (tl(17) & 0xFF) / 4, 256)).toByte

    if (psidOn && psChange)
      putU16(tl, 20, c.icPointSource.decompress(decs(LPsid), u16(tl, 20), 0))

    if (gpsOn && gpsChange) {
      c.gps.readTime(decs(LGps))
      putI64(tl, 22, c.gps.current)
    }

    c.lastGpsChange = gpsChange
    System.arraycopy(tl, 0, out, off, 30)
  }
}

private[las] object Point14Codec {
  final val NumLayers = 9
  // layer indices, in chunk order
  final val LXy = 0
  final val LZ = 1
  final val LCls = 2
  final val LFlags = 3
  final val LInt = 4
  final val LAngle = 5
  final val LUser = 6
  final val LPsid = 7
  final val LGps = 8

  val LayerNames: Array[String] = Array("xy", "z", "classification", "flags",
    "intensity", "angle", "user", "source", "gps")

  /** The layer that codes each byte of the 30-byte record. Return number
    * and count (byte 14) ride in the XY layer; the flags byte's scanner
    * channel bits do too, but its other bits are the flags layer's. */
  val ByteLayer: Array[Int] =
    Array.fill(8)(LXy) ++ Array.fill(4)(LZ) ++ Array.fill(2)(LInt) ++
      Array(LXy, LFlags, LCls, LUser) ++ Array.fill(2)(LAngle) ++
      Array.fill(2)(LPsid) ++ Array.fill(8)(LGps)
}

/** RGB14 / RGBNIR14: the u16 r/g/b triple of formats 7/8 (+u16 NIR on
  * format 8). The triple reuses the RGB byte-delta scheme ([[RgbState]]),
  * per scanner-channel context; NIR codes its two bytes through a 2-bit
  * change mask + per-byte delta models, in its own layer. */
private[las] final class Rgb14Codec(withNir: Boolean, override val layers: Array[Boolean])
  extends LazLayeredCodec {
  import LazItemCodec._

  override def size: Int = if (withNir) 8 else 6
  override def numLayers: Int = if (withNir) 2 else 1
  require(layers.length == numLayers, s"RGB14 needs a flag per layer")

  private val rgbOn = layers(0)
  private val nirOn = withNir && layers(1)

  private final class Ctx {
    var unused = true
    val rgb = new RgbState
    val mNirUsed = if (withNir) new SymbolModel(4) else null
    val mNirDiff = if (withNir) Array.fill(2)(new SymbolModel(256)) else null
    var lastNir = 0

    def seed(r: Int, g: Int, b: Int, nir: Int): Unit = {
      if (rgbOn) rgb.seed(r, g, b)
      if (nirOn) {
        mNirUsed.reset(); mNirDiff.foreach(_.reset())
        lastNir = nir
      }
      unused = false
    }
  }

  private val ctxs = Array.fill(4)(new Ctx)
  private var cc = 0
  private lazy val encs = Array.fill(numLayers)(new ArithmeticEncoder)
  private var decs: Array[ArithmeticDecoder] = null

  private def seedFrom(item: Array[Byte], off: Int, c: Ctx): Unit =
    c.seed(u16(item, off), u16(item, off + 2), u16(item, off + 4),
      if (withNir) u16(item, off + 6) else 0)

  /** Enter the channel POINT14 resolved; an unused one seeds from the
    * channel we come from (its running last values). */
  private def switchTo(ctx: ChannelCtx): Ctx = {
    if (ctx.value != cc) {
      val from = ctxs(cc)
      cc = ctx.value
      if (ctxs(cc).unused)
        ctxs(cc).seed(from.rgb.lastRgb(0), from.rgb.lastRgb(1), from.rgb.lastRgb(2),
          from.lastNir)
    }
    ctxs(cc)
  }

  override def initWrite(first: Array[Byte], off: Int, ctx: ChannelCtx): Unit = {
    encs.foreach(_.reset())
    ctxs.foreach(_.unused = true)
    cc = ctx.value
    seedFrom(first, off, ctxs(cc))
  }

  override def write(cur: Array[Byte], off: Int, ctx: ChannelCtx): Unit = {
    val c = switchTo(ctx)
    c.rgb.writeRgb(encs(0), u16(cur, off), u16(cur, off + 2), u16(cur, off + 4))
    if (withNir) {
      val nir = u16(cur, off + 6)
      val nl = nir & 0xFF; val nh = nir >>> 8
      val ll = c.lastNir & 0xFF; val lh = c.lastNir >>> 8
      val sym = (if (nl != ll) 1 else 0) | (if (nh != lh) 2 else 0)
      encs(1).encodeSymbol(c.mNirUsed, sym)
      if ((sym & 1) != 0) encs(1).encodeSymbol(c.mNirDiff(0), (nl - ll) & 0xFF)
      if ((sym & 2) != 0) encs(1).encodeSymbol(c.mNirDiff(1), (nh - lh) & 0xFF)
      c.lastNir = nir
    }
  }

  override def finishLayers(): Array[Array[Byte]] =
    encs.map { e => e.done(); e.result() }

  override def initRead(layerDecs: Array[ArithmeticDecoder], first: Array[Byte],
      off: Int, ctx: ChannelCtx): Unit = {
    decs = layerDecs
    ctxs.foreach(_.unused = true)
    cc = ctx.value
    seedFrom(first, off, ctxs(cc))
  }

  override def read(out: Array[Byte], off: Int, ctx: ChannelCtx): Unit = {
    val c = switchTo(ctx)
    if (rgbOn) {
      c.rgb.readRgb(decs(0))
      putU16(out, off, c.rgb.lastRgb(0))
      putU16(out, off + 2, c.rgb.lastRgb(1))
      putU16(out, off + 4, c.rgb.lastRgb(2))
    }
    if (nirOn) {
      val sym = decs(1).decodeSymbol(c.mNirUsed)
      val ll = c.lastNir & 0xFF; val lh = c.lastNir >>> 8
      val nl = if ((sym & 1) != 0) (decs(1).decodeSymbol(c.mNirDiff(0)) + ll) & 0xFF else ll
      val nh = if ((sym & 2) != 0) (decs(1).decodeSymbol(c.mNirDiff(1)) + lh) & 0xFF else lh
      c.lastNir = (nh << 8) | nl
      putU16(out, off + 6, c.lastNir)
    }
  }
}

/** BYTE14: `n` opaque extra bytes per record — one LAYER per byte
  * position, each position delta-coded through a per-channel-context
  * 256-symbol model. */
private[las] final class Bytes14Codec(n: Int, override val layers: Array[Boolean])
  extends LazLayeredCodec {
  require(n > 0, s"BYTE14 item needs a positive size, got $n")
  require(layers.length == n, s"BYTE14 needs a flag per layer")

  override def size: Int = n
  override def numLayers: Int = n

  private final class Ctx {
    var unused = true
    val models = Array.fill(n)(new SymbolModel(256))
    val lastBytes = new Array[Byte](n)
    def seed(src: Array[Byte], off: Int): Unit = {
      var i = 0
      while (i < n) { if (layers(i)) models(i).reset(); i += 1 }
      System.arraycopy(src, off, lastBytes, 0, n)
      unused = false
    }
  }

  private val ctxs = Array.fill(4)(new Ctx)
  private var cc = 0
  private lazy val encs = Array.fill(n)(new ArithmeticEncoder)
  private var decs: Array[ArithmeticDecoder] = null

  private def switchTo(ctx: ChannelCtx): Ctx = {
    if (ctx.value != cc) {
      val from = ctxs(cc)
      cc = ctx.value
      if (ctxs(cc).unused) ctxs(cc).seed(from.lastBytes, 0)
    }
    ctxs(cc)
  }

  override def initWrite(first: Array[Byte], off: Int, ctx: ChannelCtx): Unit = {
    encs.foreach(_.reset())
    ctxs.foreach(_.unused = true)
    cc = ctx.value
    ctxs(cc).seed(first, off)
  }

  override def write(cur: Array[Byte], off: Int, ctx: ChannelCtx): Unit = {
    val c = switchTo(ctx)
    var i = 0
    while (i < n) {
      encs(i).encodeSymbol(c.models(i), (cur(off + i) - c.lastBytes(i)) & 0xFF)
      c.lastBytes(i) = cur(off + i)
      i += 1
    }
  }

  override def finishLayers(): Array[Array[Byte]] =
    encs.map { e => e.done(); e.result() }

  override def initRead(layerDecs: Array[ArithmeticDecoder], first: Array[Byte],
      off: Int, ctx: ChannelCtx): Unit = {
    decs = layerDecs
    ctxs.foreach(_.unused = true)
    cc = ctx.value
    ctxs(cc).seed(first, off)
  }

  override def read(out: Array[Byte], off: Int, ctx: ChannelCtx): Unit = {
    val c = switchTo(ctx)
    var i = 0
    while (i < n) {
      if (layers(i)) {
        c.lastBytes(i) = ((decs(i).decodeSymbol(c.models(i)) + c.lastBytes(i)) & 0xFF).toByte
        out(off + i) = c.lastBytes(i)
      }
      i += 1
    }
  }
}

/** WAVEPACKET14: the 29-byte waveform packet tail of formats 9/10 in
  * the layered scheme — one layer, [[WavePacketState]] per
  * scanner-channel context (seeded on first use from the channel last
  * written, like every layered item). */
private[las] final class WavePacket14Codec(override val layers: Array[Boolean])
  extends LazLayeredCodec {
  override def size: Int = 29
  override def numLayers: Int = 1

  private final class Ctx {
    var unused = true
    val st = new WavePacketState
    def seed(src: Array[Byte], off: Int): Unit = {
      st.seed(src, off)
      unused = false
    }
  }

  private val ctxs = Array.fill(4)(new Ctx)
  private var cc = 0
  private lazy val enc = new ArithmeticEncoder
  private var decs: Array[ArithmeticDecoder] = null

  private def switchTo(ctx: ChannelCtx): Ctx = {
    if (ctx.value != cc) {
      val from = ctxs(cc)
      cc = ctx.value
      if (ctxs(cc).unused) ctxs(cc).seed(from.st.last, 0)
    }
    ctxs(cc)
  }

  override def initWrite(first: Array[Byte], off: Int, ctx: ChannelCtx): Unit = {
    enc.reset()
    ctxs.foreach(_.unused = true)
    cc = ctx.value
    ctxs(cc).seed(first, off)
  }

  override def write(cur: Array[Byte], off: Int, ctx: ChannelCtx): Unit =
    switchTo(ctx).st.write(enc, cur, off)

  override def finishLayers(): Array[Array[Byte]] = {
    enc.done()
    Array(enc.result())
  }

  override def initRead(layerDecs: Array[ArithmeticDecoder], first: Array[Byte],
      off: Int, ctx: ChannelCtx): Unit = {
    decs = layerDecs
    ctxs.foreach(_.unused = true)
    cc = ctx.value
    ctxs(cc).seed(first, off)
  }

  override def read(out: Array[Byte], off: Int, ctx: ChannelCtx): Unit =
    switchTo(ctx).st.read(decs(0), out, off)
}
