package graft.pointcloud.las.laz

import org.scalatest.funsuite.AnyFunSuite

/** Codec-level round-trip pins for the LAZ entropy core and item codecs.
  * These run below the connector: every adversarial sequence must decode
  * back bit-exactly, across all model/state branches. */
class LazCodecSpec extends AnyFunSuite {

  /** Decode a whole pointwise chunk into a fresh records array. */
  private def decodeAll(codecs: Array[LazItemCodec], chunk: Array[Byte], count: Int,
      stride: Int): Array[Byte] = {
    val out = new Array[Byte](count * stride)
    LazFile.decodeChunk(codecs, chunk, chunk.length, count, stride, out)
    out
  }

  /** Decode a whole layered chunk into a fresh records array. */
  private def decodeAllLayered(codecs: Array[LazLayeredCodec], chunk: Array[Byte], count: Int,
      stride: Int): Array[Byte] = {
    val out = new Array[Byte](count * stride)
    LazFile.decodeChunkLayered(codecs, chunk, chunk.length, count, stride, out)
    out
  }

  test("arithmetic coder: interleaved bit/symbol/raw-bit streams round-trip") {
    val rnd = new scala.util.Random(42)
    // a mixed script of (kind, value) ops, decoded with identically
    // evolving models — the decoder must reproduce every value
    val nOps = 20000
    val script = Array.tabulate(nOps) { _ =>
      rnd.nextInt(4) match {
        case 0 => (0, rnd.nextInt(2)) // bit
        case 1 => (1, rnd.nextInt(33)) // small symbol model
        case 2 => (2, rnd.nextInt(516)) // big symbol model (decoder table)
        case 3 => (3, rnd.nextInt()) // raw 32 bits
      }
    }
    val enc = new ArithmeticEncoder
    val bmE = new BitModel
    val smE = new SymbolModel(33)
    val bigE = new SymbolModel(516)
    script.foreach {
      case (0, v) => enc.encodeBit(bmE, v)
      case (1, v) => enc.encodeSymbol(smE, v)
      case (2, v) => enc.encodeSymbol(bigE, v)
      case (3, v) => enc.writeBits(32, v.toLong & 0xFFFFFFFFL)
    }
    enc.done()
    val bytes = enc.result()
    val dec = new ArithmeticDecoder(bytes, 0, bytes.length)
    val bmD = new BitModel
    val smD = new SymbolModel(33)
    val bigD = new SymbolModel(516)
    script.foreach {
      case (0, v) => assert(dec.decodeBit(bmD) == v)
      case (1, v) => assert(dec.decodeSymbol(smD) == v)
      case (2, v) => assert(dec.decodeSymbol(bigD) == v)
      case (3, v) => assert(dec.readBits(32) == (v.toLong & 0xFFFFFFFFL))
    }
  }

  test("streaming median engages: constant and trending streams move the middle") {
    // the r14 regression this pins: a median whose middle slots are
    // unreachable from zero-init (the pre-r14 no-flip variant) is
    // provably 0 for EVERY input — the x/y predictor never engages and
    // the return-context tables become dead state. Constant input must
    // converge to the constant; monotone input must track its recent
    // middle; a scan-direction flip must be tracked within a few points.
    def runMed(vs: Seq[Int]): Int = {
      val med = new StreamingMedian5
      vs.foreach(med.add)
      med.get
    }
    assert(runMed(Seq.fill(6)(7)) == 7, "constant stream must converge to it")
    assert(runMed(Seq.fill(6)(-13)) == -13)
    // published discipline: after 1..9 the kept window is exactly the
    // last five values {5..9}, so the middle is 7 — the interim
    // flip-on-every-add variant lagged at 5, one more sign the
    // published control flow is the true "median of the last five"
    assert(runMed(1 to 9) == 7, "ascending stream tracks the recent middle")
    assert(runMed(Seq(10, 10, 10, 10, 10, 10, -10, -10, -10, -10, -10, -10)) == -10,
      "a scan-direction flip is absorbed within six points")
    val med = new StreamingMedian5
    med.add(5); assert(med.get == 0) // first value parks at an end slot
    med.reset()
    assert(med.get == 0)
  }

  test("layered return-context tables: transcription structure invariants") {
    // number_return_map_6ctx / number_return_level_8ctx invariants the
    // published tables satisfy — a transcription typo that breaks
    // symmetry or the diagonal would pass round-trip (both sides share
    // the table) but silently diverge from foreign decoders
    for (n <- 0 until 16; r <- 0 until 16) {
      assert(LazLayered.Map6(n)(r) == LazLayered.Map6(r)(n), s"Map6 symmetry at ($n,$r)")
      assert(LazLayered.Map6(n)(r) >= 0 && LazLayered.Map6(n)(r) <= 5)
      assert(LazLayered.Level8(n)(r) == math.min(math.abs(n - r), 7),
        s"Level8($n)($r) is the clamped distance")
    }
    for (k <- 0 until 16) {
      assert(LazLayered.Map6(k)(k) == 0, s"Map6 diagonal at $k")
      if (k < 15) assert(LazLayered.Map6(k)(k + 1) == 1, s"Map6 off-diagonal at $k")
    }
    // the 8x8 top-left block agrees with the v2 map's low-context fold
    // only on the diagonal band; spot-pin a few published interior values
    assert(LazLayered.Map6(0)(5) == 5 && LazLayered.Map6(3)(1) == 3 &&
      LazLayered.Map6(8)(4) == 3 && LazLayered.Map6(15)(0) == 5)
  }

  test("integer compressor: adversarial correctors round-trip at 16 and 32 bits") {
    val vals32 = Array(0, 1, -1, 2, -2, 3, 127, -128, 255, -256, 65535, -65536,
      1 << 20, -(1 << 20), Int.MaxValue, Int.MinValue, Int.MinValue + 1,
      123456789, -987654321) ++ Array.fill(5000)(new scala.util.Random(7).nextInt())
    val encIc = new IntegerCompressor(32, 3)
    val enc = new ArithmeticEncoder
    var pred = 0
    vals32.foreach { v => encIc.compress(enc, pred, v, 1); pred = v }
    enc.done()
    val bytes = enc.result()
    val decIc = new IntegerCompressor(32, 3)
    val dec = new ArithmeticDecoder(bytes, 0, bytes.length)
    pred = 0
    vals32.foreach { v =>
      val got = decIc.decompress(dec, pred, 1)
      assert(got == v, s"32-bit corrector $v decoded as $got")
      pred = v
    }
    // 16-bit domain wraps modulo 2^16 (the intensity compressor). The
    // 0 -> 32768 transition wraps to corrector -32768 = corrMin, whose
    // class k equals corrBits itself — the topmost corrector model index
    val vals16 = Array(0, 32768, 0, 1, 65535, 32768, 32767, 12345, 54321, 65535, 0)
    val e16 = new IntegerCompressor(16, 1)
    val enc2 = new ArithmeticEncoder
    pred = 0
    vals16.foreach { v => e16.compress(enc2, pred, v, 0); pred = v }
    enc2.done()
    val b2 = enc2.result()
    val d16 = new IntegerCompressor(16, 1)
    val dec2 = new ArithmeticDecoder(b2, 0, b2.length)
    pred = 0
    vals16.foreach { v =>
      val got = d16.decompress(dec2, pred, 0)
      assert(got == v, s"16-bit value $v decoded as $got")
      pred = v
    }
  }

  private def fmt0Record(x: Int, y: Int, z: Int, intensity: Int, flags: Int,
      cls: Int, sar: Int, ud: Int, psid: Int): Array[Byte] = {
    val b = new Array[Byte](20)
    LazItemCodec.putI32(b, 0, x); LazItemCodec.putI32(b, 4, y); LazItemCodec.putI32(b, 8, z)
    LazItemCodec.putU16(b, 12, intensity)
    b(14) = flags.toByte; b(15) = cls.toByte; b(16) = sar.toByte; b(17) = ud.toByte
    LazItemCodec.putU16(b, 18, psid)
    b
  }

  test("POINT10 chunk: scan-shaped and adversarial points round-trip bit-exactly") {
    val rnd = new scala.util.Random(11)
    var x = 100000; var y = 2000000; var z = 50
    val pts = Array.tabulate(4000) { i =>
      // mostly scan-line deltas, occasional jumps, varied return contexts
      if (i % 97 == 0) { x += rnd.nextInt(1 << 20) - (1 << 19); y -= rnd.nextInt(1 << 18) }
      else { x += rnd.nextInt(60) - 20; y += rnd.nextInt(8) - 4 }
      z += rnd.nextInt(11) - 5
      val r = 1 + rnd.nextInt(5)
      val n = math.max(r, 1 + rnd.nextInt(5))
      val flags = (r & 7) | ((n & 7) << 3) | (rnd.nextInt(2) << 6) | (rnd.nextInt(2) << 7)
      fmt0Record(x, y, z, rnd.nextInt(4000), flags, rnd.nextInt(32),
        rnd.nextInt(256), rnd.nextInt(8), 17 + (if (rnd.nextInt(50) == 0) rnd.nextInt(3) else 0))
    }
    val records = pts.flatten.toArray
    val chunk = LazFile.encodeChunk(Array(new Point10Codec), records, 0, pts.length, 20)
    assert(chunk.length < records.length,
      s"scan-shaped points must compress (raw ${records.length}, laz ${chunk.length})")
    val back = decodeAll(Array(new Point10Codec), chunk, pts.length, 20)
    assert(java.util.Arrays.equals(back, records))
  }

  test("POINT10 + GPSTIME11 chunk: constant, linear, multi-rate and jumping times round-trip") {
    val rnd = new scala.util.Random(13)
    var t = 123456.789
    val pts = Array.tabulate(6000) { i =>
      val base = fmt0Record(1000 + i, 2000 + (i % 13), 30, i % 1000,
        ((1 + i % 3) & 7) | (((1 + i % 3) & 7) << 3), 2, 0, 0, 1)
      // exercise every gps branch: constant runs, two interleaved rates,
      // tiny jitter (multi 0/negative), and rare full-reset jumps
      if (i % 500 == 499) t += 1e9 + rnd.nextDouble()
      else if (i % 7 == 0) t += 0.0
      else if (i % 2 == 0) t += 0.001
      else t += 0.01 * (1 + (rnd.nextInt(5) - 2) * 0.1)
      val b = new Array[Byte](28)
      System.arraycopy(base, 0, b, 0, 20)
      LazItemCodec.putI64(b, 20, java.lang.Double.doubleToLongBits(t))
      b
    }
    val records = pts.flatten.toArray
    val codecsE: Array[LazItemCodec] = Array(new Point10Codec, new GpsTime11Codec)
    val chunk = LazFile.encodeChunk(codecsE, records, 0, pts.length, 28)
    val codecsD: Array[LazItemCodec] = Array(new Point10Codec, new GpsTime11Codec)
    val back = decodeAll(codecsD, chunk, pts.length, 28)
    assert(java.util.Arrays.equals(back, records))
    assert(chunk.length < records.length)
  }

  test("randomized property: every format x extras x chunk size round-trips bit-exactly") {
    // fully random records (no scan-shaped locality at all) are the
    // adversarial case for every predictor: correctors hit their widest
    // classes, models stay near-uniform, and any state-machine asymmetry
    // between encoder and decoder surfaces as a mismatch
    val rnd = new scala.util.Random(2026)
    for (trial <- 0 until 36) {
      val format = (trial % 6).toByte
      val extra = Seq(0, 3, 17)(trial % 3)
      val items = LazFile.itemsFor(format, extra)
      val stride = items.map(_.size).sum
      val count = 1 + rnd.nextInt(700)
      val records = new Array[Byte](count * stride)
      rnd.nextBytes(records)
      val chunk = LazFile.encodeChunk(LazFile.codecsFor(items), records, 0, count, stride)
      val back = decodeAll(LazFile.codecsFor(items), chunk, count, stride)
      assert(java.util.Arrays.equals(back, records),
        s"trial $trial: format $format extra $extra count $count failed round trip")
    }
  }

  private def fmt6Record(x: Int, y: Int, z: Int, intensity: Int, r: Int, n: Int,
      clsFlags: Int, channel: Int, scanDir: Int, edge: Int, cls: Int, ud: Int,
      angle: Int, psid: Int, t: Double): Array[Byte] = {
    val b = new Array[Byte](30)
    LazItemCodec.putI32(b, 0, x); LazItemCodec.putI32(b, 4, y); LazItemCodec.putI32(b, 8, z)
    LazItemCodec.putU16(b, 12, intensity)
    b(14) = ((r & 0xF) | ((n & 0xF) << 4)).toByte
    b(15) = ((clsFlags & 0xF) | ((channel & 3) << 4) | ((scanDir & 1) << 6) | ((edge & 1) << 7)).toByte
    b(16) = cls.toByte; b(17) = ud.toByte
    LazItemCodec.putU16(b, 18, angle & 0xFFFF)
    LazItemCodec.putU16(b, 20, psid)
    LazItemCodec.putI64(b, 22, java.lang.Double.doubleToLongBits(t))
    b
  }

  /** Scan-shaped format-6 records from two interleaved scanner channels. */
  private def scanShaped14(count: Int, seed: Int): Array[Byte] = {
    val rnd = new scala.util.Random(seed)
    // two interleaved scanner channels with distinct trajectories and
    // time bases — the per-channel contexts must keep them apart
    val st = Array.tabulate(2)(ch =>
      Array(100000 + ch * 500000, 2000000 - ch * 100000, 50 + ch * 10))
    val ts = Array(123456.789, 900000.125)
    val pts = Array.tabulate(count) { i =>
      val ch = if (rnd.nextInt(10) == 0) rnd.nextInt(2) else i % 2
      val s = st(ch)
      if (i % 97 == 0) { s(0) += rnd.nextInt(1 << 19) - (1 << 18); s(1) -= rnd.nextInt(1 << 17) }
      else { s(0) += rnd.nextInt(60) - 20; s(1) += rnd.nextInt(8) - 4 }
      s(2) += rnd.nextInt(9) - 4
      ts(ch) += (if (i % 6 == 0) 0.0 else 0.0005 * (1 + rnd.nextInt(4)))
      val r = 1 + rnd.nextInt(9) // extended 4-bit returns
      val n = math.max(r, 1 + rnd.nextInt(9))
      fmt6Record(s(0), s(1), s(2), rnd.nextInt(5000), r, n,
        rnd.nextInt(16), ch, rnd.nextInt(2), rnd.nextInt(2),
        rnd.nextInt(64), rnd.nextInt(6), rnd.nextInt(1 << 16) - 32768,
        17 + (if (rnd.nextInt(40) == 0) rnd.nextInt(3) else 0), ts(ch))
    }
    pts.flatten
  }

  test("POINT14 layered chunk: multi-channel scan-shaped points round-trip bit-exactly") {
    val records = scanShaped14(5000, 17)
    val pts = records.grouped(30).toArray
    val items = LazFile.itemsFor(6)
    val chunk = LazFile.encodeChunkLayered(LazFile.codecsLayeredFor(items), records, 0, pts.length, 30)
    assert(chunk.length < records.length,
      s"scan-shaped 1.4 points must compress (raw ${records.length}, laz ${chunk.length})")
    val back = decodeAllLayered(LazFile.codecsLayeredFor(items), chunk, pts.length, 30)
    assert(java.util.Arrays.equals(back, records))
  }

  /** Per record byte of a (format, stride) chunk: its layer's index. */
  private def layerOfByte(format: Byte, stride: Int): Array[Int] = {
    var first = 0
    LazFile.itemsFor(format, stride - graft.pointcloud.las.LasHeader.recordLength(format))
      .toArray.flatMap { it =>
        val (byteLayer, names) = LazFile.itemLayers(it)
        val global = byteLayer.map(_ + first)
        first += names.length
        global
      }
  }

  test("selective layered decode: every decoded layer is bit-exact, for random layer sets") {
    // random records switch among all four channels and hit every
    // corrector class; scan-shaped ones exercise mid-chunk channel seeding
    // on realistic predictions. For each, decode random field subsets and
    // require every byte of every decoded layer to match the source.
    val rnd = new scala.util.Random(77)
    for (trial <- 0 until 40) {
      val format = Seq(6, 7, 8, 9, 10)(trial % 5).toByte
      val extra = Seq(0, 5)((trial / 5) % 2)
      val stride = LazFile.itemsFor(format, extra).map(_.size).sum
      val count = 1 + rnd.nextInt(800)
      val records =
        if (format == 6 && extra == 0 && trial % 2 == 0) scanShaped14(count, trial)
        else { val b = new Array[Byte](count * stride); rnd.nextBytes(b); b }
      val chunk = new LazChunkEncoder(format, stride).encode(records, 0, count)
      val all = new LazChunkDecoder(format, stride).decode(chunk, count)
      assert(java.util.Arrays.equals(all, 0, count * stride, records, 0, count * stride))
      val layerOf = layerOfByte(format, stride)
      for (subset <- 0 until 6) {
        val needed = Array.fill(stride)(rnd.nextInt(6) == 0)
        val layers = LazChunkDecoder.layersFor(format, stride, needed)
        assert(layers(0), "the XY layer is always decoded")
        assert(needed.indices.forall(b => !needed(b) || layers(layerOf(b))))
        val dec = new LazChunkDecoder(format, stride, layers)
        val back = dec.decode(chunk, count)
        for (i <- 0 until count; b <- 0 until stride if layers(layerOf(b)))
          assert(back(i * stride + b) == records(i * stride + b),
            s"trial $trial subset $subset: format $format record $i byte $b " +
              s"(layer ${LazChunkDecoder.layerNames(format, stride)(layerOf(b))})")
      }
    }
  }

  test("the layer table follows the POINT14 fields; pointwise formats have one stream") {
    val names = LazChunkDecoder.layerNames(6, 30)
    def decoded(bytes: Range*): Seq[String] = {
      val on = LazChunkDecoder.layersFor(6, 30, b => bytes.exists(_.contains(b)))
      names.zip(on).collect { case (n, true) => n }.toSeq
    }
    assert(decoded(0 until 4) == Seq("xy")) // x
    assert(decoded(14 until 15) == Seq("xy")) // return
    assert(decoded(8 until 12) == Seq("xy", "z"))
    assert(decoded(15 until 16) == Seq("xy", "flags"))
    assert(decoded(22 until 30, 12 until 14) == Seq("xy", "intensity", "gps"))
    assert(decoded(16 until 18, 18 until 22) ==
      Seq("xy", "classification", "angle", "user", "source"))
    assert(LazChunkDecoder.layerNames(8, 38 + 2).toSeq.takeRight(4) ==
      Seq("rgb", "nir", "extra0", "extra1"))
    assert(LazChunkDecoder.layerNames(1, 28).toSeq == Seq("pointwise"))
    assert(LazChunkDecoder.layersFor(1, 28, _ => false).toSeq == Seq(true))
  }

  test("one decoder reused across chunks of any size decodes each like a fresh one") {
    // the decoder's chunk and record buffers only grow, so a small chunk
    // after a large one must still decode exactly its own records
    val rnd = new scala.util.Random(9)
    for ((format, stride) <- Seq((1.toByte, 28), (6.toByte, 30), (8.toByte, 41))) {
      val enc = new LazChunkEncoder(format, stride)
      val chunks = Seq(3000, 40, 1, 700).map { count =>
        val records =
          if (format == 6) scanShaped14(count, count)
          else { val b = new Array[Byte](count * stride); rnd.nextBytes(b); b }
        (records, enc.encode(records, 0, count), count)
      }
      val shared = new LazChunkDecoder(format, stride)
      chunks.foreach { case (records, chunk, count) =>
        // padded like a reused read buffer: only the first len bytes count
        val padded = java.util.Arrays.copyOf(chunk, chunk.length + 64)
        java.util.Arrays.fill(padded, chunk.length, padded.length, 0x5A.toByte)
        val back = shared.decode(padded, chunk.length, count)
        assert(java.util.Arrays.equals(back, 0, count * stride, records, 0, count * stride),
          s"format $format: $count-point chunk after reuse")
      }
    }
  }

  test("layered randomized property: formats 6-10 x extras x counts round-trip bit-exactly") {
    // fully random records exercise every context/model branch including
    // 4-channel switching, gps jumps, and the widest corrector classes
    val rnd = new scala.util.Random(4013)
    for (trial <- 0 until 30) {
      val format = Seq(6, 7, 8, 9, 10)(trial % 5).toByte
      val extra = Seq(0, 4, 11)((trial / 5) % 3)
      val items = LazFile.itemsFor(format, extra)
      val stride = items.map(_.size).sum
      val count = 1 + rnd.nextInt(600)
      val records = new Array[Byte](count * stride)
      rnd.nextBytes(records)
      val chunk = LazFile.encodeChunkLayered(LazFile.codecsLayeredFor(items), records, 0, count, stride)
      val back = decodeAllLayered(LazFile.codecsLayeredFor(items), chunk, count, stride)
      assert(java.util.Arrays.equals(back, records),
        s"trial $trial: format $format extra $extra count $count failed round trip")
    }
  }

  test("golden-byte pins: encoder output is frozen per format family") {
    // Self-round-trip cannot catch a change that breaks byte compatibility
    // with the codec's OWN past output — an "equivalent" refactor would
    // silently make every written .laz corpus unreadable. These pins
    // freeze the encoder's exact bytes on a deterministic scan-shaped
    // fixture per format family (strongest interop statement possible in
    // a container with no external .laz fixture — see LazEntropy's
    // verification note). If a pin fails after an INTENTIONAL bitstream
    // change, regenerate via Test/runMain ...LazGoldenPin and bump the
    // connector layout marker (round 13 precedent).
    val pins = Seq(
      ("fmt0-extra0", 13956, "8b4e91e0f0d44c4f89493fb015625c9ae235237d406b703f66eb6057bd0c3c27", "6fecffff68cd1d002f000000e3001a00"),
      ("fmt1-extra0", 14916, "79f7a24fc5568d766f5e4e1702af271eac40d20ea6c59b8e928c5582a5b675bd", "6fecffff68cd1d002f000000e3001a00"),
      ("fmt2-extra0", 23799, "ca0293b56514859debe05c677eaa4bc46970d3faa160e7c0edf35f0d30599d68", "6fecffff68cd1d002f000000e3001a00"),
      ("fmt3-extra5", 34959, "d14cd8b33a7b2141daa3241447cd2c2f5cb34fe787d8fedf331784f0f1c354ea", "6fecffff68cd1d002f000000e3001a00"),
      ("fmt5-extra0", 47492, "cfc3933afbc6375a0621c7db64af1d18a7e6c23ffb44622f8d451270ea65b786", "6fecffff68cd1d002f000000e3001a00"),
      ("fmt6-extra0", 18631, "b9b6dc4bb887546f913d13a54095589db19f9d3e8ac9bfd86c8cb8a0486d4ed3", "3095000025e91d0031000000a40988c2"),
      ("fmt7-extra0", 29046, "1cd49dbc6a64bb5fcb10c71fbbe472b4ab5da6ebec0fda5e6170a8f2ebd4b994", "3095000025e91d0031000000a40988c2"),
      ("fmt8-extra3", 38137, "0191fa4a5f0153957b93c8a6c7e14b4759090c0efde62f1b14fe081cd3b24d33", "3095000025e91d0031000000a40988c2"),
      ("fmt9-extra0", 42007, "960673d68424ef9c5061e07ee8512d679e40f35e5718ccbf072f75f44ce8f089", "3095000025e91d0031000000a40988c2"))
    pins.foreach { case (label, len, sha, prefix) =>
      val Array(f, e) = label.stripPrefix("fmt").split("-extra")
      val items = LazFile.itemsFor(f.toByte, e.toInt)
      val stride = items.map(_.size).sum
      val layered = f.toByte >= 6
      val recs =
        if (layered) LazGoldenPin.records14(f.toByte, e.toInt, 2000)
        else LazGoldenPin.records(f.toByte, e.toInt, 2000)
      val chunk =
        if (layered)
          LazFile.encodeChunkLayered(LazFile.codecsLayeredFor(items), recs, 0, 2000, stride)
        else LazFile.encodeChunk(LazFile.codecsFor(items), recs, 0, 2000, stride)
      assert(chunk.length == len, s"$label: length drifted to ${chunk.length}")
      assert(LazGoldenPin.hex(chunk, 16) == prefix,
        s"$label: first bytes drifted to ${LazGoldenPin.hex(chunk, 16)}")
      assert(LazGoldenPin.sha256(chunk) == sha,
        s"$label: byte-level codec drift (sha ${LazGoldenPin.sha256(chunk)})")
    }
    // the chunk-table coder is a bitstream too
    val table = LazFile.chunkTableBytes(Seq(52341L, 49877L, 51002L, 1203L))
    assert(table.length == 18 && LazGoldenPin.sha256(table) ==
      "75fa8fff3884495d47665b6d66e7cdafd30e6b667c37283c97e01956acf2849e")
  }

  test("chunk table and LAZ VLR payload round-trip; golden container fields") {
    val counts = Seq(52341L, 49877L, 51002L, 1203L)
    val table = LazFile.chunkTableBytes(counts)
    // golden header fields: u32 version 0, u32 chunk count, little-endian
    assert(table(0) == 0 && table(1) == 0 && table(2) == 0 && table(3) == 0)
    assert((table(4) & 0xFF) == counts.size && table(5) == 0)
    assert(LazFile.parseChunkTable(table, counts.length)._1.toSeq == counts)

    val vlr = LazFile.LazVlr(LazFile.CompressorChunked, 0, 50000, LazFile.itemsFor(1))
    val payload = LazFile.vlrPayload(vlr)
    // golden: compressor 2 (pointwise chunked), coder 0 (arithmetic),
    // chunk size at offset 12, item count 2 at offset 32,
    // items (POINT10, 20, v2) and (GPSTIME11, 8, v2)
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(bb.getShort(0) == 2 && bb.getShort(2) == 0)
    assert(bb.getInt(12) == 50000)
    assert(bb.getShort(32) == 2)
    assert(bb.getShort(34) == 6 && bb.getShort(36) == 20 && bb.getShort(38) == 2)
    assert(bb.getShort(40) == 7 && bb.getShort(42) == 8 && bb.getShort(44) == 2)
    val parsed = LazFile.parseVlrPayload(payload)
    assert(parsed == vlr)
  }

  test("variable chunk table round-trips irregular point/byte counts") {
    val pts = Seq(700L, 1300L, 250L, 1L, 1L << 24)
    val bts = Seq(91234L, 5L, Int.MaxValue.toLong, 1L, 77L)
    val (gotBts, Some(gotPts)) = LazFile.parseChunkTable(
      LazFile.chunkTableBytes(bts, Some(pts)), pts.length, variable = true)
    assert(gotPts.toSeq == pts)
    assert(gotBts.toSeq == bts)
    // the declared entry count is validated BEFORE allocation: a bound
    // below it must reject (the corrupt-table multi-GB allocation guard)
    val err = intercept[IllegalArgumentException] {
      LazFile.parseChunkTable(
        LazFile.chunkTableBytes(bts, Some(pts)), pts.length - 1, variable = true)
    }
    assert(err.getMessage.contains("outside the plausible bound"))
    // a -1 chunk size in the VLR survives the u32 field round trip
    val vlr = LazFile.LazVlr(LazFile.CompressorChunked, 0, -1, LazFile.itemsFor(0))
    assert(LazFile.parseVlrPayload(LazFile.vlrPayload(vlr)).chunkSize == -1)
  }
}
