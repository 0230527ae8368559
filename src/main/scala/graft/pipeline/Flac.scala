package graft.pipeline

/** Pure-JVM FLAC codec (decode + fixture-grade encode), implementing the
  * public xiph.org FLAC format specification (RFC 9639). Closes the
  * compressed-audio side of the documented [[Multimodal]] stub boundary:
  * FLAC payloads now get REAL sample decode — rice-coded residuals,
  * CONSTANT/VERBATIM/FIXED/LPC subframes, left/right/mid-side stereo
  * decorrelation — not just header metadata.
  *
  * Decoded PCM feeds the existing javax.sound feature path through a
  * canonical in-memory WAV wrap ([[decodeToWav]]), so FLAC items share
  * the exact RMS/ZCR/fingerprint semantics of WAV/AU/AIFF items, and a
  * lossless re-encode of a WAV fixture must reproduce its features
  * bit-for-bit (the oracle contract in `multimodal_decode_stats`).
  *
  * The encoder exists to manufacture spec-exact fixtures in-repo (the
  * same pattern as [[MediaMeta.writeMp3]] / writeH264): STREAMINFO +
  * fixed-blocksize frames, per-channel best-of FIXED order 0–2
  * prediction with single-partition rice residuals, optional mid/side.
  */
object Flac {

  /** Decoded stream: samples(channel)(i), channel-deinterleaved. */
  final case class FlacAudio(sampleRate: Int, channels: Int,
                             bitsPerSample: Int, totalSamples: Long,
                             samples: Array[Array[Int]])

  def isFlac(b: Array[Byte]): Boolean =
    b.length > 42 && b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C'

  // ------------------------------------------------------------ bit io

  private final class BitReader(val b: Array[Byte]) {
    var pos = 0L // in bits
    def read(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) {
        val byte = b((pos >> 3).toInt) & 0xFF
        val bit = (byte >> (7 - (pos & 7).toInt)) & 1
        v = (v << 1) | bit
        pos += 1
        i += 1
      }
      v
    }
    def readSigned(n: Int): Long = {
      val v = read(n)
      if (n > 0 && (v & (1L << (n - 1))) != 0) v - (1L << n) else v
    }
    def readUnary(): Int = {
      var q = 0
      while (read(1) == 0L) q += 1
      q
    }
    def alignByte(): Unit = pos = (pos + 7) & ~7L
    def bytePos: Int = (pos >> 3).toInt
    def remainingBits: Long = b.length.toLong * 8 - pos
  }

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0
    def write(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1L).toInt
        nBits += 1
        if (nBits == 8) { out.write(cur); cur = 0; nBits = 0 }
        i -= 1
      }
    }
    def writeUnary(q: Int): Unit = { write(0L, q); write(1L, 1) }
    def alignByte(): Unit = if (nBits > 0) write(0L, 8 - nBits)
    def toBytes: Array[Byte] = { alignByte(); out.toByteArray }
  }

  // CRC-8 poly 0x07 (frame header) and CRC-16 poly 0x8005 (frame), both
  // init 0 — RFC 9639 §9.1.1/§9.3
  private[pipeline] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= b(i) & 0xFF
      var k = 0
      while (k < 8) {
        c = if ((c & 0x80) != 0) ((c << 1) ^ 0x07) & 0xFF else (c << 1) & 0xFF
        k += 1
      }
      i += 1
    }
    c
  }

  private[pipeline] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var c = 0
    var i = from
    while (i < until) {
      c ^= (b(i) & 0xFF) << 8
      var k = 0
      while (k < 8) {
        c = if ((c & 0x8000) != 0) ((c << 1) ^ 0x8005) & 0xFFFF
            else (c << 1) & 0xFFFF
        k += 1
      }
      i += 1
    }
    c
  }

  // ------------------------------------------------------------ decode

  /** Decode a complete FLAC stream. None when the payload is not FLAC
    * or any frame is malformed (a training pipeline counts, not
    * crashes, on corrupt media). */
  def decode(bytes: Array[Byte]): Option[FlacAudio] =
    try decodeOrThrow(bytes) catch {
      case scala.util.control.NonFatal(_) => None
    }

  private def decodeOrThrow(bytes: Array[Byte]): Option[FlacAudio] = {
    if (!isFlac(bytes)) return None
    var off = 4
    var sampleRate = 0
    var channels = 0
    var bps = 0
    var totalSamples = 0L
    var last = false
    var seenStreamInfo = false
    while (!last) {
      val hdr = bytes(off) & 0xFF
      last = (hdr & 0x80) != 0
      val btype = hdr & 0x7F
      val len = ((bytes(off + 1) & 0xFF) << 16) | ((bytes(off + 2) & 0xFF) << 8) |
        (bytes(off + 3) & 0xFF)
      if (btype == 0) { // STREAMINFO
        val r = new BitReader(bytes)
        r.pos = (off + 4).toLong * 8
        r.read(16); r.read(16) // min/max block size
        r.read(24); r.read(24) // min/max frame size
        sampleRate = r.read(20).toInt
        channels = r.read(3).toInt + 1
        bps = r.read(5).toInt + 1
        totalSamples = r.read(36)
        seenStreamInfo = true
      }
      off += 4 + len
    }
    require(seenStreamInfo, "no STREAMINFO block")
    require(channels >= 1 && channels <= 8 && sampleRate > 0, "bad streaminfo")
    val chans = Array.fill(channels)(
      new scala.collection.mutable.ArrayBuffer[Int]())
    val r = new BitReader(bytes)
    r.pos = off.toLong * 8
    while (r.remainingBits >= 16 &&
        (totalSamples == 0 || chans(0).length < totalSamples)) {
      decodeFrame(r, sampleRate, bps, channels, chans)
    }
    Some(FlacAudio(sampleRate, channels, bps, chans(0).length.toLong,
      chans.map(_.toArray)))
  }

  private def decodeFrame(r: BitReader, siRate: Int, siBps: Int,
                          siChans: Int,
                          out: Array[scala.collection.mutable.ArrayBuffer[Int]])
      : Unit = {
    require(r.read(14) == 0x3FFEL, "lost frame sync")
    r.read(1) // reserved
    r.read(1) // blocking strategy
    val bsCode = r.read(4).toInt
    val srCode = r.read(4).toInt
    val chanAsn = r.read(4).toInt
    val ssCode = r.read(3).toInt
    r.read(1) // reserved
    readUtf8Number(r) // frame/sample number (sequential decode ignores it)
    val blockSize = bsCode match {
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => r.read(8).toInt + 1
      case 7 => r.read(16).toInt + 1
      case c if c >= 8 => 256 << (c - 8)
      case _ => throw new IllegalStateException(s"reserved blocksize $bsCode")
    }
    srCode match { // value unused beyond consuming the bits
      case 12 => r.read(8)
      case 13 | 14 => r.read(16)
      case 15 => throw new IllegalStateException("invalid sample rate code")
      case _ => ()
    }
    val bps = ssCode match {
      case 0 => siBps
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case 7 => 32
      case _ => throw new IllegalStateException(s"reserved sample size $ssCode")
    }
    r.read(8) // header CRC-8 (already byte-aligned here)
    val (nch, mode) =
      if (chanAsn <= 7) (chanAsn + 1, -1)
      else if (chanAsn <= 10) (2, chanAsn) // 8 L/S, 9 R/S, 10 M/S
      else throw new IllegalStateException(s"reserved channels $chanAsn")
    require(nch == siChans, "frame/streaminfo channel mismatch")
    val sub = Array.ofDim[Array[Long]](nch)
    var ch = 0
    while (ch < nch) {
      // the SIDE channel carries one extra bit (RFC 9639 §9.2.2)
      val extra = mode match {
        case 8 | 10 => if (ch == 1) 1 else 0
        case 9 => if (ch == 0) 1 else 0
        case _ => 0
      }
      sub(ch) = decodeSubframe(r, blockSize, bps + extra)
      ch += 1
    }
    r.alignByte()
    r.read(16) // frame CRC-16
    // undo inter-channel decorrelation (§4.2: libFLAC reconstruction)
    mode match {
      case 8 => // left/side: ch0 = L, ch1 = S; R = L - S
        var i = 0
        while (i < blockSize) {
          out(0) += sub(0)(i).toInt
          out(1) += (sub(0)(i) - sub(1)(i)).toInt
          i += 1
        }
      case 9 => // right/side: ch0 = S, ch1 = R; L = R + S
        var i = 0
        while (i < blockSize) {
          out(0) += (sub(1)(i) + sub(0)(i)).toInt
          out(1) += sub(1)(i).toInt
          i += 1
        }
      case 10 => // mid/side
        var i = 0
        while (i < blockSize) {
          val side = sub(1)(i)
          val mid = (sub(0)(i) << 1) | (side & 1L)
          out(0) += ((mid + side) >> 1).toInt
          out(1) += ((mid - side) >> 1).toInt
          i += 1
        }
      case _ =>
        var c = 0
        while (c < nch) {
          var i = 0
          while (i < blockSize) { out(c) += sub(c)(i).toInt; i += 1 }
          c += 1
        }
    }
  }

  private def readUtf8Number(r: BitReader): Long = {
    val b0 = r.read(8).toInt
    var n = 0
    var v = 0L
    if ((b0 & 0x80) == 0) return b0.toLong
    else if ((b0 & 0xE0) == 0xC0) { n = 1; v = b0 & 0x1F }
    else if ((b0 & 0xF0) == 0xE0) { n = 2; v = b0 & 0x0F }
    else if ((b0 & 0xF8) == 0xF0) { n = 3; v = b0 & 0x07 }
    else if ((b0 & 0xFC) == 0xF8) { n = 4; v = b0 & 0x03 }
    else if ((b0 & 0xFE) == 0xFC) { n = 5; v = b0 & 0x01 }
    else if (b0 == 0xFE) { n = 6; v = 0 }
    else throw new IllegalStateException("bad UTF-8 coded number")
    var i = 0
    while (i < n) {
      val c = r.read(8).toInt
      require((c & 0xC0) == 0x80, "bad UTF-8 continuation")
      v = (v << 6) | (c & 0x3F)
      i += 1
    }
    v
  }

  private def decodeSubframe(r: BitReader, n: Int, bps: Int): Array[Long] = {
    require(r.read(1) == 0L, "subframe pad bit")
    val ty = r.read(6).toInt
    val wasted =
      if (r.read(1) == 1L) 1 + r.readUnary() else 0
    val eb = bps - wasted
    val x = new Array[Long](n)
    if (ty == 0) { // CONSTANT
      val v = r.readSigned(eb)
      java.util.Arrays.fill(x, v)
    } else if (ty == 1) { // VERBATIM
      var i = 0
      while (i < n) { x(i) = r.readSigned(eb); i += 1 }
    } else if (ty >= 8 && ty <= 12) { // FIXED, order 0-4
      val order = ty - 8
      var i = 0
      while (i < order) { x(i) = r.readSigned(eb); i += 1 }
      val res = decodeResidual(r, n, order)
      i = order
      while (i < n) {
        val p = order match {
          case 0 => 0L
          case 1 => x(i - 1)
          case 2 => 2 * x(i - 1) - x(i - 2)
          case 3 => 3 * x(i - 1) - 3 * x(i - 2) + x(i - 3)
          case 4 => 4 * x(i - 1) - 6 * x(i - 2) + 4 * x(i - 3) - x(i - 4)
        }
        x(i) = res(i - order) + p
        i += 1
      }
    } else if (ty >= 32) { // LPC, order 1-32
      val order = (ty & 31) + 1
      var i = 0
      while (i < order) { x(i) = r.readSigned(eb); i += 1 }
      val precision = r.read(4).toInt + 1
      require(precision <= 15, "invalid LPC precision")
      val shift = r.readSigned(5).toInt
      require(shift >= 0, "negative LPC shift")
      val coef = new Array[Long](order)
      i = 0
      while (i < order) { coef(i) = r.readSigned(precision); i += 1 }
      val res = decodeResidual(r, n, order)
      i = order
      while (i < n) {
        var acc = 0L
        var j = 0
        while (j < order) { acc += coef(j) * x(i - 1 - j); j += 1 }
        x(i) = res(i - order) + (acc >> shift)
        i += 1
      }
    } else throw new IllegalStateException(s"reserved subframe type $ty")
    if (wasted > 0) {
      var i = 0
      while (i < n) { x(i) = x(i) << wasted; i += 1 }
    }
    x
  }

  private def decodeResidual(r: BitReader, blockSize: Int,
                             predOrder: Int): Array[Long] = {
    val method = r.read(2).toInt // 0: 4-bit rice, 1: 5-bit rice2
    require(method <= 1, "reserved residual method")
    val paramBits = if (method == 0) 4 else 5
    val escape = (1 << paramBits) - 1
    val pOrder = r.read(4).toInt
    val parts = 1 << pOrder
    require(blockSize % parts == 0, "partition/blocksize mismatch")
    val out = new Array[Long](blockSize - predOrder)
    var idx = 0
    var p = 0
    while (p < parts) {
      val cnt = (blockSize >> pOrder) - (if (p == 0) predOrder else 0)
      val param = r.read(paramBits).toInt
      if (param == escape) {
        val raw = r.read(5).toInt
        var i = 0
        while (i < cnt) {
          out(idx) = if (raw == 0) 0L else r.readSigned(raw)
          idx += 1; i += 1
        }
      } else {
        var i = 0
        while (i < cnt) {
          val q = r.readUnary()
          val u = (q.toLong << param) | r.read(param)
          out(idx) = (u >>> 1) ^ -(u & 1L) // zigzag → signed
          idx += 1; i += 1
        }
      }
      p += 1
    }
    out
  }

  /** FLAC → canonical 16-bit little-endian PCM WAV bytes, so decoded
    * FLAC flows through the identical javax.sound feature/fingerprint
    * path as native WAV (no duplicated stat semantics). None when the
    * payload is not decodable FLAC or not 16-bit. */
  def decodeToWav(bytes: Array[Byte]): Option[Array[Byte]] =
    decode(bytes).filter(_.bitsPerSample == 16).map { a =>
      val n = a.samples(0).length
      val data = new Array[Byte](n * a.channels * 2)
      var i = 0
      while (i < n) {
        var c = 0
        while (c < a.channels) {
          val v = a.samples(c)(i)
          val o = (i * a.channels + c) * 2
          data(o) = (v & 0xFF).toByte
          data(o + 1) = ((v >> 8) & 0xFF).toByte
          c += 1
        }
        i += 1
      }
      val bb = java.nio.ByteBuffer.allocate(44 + data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(a.channels.toShort)
        .putInt(a.sampleRate).putInt(a.sampleRate * a.channels * 2)
        .putShort((a.channels * 2).toShort).putShort(16)
        .put("data".getBytes("US-ASCII")).putInt(data.length)
        .put(data)
      bb.array()
    }

  // ------------------------------------------------------------ encode

  /** Encode 16-bit PCM (samples(channel)(i)) as a spec-exact FLAC
    * stream: STREAMINFO + fixed-blocksize frames, per-channel best-of
    * FIXED order 0/1/2 with a single rice partition; `midSide` stores
    * stereo as mid/side (decoder-visible decorrelation coverage). */
  def encode(samples: Array[Array[Int]], sampleRate: Int,
             blockSize: Int = 4096, midSide: Boolean = false,
             lpcMode: Boolean = false): Array[Byte] = {
    val channels = samples.length
    require(channels >= 1 && channels <= 8, "1-8 channels")
    require(!midSide || channels == 2, "midSide requires stereo")
    val n = samples(0).length
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO (last metadata block)
    val si = new BitWriter
    si.write(blockSize.toLong, 16); si.write(blockSize.toLong, 16)
    si.write(0L, 24); si.write(0L, 24) // frame sizes unknown
    si.write(sampleRate.toLong, 20)
    si.write((channels - 1).toLong, 3)
    si.write(15L, 5) // bps - 1 = 15
    si.write(n.toLong, 36)
    (0 until 16).foreach(_ => si.write(0L, 8)) // MD5 unknown
    val siBytes = si.toBytes
    out.write(0x80) // last-block flag | type 0
    out.write(0); out.write(0); out.write(siBytes.length)
    out.write(siBytes)
    var frameNo = 0L
    var start = 0
    while (start < n) {
      val bs = math.min(blockSize, n - start)
      out.write(encodeFrame(samples, start, bs, sampleRate, frameNo,
        midSide, lpcMode))
      start += bs
      frameNo += 1
    }
    out.toByteArray
  }

  private def encodeFrame(samples: Array[Array[Int]], start: Int, bs: Int,
                          sampleRate: Int, frameNo: Long,
                          midSide: Boolean, lpcMode: Boolean): Array[Byte] = {
    val channels = samples.length
    val w = new BitWriter
    w.write(0x3FFEL, 14) // sync
    w.write(0L, 1); w.write(0L, 1) // reserved, fixed-blocksize strategy
    w.write(7L, 4)  // blocksize: 16-bit field follows
    w.write(0L, 4)  // sample rate: from STREAMINFO
    w.write(if (midSide) 10L else (channels - 1).toLong, 4)
    w.write(4L, 3)  // sample size: 16-bit
    w.write(0L, 1)  // reserved
    writeUtf8Number(w, frameNo)
    w.write((bs - 1).toLong, 16)
    val headerBytes = w.toBytes // byte-aligned by construction
    val w2 = new BitWriter
    headerBytes.foreach(b => w2.write((b & 0xFF).toLong, 8))
    w2.write(crc8(headerBytes, 0, headerBytes.length).toLong, 8)
    if (midSide) {
      val mid = new Array[Long](bs)
      val side = new Array[Long](bs)
      var i = 0
      while (i < bs) {
        val l = samples(0)(start + i).toLong
        val r = samples(1)(start + i).toLong
        mid(i) = (l + r) >> 1
        side(i) = l - r
        i += 1
      }
      encodeSubframe(w2, mid, 16, lpcMode)
      encodeSubframe(w2, side, 17, lpcMode)
    } else {
      var c = 0
      while (c < channels) {
        val x = new Array[Long](bs)
        var i = 0
        while (i < bs) { x(i) = samples(c)(start + i).toLong; i += 1 }
        encodeSubframe(w2, x, 16, lpcMode)
        c += 1
      }
    }
    w2.alignByte()
    val body = w2.toBytes
    val w3 = new BitWriter
    body.foreach(b => w3.write((b & 0xFF).toLong, 8))
    w3.write(crc16(body, 0, body.length).toLong, 16)
    w3.toBytes
  }

  private def writeUtf8Number(w: BitWriter, v: Long): Unit =
    if (v < 0x80) w.write(v, 8)
    else if (v < 0x800) {
      w.write(0xC0L | (v >> 6), 8); w.write(0x80L | (v & 0x3F), 8)
    } else if (v < 0x10000) {
      w.write(0xE0L | (v >> 12), 8)
      w.write(0x80L | ((v >> 6) & 0x3F), 8)
      w.write(0x80L | (v & 0x3F), 8)
    } else {
      w.write(0xF0L | (v >> 18), 8)
      w.write(0x80L | ((v >> 12) & 0x3F), 8)
      w.write(0x80L | ((v >> 6) & 0x3F), 8)
      w.write(0x80L | (v & 0x3F), 8)
    }

  /** Best-of FIXED order 0/1/2 by exact rice cost, single partition.
    * `lpc` instead emits an order-2 LPC subframe with coefficients
    * [2, -1] shift 0 (numerically the fixed-2 predictor, but through
    * the LPC bitstream layout — decoder-coverage for the LPC path). */
  private def encodeSubframe(w: BitWriter, x: Array[Long], bps: Int,
                             lpc: Boolean): Unit = {
    val n = x.length
    if (lpc && n >= 3) {
      val res = new Array[Long](n - 2)
      var i = 2
      while (i < n) { res(i - 2) = x(i) - 2 * x(i - 1) + x(i - 2); i += 1 }
      var bestP = 0
      var bestCost = Long.MaxValue
      var p = 0
      while (p <= 14) {
        var cost = 0L
        var j = 0
        while (j < res.length) {
          val u = (res(j) << 1) ^ (res(j) >> 63)
          cost += (u >>> p) + 1 + p
          j += 1
        }
        if (cost < bestCost) { bestCost = cost; bestP = p }
        p += 1
      }
      w.write(0L, 1)            // pad
      w.write(33L, 6)           // LPC, order 2 (0b100000 | (2-1))
      w.write(0L, 1)            // no wasted bits
      w.write(x(0) & ((1L << bps) - 1), bps)
      w.write(x(1) & ((1L << bps) - 1), bps)
      w.write(3L, 4)            // precision - 1 = 3 → 4-bit coefficients
      w.write(0L, 5)            // shift 0
      w.write(2L & 0xF, 4)      // coef[0] = 2
      w.write(-1L & 0xF, 4)     // coef[1] = -1
      w.write(0L, 2)            // rice method 0
      w.write(0L, 4)            // one partition
      w.write(bestP.toLong, 4)
      var j = 0
      while (j < res.length) {
        val u = (res(j) << 1) ^ (res(j) >> 63)
        w.writeUnary((u >>> bestP).toInt)
        w.write(u & ((1L << bestP) - 1), bestP)
        j += 1
      }
      return
    }
    def residual(order: Int): Array[Long] = {
      val r = new Array[Long](n - order)
      var i = order
      while (i < n) {
        r(i - order) = order match {
          case 0 => x(i)
          case 1 => x(i) - x(i - 1)
          case 2 => x(i) - 2 * x(i - 1) + x(i - 2)
        }
        i += 1
      }
      r
    }
    def bestParam(res: Array[Long]): (Int, Long) = {
      var best = -1
      var bestCost = Long.MaxValue
      var p = 0
      while (p <= 14) {
        var cost = 0L
        var i = 0
        while (i < res.length) {
          val u = (res(i) << 1) ^ (res(i) >> 63)
          cost += (u >>> p) + 1 + p
          i += 1
        }
        if (cost < bestCost) { bestCost = cost; best = p }
        p += 1
      }
      (best, bestCost)
    }
    val candidates = (0 to math.min(2, n - 1)).map { o =>
      val res = residual(o)
      val (p, c) = bestParam(res)
      (o, res, p, c + o.toLong * bps)
    }
    val (order, res, param, _) = candidates.minBy(_._4)
    w.write(0L, 1)                     // pad
    w.write((8 + order).toLong, 6)     // FIXED subframe type
    w.write(0L, 1)                     // no wasted bits
    var i = 0
    while (i < order) { // warmup, sign-preserving bps-bit field
      w.write(x(i) & ((1L << bps) - 1), bps)
      i += 1
    }
    w.write(0L, 2)      // residual method 0 (4-bit rice)
    w.write(0L, 4)      // partition order 0 → one partition
    w.write(param.toLong, 4)
    i = 0
    while (i < res.length) {
      val u = (res(i) << 1) ^ (res(i) >> 63)
      w.writeUnary((u >>> param).toInt)
      w.write(u & ((1L << param) - 1), param)
      i += 1
    }
  }
}
