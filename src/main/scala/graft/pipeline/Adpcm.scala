package graft.pipeline

/** Pure-JVM IMA ADPCM WAV codec (WAVE_FORMAT_IMA_ADPCM, tag 0x11) plus
  * G.711 µ-law/A-law WAV encoders — the second and third compressed
  * audio formats (after [[Flac]]) that decode to REAL samples through
  * the shared javax.sound feature path.
  *
  * Why these: IMA ADPCM is the one common WAV compression the JDK's
  * `javax.sound.sampled` cannot read (it handles PCM, µ-law and A-law
  * natively), so telephony/game-archive corpora with 0x11-tagged WAVs
  * were previously "decode_ok = false" items. The decoder here follows
  * the public IMA/DVI4 specification (the same quantizer RFC 3551
  * §4.5.1 describes): 4-bit nibbles against an 89-entry step table,
  * block-structured with a per-channel (predictor, stepIndex) header
  * and 4-byte-per-channel nibble interleave.
  *
  * The G.711 side is encode-only BY DESIGN: graft encodes the fixture,
  * the JDK's own µ-law/A-law converters decode it — a genuine
  * cross-implementation check (unlike a same-codebase encode/decode
  * round trip, a sign/bias/chord bug in our encoder cannot cancel
  * against our own decoder; it would surface as wrong physics in the
  * decoded stats).
  *
  * Reference behavior matched: the reference server leaves audio I/O
  * to soundfile/audioread (xcube_server has no audio path of its own);
  * this tier is part of graft's beyond-reference multimodal surface.
  */
object Adpcm {

  /** IMA ADPCM step-size table (89 entries, public spec constant). */
  private val Step: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  /** Step-index adjustment per 3-bit nibble magnitude. */
  private val IndexAdj: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  require(Step.length == 89)

  // ------------------------------------------------------ RIFF parse
  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
  private def u32(b: Array[Byte], o: Int): Long =
    (u16(b, o).toLong) | (u16(b, o + 2).toLong << 16)
  private def s16(b: Array[Byte], o: Int): Int = u16(b, o).toShort.toInt

  /** (chunkId → (offset, size)) for the top-level RIFF chunks; first
    * occurrence wins. Sizes are clamped to the payload actually
    * present, so a truncated file degrades instead of throwing. */
  private def chunks(b: Array[Byte]): Map[String, (Int, Int)] = {
    if (b.length < 12 || !(b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E')) return Map.empty
    var o = 12
    var m = Map.empty[String, (Int, Int)]
    while (o + 8 <= b.length) {
      val id = new String(b, o, 4, "US-ASCII")
      val sz = math.min(u32(b, o + 4), (b.length - o - 8).toLong).toInt
      if (!m.contains(id)) m += id -> (o + 8, sz)
      o += 8 + sz + (sz & 1) // chunks are word-aligned
    }
    m
  }

  /** True when the payload is a WAV whose fmt tag is IMA ADPCM. */
  def isImaAdpcmWav(b: Array[Byte]): Boolean =
    chunks(b).get("fmt ").exists { case (o, sz) =>
      sz >= 16 && u16(b, o) == 0x11
    }

  // ---------------------------------------------------------- decode
  /** IMA ADPCM WAV → canonical 16-bit LE PCM WAV bytes (the same wrap
    * [[Flac.decodeToWav]] uses), so ADPCM items share the exact
    * javax.sound stat/fingerprint semantics of native WAV. None when
    * the payload is not a well-formed IMA ADPCM WAV. */
  def decodeToWav(bytes: Array[Byte]): Option[Array[Byte]] = try {
    val ch = chunks(bytes)
    val (fo, fsz) = ch.getOrElse("fmt ", return None)
    if (fsz < 16 || u16(bytes, fo) != 0x11) return None
    val nCh = u16(bytes, fo + 2)
    val rate = u32(bytes, fo + 4).toInt
    val blockAlign = u16(bytes, fo + 12)
    if (nCh < 1 || nCh > 8 || blockAlign < 4 * nCh) return None
    // samples per block: the fmt extension carries it; derive from the
    // block geometry when absent (4-byte header + 2 samples/byte)
    val spb =
      if (fsz >= 20 && u16(bytes, fo + 16) >= 2) u16(bytes, fo + 18)
      else (blockAlign - 4 * nCh) * 2 / nCh + 1
    val (dOff, dSz) = ch.getOrElse("data", return None)
    val totalSamples = ch.get("fact").filter(_._2 >= 4)
      .map { case (o, _) => u32(bytes, o).toInt }
      .getOrElse((dSz / blockAlign) * spb)

    val out = Array.fill(nCh)(new Array[Int](totalSamples))
    val pred = new Array[Int](nCh)
    val idx = new Array[Int](nCh)
    var written = 0
    var block = dOff
    while (written < totalSamples && block + 4 * nCh <= dOff + dSz) {
      var c = 0
      while (c < nCh) { // per-channel block header; predictor IS sample 0
        pred(c) = s16(bytes, block + 4 * c)
        idx(c) = math.max(0, math.min(88, bytes(block + 4 * c + 2) & 0xFF))
        out(c)(written) = pred(c)
        c += 1
      }
      var s = written + 1
      val blockEnd = math.min(block + blockAlign, dOff + dSz)
      val p = block + 4 * nCh
      // nibble payload: 4 bytes (8 samples) per channel, interleaved
      while (s < math.min(written + spb, totalSamples) && p < blockEnd) {
        val group = s - (written + 1) // 0-based within nibble area
        c = 0
        while (c < nCh && s < math.min(written + spb, totalSamples)) {
          val wordBase = p + ((group / 8) * nCh + c) * 4
          var k = group % 8
          // decode up to 8 samples of this channel's 4-byte word
          var si = s
          while (k < 8 && si < math.min(written + spb, totalSamples)) {
            val byte = bytes(wordBase + k / 2) & 0xFF
            val nib = if ((k & 1) == 0) byte & 0x0F else byte >> 4
            val step = Step(idx(c))
            var diff = step >> 3
            if ((nib & 4) != 0) diff += step
            if ((nib & 2) != 0) diff += step >> 1
            if ((nib & 1) != 0) diff += step >> 2
            pred(c) =
              if ((nib & 8) != 0) math.max(-32768, pred(c) - diff)
              else math.min(32767, pred(c) + diff)
            idx(c) = math.max(0, math.min(88, idx(c) + IndexAdj(nib & 7)))
            out(c)(si) = pred(c)
            si += 1
            k += 1
          }
          c += 1
        }
        s += 8 // a full interleave round decodes 8 samples per channel
      }
      written = math.min(written + spb, totalSamples)
      block += blockAlign
    }
    Some(wrapPcmWav(out, rate, totalSamples))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** samples(channel)(i) → 16-bit LE PCM WAV (identical container shape
    * to [[Flac.decodeToWav]]'s). */
  private[graft] def wrapPcmWav(samples: Array[Array[Int]], rate: Int,
                                   n: Int): Array[Byte] = {
    val nCh = samples.length
    val data = new Array[Byte](n * nCh * 2)
    var i = 0
    while (i < n) {
      var c = 0
      while (c < nCh) {
        val v = samples(c)(i)
        val o = (i * nCh + c) * 2
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
      .putShort(1).putShort(nCh.toShort)
      .putInt(rate).putInt(rate * nCh * 2)
      .putShort((nCh * 2).toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(data.length)
      .put(data)
    bb.array()
  }

  /** Parse a canonical 16-bit PCM WAV into (samples(ch)(i), rate). */
  private[graft] def readPcmWav(
      b: Array[Byte]): Option[(Array[Array[Int]], Int)] = {
    val ch = chunks(b)
    val (fo, fsz) = ch.getOrElse("fmt ", return None)
    if (fsz < 16 || u16(b, fo) != 1 || u16(b, fo + 14) != 16) return None
    val nCh = u16(b, fo + 2)
    val rate = u32(b, fo + 4).toInt
    val (dOff, dSz) = ch.getOrElse("data", return None)
    val n = dSz / (2 * nCh)
    val out = Array.fill(nCh)(new Array[Int](n))
    var i = 0
    while (i < n) {
      var c = 0
      while (c < nCh) {
        out(c)(i) = s16(b, dOff + (i * nCh + c) * 2)
        c += 1
      }
      i += 1
    }
    Some((out, rate))
  }

  // ---------------------------------------------------------- encode
  /** Fixture-grade IMA ADPCM encoder: 16-bit PCM WAV in → 0x11 WAV out,
    * standard 505-samples-per-block mono geometry (scaled by channel
    * count), `fact` chunk carrying the exact sample total so the
    * decoder trims the final partial block. The quantizer is the spec
    * inverse of the decoder above — but correctness is NOT argued from
    * that inverse alone: the fixture oracle pins the decoded physics
    * (sine RMS/ZCR within quantization noise of the PCM source). */
  def encodeImaWav(pcmWav: Array[Byte]): Option[Array[Byte]] =
    readPcmWav(pcmWav).map { case (samples, rate) =>
      val nCh = samples.length
      val n = if (nCh == 0) 0 else samples(0).length
      val spb = 505
      val blockAlign = 4 * nCh + (spb - 1) * nCh / 2
      val out = new java.io.ByteArrayOutputStream()
      val pred = new Array[Int](nCh)
      val idx = new Array[Int](nCh)
      var b0 = 0
      while (b0 < n) {
        val bn = math.min(spb, n - b0)
        val block = new Array[Byte](blockAlign)
        var c = 0
        while (c < nCh) { // header: first sample verbatim + step index
          pred(c) = samples(c)(b0)
          block(4 * c) = (pred(c) & 0xFF).toByte
          block(4 * c + 1) = ((pred(c) >> 8) & 0xFF).toByte
          block(4 * c + 2) = idx(c).toByte
          c += 1
        }
        var s = 1
        while (s < bn) {
          val group = s - 1
          c = 0
          while (c < nCh) {
            val wordBase = 4 * nCh + ((group / 8) * nCh + c) * 4
            val k = group % 8
            val nib = encodeNibble(samples(c)(s + b0), pred, idx, c)
            val bi = wordBase + k / 2
            if ((k & 1) == 0) block(bi) = (block(bi) | nib).toByte
            else block(bi) = (block(bi) | (nib << 4)).toByte
            c += 1
          }
          s += 1
        }
        out.write(block)
        b0 += spb
      }
      val data = out.toByteArray
      val bb = java.nio.ByteBuffer.allocate(12 + 8 + 20 + 8 + 4 + 8 +
          data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII"))
        .putInt(4 + 8 + 20 + 8 + 4 + 8 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(20)
        .putShort(0x11).putShort(nCh.toShort)
        .putInt(rate).putInt(rate * blockAlign / spb)
        .putShort(blockAlign.toShort).putShort(4)
        .putShort(2).putShort(spb.toShort) // cbSize, wSamplesPerBlock
        .put("fact".getBytes("US-ASCII")).putInt(4).putInt(n)
        .put("data".getBytes("US-ASCII")).putInt(data.length)
        .put(data)
      bb.array()
    }

  /** Quantize one sample against channel c's (pred, idx) state, then
    * advance that state through the DECODER reconstruction so encoder
    * and decoder predictors track exactly. */
  private def encodeNibble(sample: Int, pred: Array[Int], idx: Array[Int],
                           c: Int): Int = {
    val step = Step(idx(c))
    var diff = sample - pred(c)
    var nib = 0
    if (diff < 0) { nib = 8; diff = -diff }
    if (diff >= step) { nib |= 4; diff -= step }
    if (diff >= (step >> 1)) { nib |= 2; diff -= step >> 1 }
    if (diff >= (step >> 2)) nib |= 1
    // reconstruct exactly as the decoder will
    var d = step >> 3
    if ((nib & 4) != 0) d += step
    if ((nib & 2) != 0) d += step >> 1
    if ((nib & 1) != 0) d += step >> 2
    pred(c) =
      if ((nib & 8) != 0) math.max(-32768, pred(c) - d)
      else math.min(32767, pred(c) + d)
    idx(c) = math.max(0, math.min(88, idx(c) + IndexAdj(nib & 7)))
    nib
  }
}

/** G.711 µ-law / A-law WAV ENCODERS (ITU-T G.711 segmented
  * companding). Decode is deliberately left to `javax.sound.sampled`,
  * which reads WAVE_FORMAT_MULAW (7) / WAVE_FORMAT_ALAW (6) natively —
  * see [[Adpcm]]'s cross-implementation rationale. */
object G711 {

  private val MuBias = 0x84
  private val MuClip = 32635

  /** 16-bit linear → µ-law byte (G.711 table 2a segmented encode). */
  def muLaw(pcm: Int): Byte = {
    var x = pcm
    val sign = if (x < 0) { x = -x; 0x80 } else 0
    if (x > MuClip) x = MuClip
    x += MuBias
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (x & mask) == 0) { exp -= 1; mask >>= 1 }
    val mant = (x >> (exp + 3)) & 0x0F
    (~(sign | (exp << 4) | mant)).toByte
  }

  /** 16-bit linear → A-law byte (G.711 table 1a, with the standard
    * 0x55 alternate-bit inversion). */
  def aLaw(pcm: Int): Byte = {
    var x = pcm
    val sign = if (x >= 0) 0x80 else { x = -x - 1; 0 }
    if (x > 32767) x = 32767
    val v =
      if (x < 256) sign | (x >> 4)
      else {
        var exp = 7
        var mask = 0x4000
        while ((x & mask) == 0) { exp -= 1; mask >>= 1 }
        sign | (exp << 4) | ((x >> (exp + 3)) & 0x0F)
      }
    (v ^ 0x55).toByte
  }

  /** 16-bit PCM WAV → G.711 WAV (tag 7 = µ-law, 6 = A-law). */
  private def encodeWav(pcmWav: Array[Byte], tag: Int,
                        enc: Int => Byte): Option[Array[Byte]] =
    Adpcm.readPcmWav(pcmWav).map { case (samples, rate) =>
      val nCh = samples.length
      val n = if (nCh == 0) 0 else samples(0).length
      val data = new Array[Byte](n * nCh)
      var i = 0
      while (i < n) {
        var c = 0
        while (c < nCh) {
          data(i * nCh + c) = enc(samples(c)(i))
          c += 1
        }
        i += 1
      }
      val bb = java.nio.ByteBuffer.allocate(12 + 8 + 18 + 8 + 4 + 8 +
          data.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII"))
        .putInt(4 + 8 + 18 + 8 + 4 + 8 + data.length)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(18)
        .putShort(tag.toShort).putShort(nCh.toShort)
        .putInt(rate).putInt(rate * nCh)
        .putShort(nCh.toShort).putShort(8).putShort(0)
        .put("fact".getBytes("US-ASCII")).putInt(4).putInt(n)
        .put("data".getBytes("US-ASCII")).putInt(data.length)
        .put(data)
      bb.array()
    }

  def encodeMuLawWav(pcmWav: Array[Byte]): Option[Array[Byte]] =
    encodeWav(pcmWav, 7, muLaw)

  def encodeALawWav(pcmWav: Array[Byte]): Option[Array[Byte]] =
    encodeWav(pcmWav, 6, aLaw)
}
