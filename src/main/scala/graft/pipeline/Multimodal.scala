package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads ride through
  * the engine as opaque BINARY columns with a typed metadata struct;
  * decode / feature-extraction runs as a partition-local batch loop
  * (`mapPartitions` over a typed Dataset — the Scala equivalent of the
  * Python-side `mapInPandas` batch shape).
  *
  * IMAGE decode is REAL: the JDK ships ImageIO codecs (PNG, JPEG,
  * BMP, GIF), so [[decodeImage]] / [[imageFeatures]] / [[resizeImage]]
  * decode actual pixels with no external dependency. AUDIO decode is
  * REAL for WAV/AU/AIFF PCM: [[audioFeatures]] goes through the JDK's
  * javax.sound.sampled to actual samples (rate, duration, RMS,
  * zero-crossing rate) — and REAL for FLAC, a compressed format,
  * through the pure-JVM [[Flac]] codec (rice residuals, FIXED/LPC
  * prediction, stereo decorrelation), which re-enters the same
  * javax.sound path as canonical PCM.
  *
  * Other COMPRESSED media (H.264, MP3, MP4) get a REAL header-level
  * metadata layer — [[MediaMeta]] parses the public bitstreams (frame
  * chains, SPS geometry, VUI timing) with no codec dependency; see
  * [[compressedMeta]] / [[extractCompressedMeta]].
  *
  * ==== STUB BOUNDARY (lossy-codec SAMPLE/PIXEL decode only) ====
  * Actual H.264 pixel / MP3 sample decoding needs a DCT codec library
  * this container does not have, so for those payloads [[decodeStub]] /
  * [[frameSampleStub]] remain deterministic fakes over the raw bytes,
  * clearly marked. Everything around them — schema, batching,
  * partitioning, feature vector shape — is the real distributed
  * plumbing and is tested.
  */
object Multimodal {

  /** one media payload: opaque bytes + typed metadata */
  final case class MediaItem(id: Long, kind: String, content: Array[Byte],
                             meta: Map[String, String])

  final case class MediaFeatures(id: Long, kind: String, nBytes: Int,
                                 features: Array[Float])

  /** Attach media schema to any (id, binary) pair: the payload column
    * stays opaque; metadata is computed without decoding. */
  def asMedia(df: DataFrame, idCol: String, binCol: String,
              kind: String): Dataset[MediaItem] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"),
        col(binCol).cast("binary").as("content"))
      .withColumn("kind", lit(kind))
      .withColumn("meta", map(
        lit("n_bytes"), octet_length(col("content")).cast("string")))
      .as[MediaItem]
  }

  /** REAL image decode through the JDK's ImageIO (PNG/JPEG/BMP/GIF —
    * no external codec). None = payload is not a decodable image.
    * ImageIO readers throw RUNTIME exceptions (AIOOBE, CMMException,
    * NegativeArraySize...) on malformed bytes, so anything non-fatal
    * is the documented fallback, not a task-killer. */
  def decodeImage(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(content)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** 64-bit difference hash (dHash, the standard perceptual
    * near-duplicate image hash): decode, box-filter area-average to a
    * 9×8 luma grid — exact integer pixel sums and one rational
    * division per cell, NOT AWT interpolation, so the grid (and hence
    * the hash) is bit-stable across platforms — then bit k is set
    * when grid(r)(c) > grid(r)(c+1). Perceptually-close images differ
    * in a few bits (Hamming), unrelated images in ~32. None when the
    * payload doesn't decode. */
  def dhash64(content: Array[Byte]): Option[Long] =
    decodeImage(content).map { img =>
      val (gw, gh) = (9, 8)
      val w = img.getWidth
      val h = img.getHeight
      val luma = Array.ofDim[Double](gh, gw)
      var r = 0
      while (r < gh) {
        var c = 0
        while (c < gw) {
          val x0 = c * w / gw; val x1 = math.max((c + 1) * w / gw, x0 + 1)
          val y0 = r * h / gh; val y1 = math.max((r + 1) * h / gh, y0 + 1)
          var sum = 0L
          var n = 0
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              sum += 2126L * ((rgb >> 16) & 0xFF) +
                7152L * ((rgb >> 8) & 0xFF) + 722L * (rgb & 0xFF)
              n += 1
              x += 1
            }
            y += 1
          }
          luma(r)(c) = sum.toDouble / n
          c += 1
        }
        r += 1
      }
      var hash = 0L
      var bit = 0
      r = 0
      while (r < gh) {
        var c = 0
        while (c < gw - 1) {
          if (luma(r)(c) > luma(r)(c + 1)) hash |= (1L << bit)
          bit += 1
          c += 1
        }
        r += 1
      }
      hash
    }

  /** REAL image features from decoded pixels: [width, height, meanR,
    * meanG, meanB, meanLuma, lumaStddev, aspect] — the shape a vision
    * embedder's preprocessor computes. */
  def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    var (r, g, b) = (0.0, 0.0, 0.0)
    var luma = 0.0
    var luma2 = 0.0
    val row = new Array[Int](w) // bulk row fetch: one ColorModel
    var y = 0                   // conversion per row, not per pixel
    while (y < h) {
      img.getRGB(0, y, w, 1, row, 0, w)
      var x = 0
      while (x < w) {
        val p = row(x)
        val (pr, pg, pb) = ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
        r += pr; g += pg; b += pb
        val l = 0.299 * pr + 0.587 * pg + 0.114 * pb
        luma += l; luma2 += l * l
        x += 1
      }
      y += 1
    }
    val n = (w.toLong * h).toDouble
    val mLuma = luma / n
    Array(w.toFloat, h.toFloat, (r / n).toFloat, (g / n).toFloat,
      (b / n).toFloat, mLuma.toFloat,
      math.sqrt(math.max(0.0, luma2 / n - mLuma * mLuma)).toFloat,
      (w.toDouble / h).toFloat)
  }

  /** REAL image resize (bilinear) + PNG re-encode — the normalize step
    * before a vision model. */
  def resizeImage(content: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    decodeImage(content).map { img =>
      val out = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = out.createGraphics()
      g2.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g2.drawImage(img, 0, 0, w, h, null)
      g2.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }

  /** Batched image feature extraction over existing partitions: REAL
    * decode per item; payloads that are not decodable images yield the
    * byte-level fallback features (negative width flag). */
  def extractImageFeatures(items: Dataset[MediaItem],
                           batchSize: Int = 64): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val feats = decodeImage(m.content).map(imageFeatures)
            .getOrElse(Array(-1f) ++ decodeStub(m.content).take(7))
          MediaFeatures(m.id, m.kind, m.content.length, feats)
        }
      }
    }
  }

  /** REAL audio features via the JDK's javax.sound.sampled (WAV/AU/
    * AIFF PCM): [sampleRateHz, channels, durationSec, rms, zeroCrossRate,
    * peak, meanAbs, bitsPerSample]. None = not a decodable audio payload. */
  /** 64-bit audio energy-envelope fingerprint: decode to canonical
    * 16-bit PCM, take channel 0, split into 64 equal windows, bit k
    * set when window k's energy (exact in-order sum of squares)
    * exceeds the mean window energy. Comparing to the GLOBAL mean
    * rather than the adjacent window keeps bits stable inside
    * constant-loudness passages (adjacent-window energies there are
    * near-ties that phase shifts flip — measured 45-bit flips from a
    * 60-sample shift under the dHash-style adjacent form). Amplitude
    * scaling multiplies every energy AND the mean by the same factor,
    * so volume-normalized copies hash identically. None when the
    * payload doesn't decode or is shorter than 64 samples. */
  def audioFingerprint64(content: Array[Byte]): Option[Long] =
    try {
      val src = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(asPcmContainer(content)))
      try {
        val sf = src.getFormat
        val target = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          sf.getSampleRate, 16, sf.getChannels, sf.getChannels * 2,
          sf.getSampleRate, false)
        val in = javax.sound.sampled.AudioSystem
          .getAudioInputStream(target, src)
        val bytes = in.readAllBytes()
        val ch = target.getChannels
        val n = bytes.length / 2
        val frames = if (ch == 0) 0 else n / ch
        if (frames < 64) return None
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val energy = new Array[Double](64)
        var w = 0
        while (w < 64) {
          val f0 = w * frames / 64
          val f1 = (w + 1) * frames / 64
          var s = 0.0
          var f = f0
          while (f < f1) {
            val v = bb.getShort(f * ch * 2) / 32768.0
            s += v * v
            f += 1
          }
          energy(w) = s
          w += 1
        }
        var mean = 0.0
        var k = 0
        while (k < 64) { mean += energy(k); k += 1 }
        mean /= 64.0
        var hash = 0L
        k = 0
        while (k < 64) {
          if (energy(k) > mean) hash |= (1L << k)
          k += 1
        }
        Some(hash)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** FLAC and IMA-ADPCM payloads decode through the pure-JVM [[Flac]]/
    * [[Adpcm]] codecs and re-enter the shared javax.sound path as
    * canonical PCM WAV, so every audio stat/fingerprint has ONE
    * definition regardless of the source container; everything else
    * (PCM, G.711 µ-law/A-law, AU, AIFF) passes through untouched
    * because javax.sound reads those natively. */
  private def asPcmContainer(content: Array[Byte]): Array[Byte] =
    if (Flac.isFlac(content)) Flac.decodeToWav(content).getOrElse(content)
    else if (Adpcm.isImaAdpcmWav(content))
      Adpcm.decodeToWav(content).getOrElse(content)
    else if (MediaMeta.isMp4(content))
      MediaMeta.mp4PcmToWav(content).getOrElse(content)
    else content

  def audioFeatures(content: Array[Byte]): Option[Array[Float]] =
    try {
      val src = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(asPcmContainer(content)))
      try {
        val sf = src.getFormat
        // canonicalize through the JDK converter: signed 16-bit LE PCM
        // regardless of source encoding (handles u-law AU, unsigned
        // 8-bit WAV, big-endian AIFF uniformly — no hand-rolled cases)
        val target = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          sf.getSampleRate, 16, sf.getChannels, sf.getChannels * 2,
          sf.getSampleRate, false)
        val in = javax.sound.sampled.AudioSystem
          .getAudioInputStream(target, src)
        val bytes = in.readAllBytes()
        val ch = target.getChannels
        val n = bytes.length / 2
        if (n == 0 || ch == 0) return None
        var (sum2, sumAbs, peak) = (0.0, 0.0, 0.0)
        var crossings = 0L
        var prev0 = 0.0 // previous CHANNEL-0 sample (interleaved frames:
        var i = 0       // cross-channel sign flips are not crossings)
        val bb = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        while (i < n) {
          val v = bb.getShort(i * 2) / 32768.0
          sum2 += v * v; sumAbs += math.abs(v)
          if (math.abs(v) > peak) peak = math.abs(v)
          if (i % ch == 0) {
            if (i >= ch && (v > 0) != (prev0 > 0)) crossings += 1
            prev0 = v
          }
          i += 1
        }
        val frames = n / ch
        Some(Array(target.getSampleRate, ch.toFloat,
          (frames / target.getSampleRate.toDouble).toFloat,
          math.sqrt(sum2 / n).toFloat,
          (crossings.toDouble / frames).toFloat,
          peak.toFloat, (sumAbs / n).toFloat,
          sf.getSampleSizeInBits.toFloat))
      } finally src.close()
    } catch {
      case _: javax.sound.sampled.UnsupportedAudioFileException => None
      case _: java.io.IOException => None
      case _: IllegalArgumentException => None
    }

  /** one parsed AVI: geometry from the `avih` header + the raw MJPEG
    * frame payloads (each a plain JPEG still) */
  final case class AviVideo(width: Int, height: Int, usPerFrame: Long,
                            frames: IndexedSeq[Array[Byte]])

  /** REAL video-container decode for MJPEG AVI — pure-JVM RIFF parse
    * (the container is a public chunk format; 'xxdc'/'xxdb' stream
    * chunks hold plain JPEG stills ImageIO already decodes, so no
    * external codec is involved). None = not a RIFF/AVI payload.
    * Truncated/garbage chunk trees stop cleanly at the damage. */
  def parseAvi(content: Array[Byte]): Option[AviVideo] = {
    if (content.length < 12) return None
    val bb = java.nio.ByteBuffer.wrap(content)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(off: Int): String =
      new String(content, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    var width = 0
    var height = 0
    var usPerFrame = 0L
    val frames = IndexedSeq.newBuilder[Array[Byte]]
    def walk(off0: Int, end: Int): Unit = {
      var off = off0
      while (off + 8 <= end) {
        val id = fourcc(off)
        val sz = bb.getInt(off + 4)
        if (sz < 0 || off + 8 + sz > end) return // truncated: stop clean
        if (id == "LIST") walk(off + 12, off + 8 + sz)
        else if (id == "avih" && sz >= 40) {
          usPerFrame = bb.getInt(off + 8) & 0xFFFFFFFFL
          width = bb.getInt(off + 8 + 32)
          height = bb.getInt(off + 8 + 36)
        } else if (id.length == 4 &&
            (id.endsWith("dc") || id.endsWith("db")) && sz > 0) {
          frames += java.util.Arrays.copyOfRange(content, off + 8,
            off + 8 + sz)
        }
        off += 8 + sz + (sz & 1) // RIFF chunks pad to even offsets
      }
    }
    walk(12, content.length)
    val fs = frames.result()
    if (fs.isEmpty && usPerFrame == 0L) None
    else Some(AviVideo(width, height, usPerFrame, fs))
  }

  /** REAL video frame sampling: k evenly spaced MJPEG stills (each a
    * standalone JPEG — feed straight to [[decodeImage]]). Replaces the
    * byte-window stub for the public AVI format. */
  def frameSample(content: Array[Byte], k: Int): Seq[Array[Byte]] =
    parseAvi(content) match {
      case Some(v) if v.frames.nonEmpty =>
        if (k >= v.frames.length) v.frames
        else (0 until k).map(f => v.frames((v.frames.length.toLong * f / k).toInt))
      case _ => Seq.empty
    }

  /** REAL video features from decoded frames: [width, height, nFrames,
    * durationSec, fps, meanLuma, interFrameLumaStddev, aspect] — luma
    * stats over up to 4 evenly sampled decoded frames. None = not an
    * AVI or no frame decodes. */
  def videoFeatures(content: Array[Byte]): Option[Array[Float]] =
    parseAvi(content).flatMap { v =>
      val sampled = frameSample(content, 4).flatMap(decodeImage)
      if (sampled.isEmpty) return None
      val lumas = sampled.map(img => imageFeatures(img)(5).toDouble)
      val mean = lumas.sum / lumas.size
      val std = math.sqrt(math.max(0.0,
        lumas.map(l => l * l).sum / lumas.size - mean * mean))
      val (w, h) = (sampled.head.getWidth, sampled.head.getHeight)
      val dur = v.frames.length * v.usPerFrame / 1e6
      Some(Array(w.toFloat, h.toFloat, v.frames.length.toFloat,
        dur.toFloat,
        if (v.usPerFrame > 0) (1e6 / v.usPerFrame).toFloat else 0f,
        mean.toFloat, std.toFloat, w.toFloat / h))
    }

  /** Minimal MJPEG AVI writer (RIFF: hdrl[avih + strl[strh,strf]] +
    * movi['00dc' jpeg...]) — fixture/export path for the video decode
    * tests; frames are pre-encoded JPEG stills. */
  def writeMjpegAvi(jpegFrames: Seq[Array[Byte]], width: Int, height: Int,
                    fps: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Long): Array[Byte] = Array((v & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 24) & 0xFF).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val pad = if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes ++ le32(body.length.toLong) ++ body ++ pad
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      "LIST".getBytes ++ le32(body.length + 4L) ++ kind.getBytes ++ body
    val usPerFrame = 1000000L / fps
    val avih = le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(jpegFrames.length.toLong) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(width.toLong) ++ le32(height.toLong) ++ Array.fill(16)(0.toByte)
    val strh = "vids".getBytes ++ "MJPG".getBytes ++ le32(0) ++
      Array.fill(4)(0.toByte) ++ // priority+language
      le32(0) ++ le32(1) ++ le32(fps.toLong) ++ le32(0) ++
      le32(jpegFrames.length.toLong) ++ le32(0) ++ le32(0) ++ le32(0) ++
      Array.fill(8)(0.toByte)
    val strf = le32(40) ++ le32(width.toLong) ++ le32(height.toLong) ++
      Array(1.toByte, 0.toByte, 24.toByte, 0.toByte) ++ // planes, bpp
      "MJPG".getBytes ++ le32(width.toLong * height * 3) ++
      Array.fill(16)(0.toByte)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      jpegFrames.flatMap(f => chunk("00dc", f)).toArray)
    val body = "AVI ".getBytes ++ hdrl ++ movi
    bos.write("RIFF".getBytes)
    bos.write(le32(body.length.toLong))
    bos.write(body)
    bos.toByteArray
  }

  /** STUB: deterministic fake "decode + feature extraction" — an 8-dim
    * byte-histogram moment vector. Remains the COMPRESSED-AUDIO /
    * non-MJPEG-video path (no H.264/MP3 codecs in the container); a
    * real deployment swaps this single function for a codec call; the
    * distributed shape is unchanged. */
  def decodeStub(content: Array[Byte]): Array[Float] = {
    val feats = new Array[Float](8)
    if (content.isEmpty) return feats
    var i = 0
    while (i < content.length) {
      val b = content(i) & 0xff
      feats(b % 8) += 1f
      i += 1
    }
    var j = 0
    while (j < 8) { feats(j) = feats(j) / content.length; j += 1 }
    feats
  }

  /** STUB: "video frame sampling" = k evenly spaced byte windows. */
  def frameSampleStub(content: Array[Byte], frames: Int,
                      frameBytes: Int): Seq[Array[Byte]] =
    (0 until frames).map { f =>
      val off = ((content.length.toLong * f) / frames).toInt
      content.slice(off, math.min(off + frameBytes, content.length))
    }

  /** Batched partition-local feature extraction: items are processed in
    * fixed-size batches (the mapInPandas batch shape) so a real decoder
    * can amortize per-batch model/codec setup. No shuffle: feature
    * extraction is embarrassingly parallel over existing partitions. */
  def extractFeatures(items: Dataset[MediaItem],
                      batchSize: Int = 64): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // per-batch setup would init the codec/model here (stubbed)
        batch.iterator.map { m =>
          MediaFeatures(m.id, m.kind, m.content.length, decodeStub(m.content))
        }
      }
    }
  }

  /** Kind-dispatched decode: REAL sample/pixel decode first (image →
    * ImageIO, audio → PCM via javax.sound, video → MJPEG-AVI frames),
    * then the REAL compressed-header metadata layer ([[compressedMeta]]
    * — MP3 / Annex-B H.264 / MP4) for payloads the JDK cannot decode;
    * payloads that parse as neither yield the byte-level fallback
    * tagged with a leading -1f (the sentinel [[featureSummary]]
    * accounts for). */
  def extractMediaFeatures(items: Dataset[MediaItem],
                           batchSize: Int = 64): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val decoded: Option[Array[Float]] = m.kind match {
            case "image" => decodeImage(m.content).map(imageFeatures)
            case "audio" => audioFeatures(m.content)
              .orElse(mp3L1Features(m.content))
              .orElse(compressedMeta("audio", m.content))
            case "video" => videoFeatures(m.content)
              .orElse(h264IPcmFeatures(m.content))
              .orElse(compressedMeta("video", m.content))
            case _ => None
          }
          val feats = decoded.getOrElse(
            Array(-1f) ++ decodeStub(m.content).take(7))
          MediaFeatures(m.id, m.kind, m.content.length, feats)
        }
      }
    }
  }

  /** H.264 PIXEL decode for the I_PCM subset
    * ([[MediaMeta.decodeH264IPcm]] — raw macroblocks, the
    * formula-defined slice of the codec; residual-coded streams
    * return None and fall through to the header-metadata layer).
    * Same layout as the MJPEG path: [w, h, nFrames, durationSec, fps,
    * meanLuma, stdLuma, aspect], with the luma statistics over REAL
    * decoded pixels. */
  def h264IPcmFeatures(content: Array[Byte]): Option[Array[Float]] =
    MediaMeta.decodeH264IPcm(content).map { v =>
      val lumas = v.frames.map { f =>
        var s = 0L
        var i = 0
        while (i < f.length) { s += (f(i) & 0xFF); i += 1 }
        s.toDouble / f.length
      }
      val mean = lumas.sum / lumas.size
      val std = math.sqrt(math.max(0.0,
        lumas.map(l => l * l).sum / lumas.size - mean * mean))
      val dur = if (v.fps > 0) v.frames.size / v.fps else 0.0
      Array(v.width.toFloat, v.height.toFloat, v.frames.size.toFloat,
        dur.toFloat, v.fps.toFloat, mean.toFloat, std.toFloat,
        v.width.toFloat / v.height)
    }

  /** MPEG-1 Layer-I SAMPLE decode ([[MediaMeta.decodeMp3L1]] — the
    * spec-formula requantization to the subband domain; the synthesis
    * window is a spec table unavailable offline, and the filterbank
    * is power-complementary, so subband-domain energy statistics ARE
    * the time-domain ones up to window ripple). Layout
    * [sampleRate, channels, durationSec, sbRms, dominantShare,
    * sbPeak, sbMeanAbs, nbMax] — f4/f6/f7 are real decoded sample
    * statistics, f5 is the energy share of the loudest subband. */
  def mp3L1Features(content: Array[Byte]): Option[Array[Float]] =
    MediaMeta.decodeMp3L1(content).map { d =>
      val n = d.sub.length
      val nch = d.channels
      val eSb = new Array[Double](32)
      var e = 0.0
      var pk = 0.0
      var ma = 0.0
      var i = 0
      while (i < n) {
        val v = d.sub(i).toDouble
        val av = math.abs(v)
        e += v * v
        ma += av
        if (av > pk) pk = av
        eSb((i / nch) % 32) += v * v
        i += 1
      }
      val dur = d.frames * 384.0 / d.sampleRateHz
      Array(d.sampleRateHz.toFloat, d.channels.toFloat, dur.toFloat,
        (if (n == 0) 0.0 else math.sqrt(e / n)).toFloat,
        (if (e == 0.0) 0.0 else eSb.max / e).toFloat, pk.toFloat,
        (if (n == 0) 0.0 else ma / n).toFloat, d.nbMax.toFloat)
    }

  /** Header-level metadata for COMPRESSED payloads ([[MediaMeta]] —
    * real bitstream parsing, no codec): MP3 under kind "audio"; H.264
    * Annex-B or MP4/ISO-BMFF (avcC SPS + track tables) under kind
    * "video". Returns the 8-dim feature layout
    * [sampleRate, channels, frames, avgKbps, durationMs, vbr, version,
    * layer] for audio / [width, height, profile, level, fps, x6, x7,
    * container] for video, where Annex-B has (x6, x7, container) =
    * (nIdr, nNonIdr, 0) and MP4 has (durationMs, nTracks, 1) with fps
    * from stts sample count over mdhd duration when the SPS declares
    * none; None when the payload parses as neither. */
  def compressedMeta(kind: String, content: Array[Byte]): Option[Array[Float]] =
    kind match {
      case "audio" => MediaMeta.parseMp3(content).map(m => Array(
        m.sampleRateHz.toFloat, m.channels.toFloat, m.frameCount.toFloat,
        m.avgBitrateKbps.toFloat, m.durationMs.toFloat,
        if (m.vbr) 1f else 0f, m.version.toFloat, m.layer.toFloat))
        // ADTS AAC shares the audio layout; the version slot carries
        // the audio object type and the layer slot is 0 (no layers)
        .orElse(MediaMeta.parseAdts(content).map(m => Array(
          m.sampleRateHz.toFloat, m.channels.toFloat,
          m.frameCount.toFloat, m.avgBitrateKbps.toFloat,
          m.durationMs.toFloat, if (m.variableRate) 1f else 0f,
          m.objectType.toFloat, 0f)))
      case "video" => MediaMeta.parseH264(content).map(m => Array(
        m.width.toFloat, m.height.toFloat, m.profileIdc.toFloat,
        m.levelIdc.toFloat, m.fps.toFloat, m.nIdrSlices.toFloat,
        m.nNonIdrSlices.toFloat, 0f))
        .orElse(MediaMeta.parseMp4(content).flatMap { m =>
          m.tracks.find(_.kind == "vide").map { vt =>
            val (w, h) = m.sps.map(s => (s.width, s.height))
              .getOrElse((vt.width, vt.height))
            val fps = m.sps.map(_.fps).filter(_ > 0).getOrElse(
              if (vt.durationMs > 0) vt.sampleCount * 1000.0 / vt.durationMs
              else 0.0)
            Array(w.toFloat, h.toFloat,
              m.sps.map(_.profileIdc).getOrElse(0).toFloat,
              m.sps.map(_.levelIdc).getOrElse(0).toFloat, fps.toFloat,
              m.durationMs.toFloat, m.tracks.size.toFloat, 1f)
          }
        })
      case _ => None
    }

  /** Batched compressed-media metadata extraction — same distributed
    * shape as [[extractMediaFeatures]] (partition-local, batch loop, no
    * shuffle), but the per-item kernel is the header parser: the
    * filter/bucket/cost-model pass a pipeline runs over compressed
    * media BEFORE shipping bytes to a decode stage. Unparseable
    * payloads get the -1 sentinel + byte-stub features. */
  def extractCompressedMeta(items: Dataset[MediaItem],
                            batchSize: Int = 64): Dataset[MediaFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val feats = compressedMeta(m.kind, m.content).getOrElse(
            Array(-1f) ++ decodeStub(m.content).take(7))
          MediaFeatures(m.id, m.kind, m.content.length, feats)
        }
      }
    }
  }

  /** Decode-failure accounting: per media kind, how many items there
    * were, how many actually decoded, and the ok-fraction — the
    * aggregate a 100 TB pipeline run needs in its RESULT (a per-row
    * -1f sentinel is invisible at that scale; one partial-aggregated
    * groupBy is cheap). */
  def featureSummary(feats: Dataset[MediaFeatures]): DataFrame =
    feats.toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(element_at(col("features"), 1) >= 0f, 1L).otherwise(0L))
          .as("n_decode_ok"),
        avg(col("nBytes")).as("avg_bytes"))
      .withColumn("decode_ok_frac",
        round(col("n_decode_ok") / col("n_items"), 6))
      .orderBy("kind")
}
