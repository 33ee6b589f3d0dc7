package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus partition-wise decode / feature-extract /
  * resize / frame-sample operators (north-star extension; no reference
  * counterpart).
  *
  * IMAGE decode is REAL: the JDK's `javax.imageio.ImageIO` reads PNG, BMP,
  * JPEG and GIF with no external library, and [[imageFeatures]] derives
  * resolution + luminance-histogram features from the decoded raster.
  * AUDIO decode is REAL too: `javax.sound.sampled.AudioSystem` reads
  * WAV/AIFF/AU PCM with no external library, and [[audioFeatures]] derives
  * duration/sample-rate/channels + amplitude-histogram features from the
  * decoded samples. VIDEO decode is REAL for MJPEG-in-AVI
  * ([[decodeVideo]] — a hand-rolled RIFF walk over ImageIO-read JPEG
  * frames, zero dependencies); other video codecs (H.264 etc.) need
  * ffmpeg, which this container lacks, and fall back with any other
  * unreadable bytes to [[decodeStub]], a deterministic fake that derives
  * "features" from the bytes themselves.
  * Everything Spark-side is real and tested either way: the schema, the
  * `mapPartitions` batch shape (decoder state is constructed once per
  * partition, not per row — the expensive part at scale), partition
  * sizing, and the typed output columns.
  */
object Multimodal {

  /** Typed metadata for a media blob. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("format", StringType, nullable = false),     // png|wav|mp4|...
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** A media table schema: id + opaque bytes + metadata struct. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false),
    StructField("meta", mediaMetaSchema, nullable = false)))

  final case class MediaFeatures(media_id: Long, n_bytes: Long,
                                 features: Array[Float])

  /** Real image decode via the JDK's ImageIO (PNG/BMP/JPEG/GIF readers
    * ship with the JRE). None when no registered reader accepts the bytes
    * — the caller falls back to [[decodeStub]], so undecodable blobs
    * degrade deterministically instead of failing the job. */
  def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    // MemoryCacheImageInputStream explicitly: ImageIO.read(InputStream)
    // defaults to a DISK-backed cache stream (a temp file per blob), which
    // would add per-row disk I/O to the decode hot path
    try {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      // NO explicit close: read(ImageInputStream) closes the stream itself
      // (javadoc); a second close throws and would mask the decoded image
      Option(javax.imageio.ImageIO.read(iis))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** ITU-R BT.601 luma from packed sRGB — THE luminance definition for
    * every image/video path here (features, aHash, video sampling), so
    * the coefficients can never diverge between them. Integer form for
    * the histogram bucketing contract, double form for mean/hash
    * accumulation — both from the same coefficients. */
  @inline private def lum601i(rgb: Int): Int =
    (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
      (rgb & 0xff) * 114) / 1000
  @inline private def lum601d(rgb: Int): Double =
    (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
      (rgb & 0xff) * 114) / 1000.0

  /** Features from a decoded raster: [width, height, mean luminance,
    * (dim-3)-bucket luminance histogram (pixel fractions)]. Deterministic
    * for a given image; resolution comes from the REAL decode, so a
    * mis-sized blob is caught by feature checks, not just metadata. */
  def imageFeatures(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val w = img.getWidth
    val h = img.getHeight
    if (dim > 0) out(0) = w.toFloat
    if (dim > 1) out(1) = h.toFloat
    if (dim > 2) {
      val buckets = math.max(dim - 3, 1)
      val hist = new Array[Int](buckets)
      var lumSum = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val lum = lum601i(img.getRGB(x, y))
          lumSum += lum
          hist(math.min(lum * buckets / 256, buckets - 1)) += 1
          x += 1
        }
        y += 1
      }
      val nPix = (w.toLong * h).toDouble
      out(2) = (lumSum / nPix).toFloat
      var b = 0
      while (b < buckets && 3 + b < dim) {
        out(3 + b) = (hist(b) / nPix).toFloat
        b += 1
      }
    }
    out
  }

  /** A decoded audio clip: stream format + normalized mono samples. */
  final case class AudioClip(sampleRate: Float, channels: Int,
                             durationMs: Long, samples: Array[Float])

  /** Real audio decode via the JDK's sampled-audio stack
    * (`javax.sound.sampled.AudioSystem` — WAV/AIFF/AU PCM readers ship
    * with the JRE, no ffmpeg needed). PCM samples are normalized to
    * [-1, 1] and channel-mixed to mono for the amplitude histogram;
    * duration comes from the real frame count / frame rate. None when no
    * installed reader accepts the bytes or the encoding isn't 8/16-bit
    * PCM (mp3/ogg/video still need ffmpeg → [[decodeStub]]). */
  def decodeAudio(bytes: Array[Byte]): Option[AudioClip] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        import javax.sound.sampled.AudioFormat.Encoding.{PCM_SIGNED, PCM_UNSIGNED}
        val bits = fmt.getSampleSizeInBits
        val decodable =
          (fmt.getEncoding == PCM_SIGNED || fmt.getEncoding == PCM_UNSIGNED) &&
            (bits == 8 || bits == 16)
        if (!decodable) None
        else {
          val raw = in.readAllBytes()
          val samples = pcmToMono(raw, bits, fmt.getChannels,
            fmt.getEncoding == PCM_UNSIGNED, fmt.isBigEndian)
          val durMs = math.round(samples.length * 1000.0 / fmt.getSampleRate)
          Some(AudioClip(fmt.getSampleRate, fmt.getChannels, durMs, samples))
        }
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Raw 8/16-bit PCM frames → normalized [-1, 1] mono samples.
    * Package-visible so the unsigned/endian arithmetic is testable without
    * a container format (the JDK writers can't EMIT unsigned 16-bit WAV,
    * but a parsed header can still declare it). */
  private[graft] def pcmToMono(raw: Array[Byte], bits: Int, ch: Int,
                               unsigned: Boolean, bigEndian: Boolean): Array[Float] = {
    val bytesPerSample = bits / 8
    val nFrames = raw.length / (bytesPerSample * ch)
    val samples = new Array[Float](nFrames)
    var f = 0
    while (f < nFrames) {
      var acc = 0.0f
      var c = 0
      while (c < ch) {
        val off = (f * ch + c) * bytesPerSample
        val v =
          if (bits == 8) {
            if (unsigned) ((raw(off) & 0xff) - 128) / 128.0f
            else raw(off) / 128.0f
          } else if (unsigned) {
            // unsigned 16-bit: midpoint 32768 is silence — decoding as
            // two's complement would map silence to ±1 extremes
            val lo = raw(off + (if (bigEndian) 1 else 0)) & 0xff
            val hi = raw(off + (if (bigEndian) 0 else 1)) & 0xff
            (((hi << 8) | lo) - 32768) / 32768.0f
          } else {
            val lo = raw(off + (if (bigEndian) 1 else 0)) & 0xff
            val hi = raw(off + (if (bigEndian) 0 else 1)).toInt
            ((hi << 8) | lo) / 32768.0f // sign-extended hi keeps the sign
          }
        acc += v
        c += 1
      }
      samples(f) = acc / ch
      f += 1
    }
    samples
  }

  /** Features from a decoded clip, mirroring [[imageFeatures]]'s layout:
    * [duration_ms, sample_rate, channels, (dim-3)-bucket |amplitude|
    * histogram (sample fractions)]. Resolution-analog facts come from the
    * REAL decode, so a mislabeled blob is caught by feature checks. */
  def audioFeatures(clip: AudioClip, dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    if (dim > 0) out(0) = clip.durationMs.toFloat
    if (dim > 1) out(1) = clip.sampleRate
    if (dim > 2) out(2) = clip.channels.toFloat
    if (dim > 3 && clip.samples.nonEmpty) {
      val buckets = dim - 3
      val hist = new Array[Int](buckets)
      var i = 0
      while (i < clip.samples.length) {
        val a = math.min(math.abs(clip.samples(i)), 1.0f)
        hist(math.min((a * buckets).toInt, buckets - 1)) += 1
        i += 1
      }
      var b = 0
      while (b < buckets) {
        out(3 + b) = hist(b).toFloat / clip.samples.length
        b += 1
      }
    }
    out
  }

  /** A decoded video: frames (as images) + timing. */
  final case class VideoClip(frames: Seq[java.awt.image.BufferedImage],
                             microsPerFrame: Long) {
    def durationMs: Long = frames.length * microsPerFrame / 1000L
  }

  /** Pluggable video-decode seam: implement this to drop in an ffmpeg (or
    * any other codec) binding without touching the operators —
    * [[videoHashes]]/[[videoNearDupPairs]]/[[decodeFeatures]] take a
    * decoder parameter defaulting to the zero-dependency
    * [[MjpegAviDecoder]]. Contract: Serializable (instances ship to
    * executors inside mapPartitions closures — parameter passing, not a
    * global, so the choice survives executor JVM re-init on a real
    * cluster); return None for bytes the codec can't read (the caller
    * degrades the row, or falls through to the stub); never throw on
    * malformed input. */
  trait VideoDecoder extends Serializable {
    def decode(bytes: Array[Byte], maxFrames: Int): Option[VideoClip]
  }

  /** The default zero-dependency decoder: [[decodeVideo]]'s MJPEG-in-AVI
    * RIFF walk. */
  object MjpegAviDecoder extends VideoDecoder {
    def decode(bytes: Array[Byte], maxFrames: Int): Option[VideoClip] =
      decodeVideo(bytes, maxFrames)
  }

  /** Second zero-dependency decoder, proving the [[VideoDecoder]] seam
    * with a NON-default codec: uncompressed bottom-up 24-bit DIB frames
    * in AVI ('00db' chunks, BI_RGB), dimensions from the 'strf'
    * BITMAPINFOHEADER — the other container the bare JDK can fully
    * decode, and (being uncompressed) the one whose pixels round-trip
    * EXACTLY through [[encodeDibAvi]]. [[MjpegAviDecoder]] returns None
    * on these bytes (no JPEG SOI in any frame chunk), so routing through
    * this decoder is observable end-to-end. */
  object DibAviDecoder extends VideoDecoder {
    def decode(bytes: Array[Byte], maxFrames: Int): Option[VideoClip] =
      decodeDibAvi(bytes, maxFrames)
  }

  /** Uncompressed-DIB AVI walk: same RIFF chunk discipline (Long
    * arithmetic, depth cap, graceful truncation) as [[decodeVideo]];
    * 'strf' supplies width/height/bpp (only BI_RGB 24-bit bottom-up is
    * accepted), '##db' payloads are raw BGR rows padded to 4 bytes. */
  def decodeDibAvi(bytes: Array[Byte], maxFrames: Int = 64): Option[VideoClip] = {
    if (bytes.length < 12 ||
      new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
      new String(bytes, 8, 4, "US-ASCII") != "AVI ") return None
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def u16(off: Int): Int = (bytes(off) & 0xff) | ((bytes(off + 1) & 0xff) << 8)
    def fourcc(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    var microsPerFrame = 33333L
    var w = 0
    var h = 0
    var ok = false // a BI_RGB 24-bit strf was seen (hdrl precedes movi)
    val frames = scala.collection.mutable.ArrayBuffer.empty[java.awt.image.BufferedImage]
    def walk(from: Long, until: Long, depth: Int): Unit = {
      if (depth > 32) return
      var p = from
      while (p + 8 <= until && frames.length < maxFrames) {
        val id = fourcc(p.toInt)
        val size = u32(p.toInt + 4)
        val dataStart = p + 8
        if (dataStart + size > until) return
        val dOff = dataStart.toInt
        id match {
          case "LIST" if size >= 4 =>
            walk(dataStart + 4, dataStart + size, depth + 1)
          case "avih" if size >= 4 =>
            microsPerFrame = math.max(1L, u32(dOff))
          case "strf" if size >= 40 =>
            val bw = u32(dOff + 4).toInt
            val bh = u32(dOff + 8).toInt // negative = top-down, rejected
            val bpp = u16(dOff + 14)
            val compression = u32(dOff + 16)
            // dimension sanity bound (64k per side): a crafted biWidth
            // near 2^31/3 would wrap the Int stride arithmetic negative,
            // turning the size guard into a no-op and the pixel loop into
            // an out-of-bounds read — malformed headers must degrade to
            // "no frames", like every other corrupt-container case
            if (bw > 0 && bh > 0 && bw <= 65535 && bh <= 65535 &&
                bpp == 24 && compression == 0) {
              w = bw; h = bh; ok = true
            }
          case _ if ok && id.length == 4 &&
              (id.endsWith("db") || id.endsWith("dc")) =>
            val stride = ((w * 3) + 3) & ~3
            if (size >= stride.toLong * h) {
              // per-frame degradation, not task failure — the same
              // contract as the MJPEG path's ImageIO catch
              try {
                val img = new java.awt.image.BufferedImage(
                  w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
                var y = 0
                while (y < h) {
                  val rowOff = dOff + (h - 1 - y) * stride // bottom-up rows
                  var x = 0
                  while (x < w) {
                    val b = bytes(rowOff + 3 * x) & 0xff
                    val g = bytes(rowOff + 3 * x + 1) & 0xff
                    val r = bytes(rowOff + 3 * x + 2) & 0xff
                    img.setRGB(x, y, (r << 16) | (g << 8) | b)
                    x += 1
                  }
                  y += 1
                }
                frames += img: Unit
              } catch { case scala.util.control.NonFatal(_) => }
            }
          case _ => ()
        }
        p = dataStart + size + (size & 1)
      }
    }
    walk(12L, math.min(bytes.length.toLong, 8L + u32(4)), 0)
    if (frames.isEmpty) None else Some(VideoClip(frames.toSeq, microsPerFrame))
  }

  /** REAL video decode for MJPEG-in-AVI — the one video codec the bare
    * JDK can handle (each frame is a JPEG, which ImageIO reads; the AVI
    * RIFF container is a ~60-line binary walk). Other codecs (H.264 etc.)
    * still need ffmpeg and return None → the deterministic stub.
    *
    * Container walk: RIFF('AVI ') holds LIST chunks; 'hdrl'→'avih' gives
    * dwMicroSecPerFrame (first u32 of its payload), 'movi' holds the
    * frame stream as '##dc'/'##db' chunks whose payloads start with the
    * JPEG SOI marker. Chunk sizes are little-endian u32, chunks pad to
    * even offsets. Truncated/malformed containers decode to however many
    * whole frames precede the damage (None when zero). */
  def decodeVideo(bytes: Array[Byte], maxFrames: Int = 64): Option[VideoClip] = {
    if (bytes.length < 12 ||
      new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
      new String(bytes, 8, 4, "US-ASCII") != "AVI ") return None
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | ((bytes(off + 1) & 0xffL) << 8) |
        ((bytes(off + 2) & 0xffL) << 16) | ((bytes(off + 3) & 0xffL) << 24)
    def fourcc(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    var microsPerFrame = 33333L // fallback ~30fps when avih is absent
    val frames = scala.collection.mutable.ArrayBuffer.empty[java.awt.image.BufferedImage]
    // walk chunks in [from, until); descend into LIST payloads. ALL chunk
    // arithmetic in Long: a corrupt size near 0x7FFFFFFF wraps Int
    // addition negative, slipping past the bounds check and driving the
    // cursor below zero (a confirmed StringIndexOutOfBounds crash) — the
    // graceful-truncation contract depends on overflow-free comparisons
    // depth cap: a crafted blob of nested 12-byte LIST chunks would
    // otherwise recurse once per level and StackOverflowError (fatal,
    // kills the task past the NonFatal handlers). Real AVI nests 2-3
    // deep; past 32 we stop descending — graceful truncation, like every
    // other malformed-container case here
    def walk(from: Long, until: Long, depth: Int): Unit = {
      if (depth > 32) return
      var p = from
      while (p + 8 <= until && frames.length < maxFrames) {
        val id = fourcc(p.toInt)
        val size = u32(p.toInt + 4) // u32 is non-negative in Long
        val dataStart = p + 8
        if (dataStart + size > until) return // truncated / corrupt size
        val dOff = dataStart.toInt
        id match {
          case "LIST" if size >= 4 =>
            walk(dataStart + 4, dataStart + size, depth + 1) // skip the list type
          case "avih" if size >= 4 =>
            microsPerFrame = math.max(1L, u32(dOff))
          case _ if id.length == 4 && (id.endsWith("dc") || id.endsWith("db")) &&
              size >= 2 && (bytes(dOff) & 0xff) == 0xff &&
              (bytes(dOff + 1) & 0xff) == 0xd8 => // JPEG SOI
            try {
              // memory-cached stream: the bare InputStream overload routes
              // through a DISK-backed cache (a tmpdir file per frame) —
              // same rationale (and same NO-explicit-close contract: read
              // closes the ImageInputStream itself) as decodeImage
              val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
                new java.io.ByteArrayInputStream(bytes, dOff, size.toInt))
              val img = javax.imageio.ImageIO.read(iis)
              if (img != null) frames += img: Unit
            } catch { case scala.util.control.NonFatal(_) => }
          case _ => ()
        }
        p = dataStart + size + (size & 1) // chunks are word-aligned
      }
    }
    walk(12L, math.min(bytes.length.toLong, 8L + u32(4)), 0)
    if (frames.isEmpty) None else Some(VideoClip(frames.toSeq, microsPerFrame))
  }

  /** Feature vector from a decoded video: [n_frames, fps, width, height,
    * per-sampled-frame mean luminance...] — the same shape discipline as
    * [[imageFeatures]]/[[audioFeatures]]. */
  def videoFeatures(clip: VideoClip, dim: Int): Array[Float] = {
    require(dim >= 4, s"video features need dim >= 4, got $dim")
    val out = new Array[Float](dim)
    out(0) = clip.frames.length.toFloat
    out(1) = (1e6 / clip.microsPerFrame).toFloat // fps
    out(2) = clip.frames.head.getWidth.toFloat
    out(3) = clip.frames.head.getHeight.toFloat
    val slots = dim - 4
    var s = 0
    while (s < slots && s < clip.frames.length) {
      // evenly sample frames into the remaining slots
      val f = clip.frames(s * clip.frames.length / math.max(1, math.min(slots, clip.frames.length)))
      var sum = 0.0; var n = 0
      var y = 0
      while (y < f.getHeight) {
        var x = 0
        while (x < f.getWidth) {
          sum += lum601d(f.getRGB(x, y))
          n += 1; x += 1
        }
        y += 1
      }
      out(4 + s) = (sum / math.max(1, n) / 255.0).toFloat
      s += 1
    }
    out
  }

  /** Decode + featurize one blob: real ImageIO path when the bytes are a
    * decodable image, real sampled-audio path when they are a decodable
    * PCM clip, REAL MJPEG/AVI path when they are a JDK-readable video,
    * deterministic fake otherwise (other video codecs — no ffmpeg here). */
  def decodeFeatures(bytes: Array[Byte], dim: Int,
                     videoDecoder: VideoDecoder = MjpegAviDecoder): Array[Float] =
    decodeImage(bytes) match {
      case Some(img) => imageFeatures(img, dim)
      case None => decodeAudio(bytes) match {
        case Some(clip) => audioFeatures(clip, dim)
        case None => videoDecoder.decode(bytes, maxFrames = 64) match {
          case Some(v) if dim >= 4 => videoFeatures(v, dim)
          case _                   => decodeStub(bytes, dim)
        }
      }
    }

  /** Deterministic fake "decode + feature extraction" — the fallback for
    * bytes no JDK reader decodes (the stand-in for the NON-MJPEG video
    * codecs this container doesn't have; image, audio, and MJPEG/AVI
    * video decode are real above).
    * Derives `dim` floats from a rolling byte hash — stable across runs,
    * so tests can assert exact values. The *shape* (per-partition decoder
    * init, streaming iterator, no materialization of the whole partition)
    * is the production shape. */
  def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    // ??? <- real video codec call would go here (ffmpeg binding)
    val out = new Array[Float](dim)
    var h = 1125899906842597L // large prime seed
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    var j = 0
    while (j < dim) {
      h = h * 6364136223846793005L + 1442695040888963407L // LCG step
      out(j) = ((h >>> 33).toInt % 1000) / 1000.0f
      j += 1
    }
    out
  }

  /** 64-bit perceptual average-hash of a decoded raster: mean luminance
    * over an 8×8 grid of cells, bit k set when cell k is at least the
    * grid mean. Robust to re-encoding, resizing, and small edits (they
    * move few cells across the mean) while inverting/different images
    * flip ~half the bits — the standard aHash. Deterministic. */
  def aHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val cells = new Array[Double](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val cy = math.min(y * 8 / h, 7)
      var x = 0
      while (x < w) {
        val cx = math.min(x * 8 / w, 7)
        cells(cy * 8 + cx) += lum601d(img.getRGB(x, y))
        counts(cy * 8 + cx) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    var mean = 0.0
    while (i < 64) {
      if (counts(i) > 0) cells(i) /= counts(i)
      mean += cells(i)
      i += 1
    }
    mean /= 64
    var hash = 0L
    i = 0
    while (i < 64) {
      if (cells(i) >= mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Per-image perceptual hashes over a media table: REAL decode (per
    * partition, streamed) → aHash. Undecodable blobs are DROPPED (null
    * hash rows would pair with each other meaninglessly); route them
    * through [[extractFeatures]]' stub path if they must be tracked.
    * Output: (media_id, ahash). */
  def imageHashes(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeImage(r.getAs[Array[Byte]](contentIdx))
          .map(img => (r.getLong(idIdx), aHash64(img)))
      }
    }.toDF("media_id", "ahash")
  }

  /** Image near-duplicate pairs: aHash within `maxHamming` bits, found
    * with the same pigeonhole banding as text SimHash
    * ([[Dedup.hammingPairs]]) — equi-joins on band values, never a cross
    * join, shuffling only (id, 8-byte hash); the image bytes stay in
    * place. Output: (i, j, hamming). */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int = 5): DataFrame =
    Dedup.hammingPairs(imageHashes(media), "media_id", "ahash",
      bits = 64, maxHamming = maxHamming)

  /** 64-bit perceptual video hash: the bitwise MAJORITY of the per-frame
    * [[aHash64]] values — bit k of the video hash is set when bit k is
    * set in at least half the frames. Majority (not first-frame) makes
    * the hash robust to a re-cut first frame or a few edited frames,
    * while two different videos still disagree on ~half the bits.
    * Deterministic. */
  def videoHash64(clip: VideoClip): Long = {
    val votes = new Array[Int](64)
    clip.frames.foreach { f =>
      val h = aHash64(f)
      var k = 0
      while (k < 64) { if (((h >> k) & 1L) == 1L) votes(k) += 1; k += 1 }
    }
    val half = (clip.frames.length + 1) / 2
    var hash = 0L
    var k = 0
    while (k < 64) { if (votes(k) >= half) hash |= (1L << k); k += 1 }
    hash
  }

  /** (media_id, vhash) for every row `decoder` can read — same batch
    * shape as [[imageHashes]]; undecodable rows drop out. */
  def videoHashes(media: DataFrame, maxFrames: Int = 16,
                  decoder: VideoDecoder = MjpegAviDecoder): DataFrame = {
    import media.sparkSession.implicits._
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decoder.decode(r.getAs[Array[Byte]](contentIdx), maxFrames)
          .map(clip => (r.getLong(idIdx), videoHash64(clip)))
      }
    }.toDF("media_id", "vhash")
  }

  /** Near-duplicate videos within `maxHamming` bits of majority frame
    * hash — decode → hash → the same pigeonhole banding as every other
    * perceptual dedup here. */
  def videoNearDupPairs(media: DataFrame, maxHamming: Int = 5,
                        maxFrames: Int = 16,
                        decoder: VideoDecoder = MjpegAviDecoder): DataFrame =
    Dedup.hammingPairs(videoHashes(media, maxFrames, decoder), "media_id",
      "vhash", bits = 64, maxHamming = maxHamming)

  /** 64-bit audio envelope hash: RMS energy over 64 equal time windows,
    * bit k set when window k's energy is at least the clip mean — the
    * amplitude-envelope analog of [[aHash64]]. Mean-relative, so it is
    * volume-invariant (scaling every sample scales windows and mean
    * alike); robust to light noise and re-encoding, while a different
    * recording's envelope flips ~half the bits. Deterministic. */
  def audioHash64(clip: AudioClip): Long = {
    val n = clip.samples.length
    if (n == 0) return 0L
    val energy = new Array[Double](64)
    val counts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val w = math.min(i * 64 / n, 63)
      val s = clip.samples(i).toDouble
      energy(w) += s * s
      counts(w) += 1
      i += 1
    }
    var mean = 0.0
    var k = 0
    while (k < 64) {
      if (counts(k) > 0) energy(k) = math.sqrt(energy(k) / counts(k))
      mean += energy(k)
      k += 1
    }
    mean /= 64
    var hash = 0L
    k = 0
    while (k < 64) {
      if (energy(k) >= mean) hash |= (1L << k)
      k += 1
    }
    hash
  }

  /** Per-clip envelope hashes: REAL decode (per partition, streamed) →
    * [[audioHash64]]; undecodable blobs dropped (see [[imageHashes]]).
    * Output: (media_id, audio_hash). */
  def audioHashes(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        decodeAudio(r.getAs[Array[Byte]](contentIdx))
          .map(clip => (r.getLong(idIdx), audioHash64(clip)))
      }
    }.toDF("media_id", "audio_hash")
  }

  /** Feature extraction over a media DataFrame: one decoder per partition,
    * rows streamed through it (mapPartitions — the iterator is lazy, so a
    * 10 GB partition never materializes). Output: (media_id, n_bytes,
    * features[dim]). */
  def extractFeatures(media: DataFrame, dim: Int = 16): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      // per-partition decoder/session init happens HERE (once), not per row
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](contentIdx)
        MediaFeatures(r.getLong(idIdx), bytes.length.toLong,
          decodeFeatures(bytes, dim))
      }
    }
  }

  /** Typed output row of [[resizeImages]]. */
  final case class ResizedImage(media_id: Long, content: Array[Byte],
                                width: Int, height: Int)

  /** REAL image resize over a media DataFrame: decode (JDK ImageIO),
    * bilinear-scale to `width`×`height` with Graphics2D, re-encode PNG.
    * Same batch shape as [[extractFeatures]] — one decoder context per
    * partition, rows streamed lazily, blobs never shuffle (the transform
    * is per-row, so resizing 100 TB of images is scan-rewrite
    * parallelism). Rows whose bytes don't decode (corrupt blob, video,
    * unsupported codec) emit `content = null` with zero dims rather than
    * poisoning the partition — the caller filters or routes them. */
  def resizeImages(media: DataFrame, width: Int, height: Int): Dataset[ResizedImage] = {
    require(width > 0 && height > 0, s"target dims must be positive, got ${width}x$height")
    import media.sparkSession.implicits._
    val idIdx = media.schema.fieldIndex("media_id")
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      // per-PARTITION target buffer + graphics: dims are constant and the
      // scaled draw overwrites every target pixel, so reuse is safe — a
      // fresh width×height raster per row would be pure allocator churn
      // on the hot path (BufferedImage graphics hold no native resources
      // that need per-row disposal)
      val out = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      rows.map { r =>
        val id = r.getLong(idIdx)
        decodeImage(r.getAs[Array[Byte]](contentIdx)) match {
          case Some(img) =>
            try {
              g.drawImage(img, 0, 0, width, height, null): Unit
              val bos = new java.io.ByteArrayOutputStream()
              // memory-cached image output, NOT the ImageIO.write(File...)
              // default path whose FileCacheImageOutputStream creates and
              // deletes a java.io.tmpdir file per row (same rationale as
              // decodeImage's MemoryCacheImageInputStream) — and honor the
              // writer's boolean: no-writer means the null sentinel, not a
              // zero-byte blob
              val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
              val written =
                try javax.imageio.ImageIO.write(out, "png", ios)
                finally ios.close()
              if (written) ResizedImage(id, bos.toByteArray, width, height)
              else ResizedImage(id, null, 0, 0)
            } catch {
              // an encode failure degrades the ROW, not the partition —
              // the same contract as decode failures
              case scala.util.control.NonFatal(_) => ResizedImage(id, null, 0, 0)
            }
          case None => ResizedImage(id, null, 0, 0)
        }
      }
    }
  }

  // --- shared RIFF writer primitives (both AVI encoders) — one home for
  // the byte-level invariants (LE sizes, odd-payload word padding) so a
  // container-rule fix can never drift between codecs ---
  private def riffLe32(v: Long): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def riffLe16(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def riffChunk(id: String, payload: Array[Byte]): Array[Byte] = {
    val pad = if (payload.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
    id.getBytes("US-ASCII") ++ riffLe32(payload.length.toLong) ++ payload ++ pad
  }
  private def riffList(listType: String, children: Array[Byte]): Array[Byte] =
    riffChunk("LIST", listType.getBytes("US-ASCII") ++ children)
  private def riffAvi(hdrl: Array[Byte], movi: Array[Byte]): Array[Byte] = {
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ riffLe32(body.length.toLong) ++ body
  }

  /** Encode frames as an MJPEG AVI — the test/demo twin of
    * [[decodeVideo]] (JPEG frames via ImageIO inside a hand-built RIFF
    * container), so video round-trips with zero native dependencies. */
  def encodeMjpegAvi(frames: Seq[java.awt.image.BufferedImage],
                     microsPerFrame: Long = 33333L): Array[Byte] = {
    require(frames.nonEmpty, "need at least one frame")
    val jpegs = frames.map { f =>
      val bos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
      try require(javax.imageio.ImageIO.write(f, "jpg", ios), "no JPEG writer")
      finally ios.close()
      bos.toByteArray
    }
    val avih = riffChunk("avih", riffLe32(microsPerFrame) ++ Array.fill[Byte](52)(0))
    val hdrl = riffList("hdrl", avih)
    val movi = riffList("movi", jpegs.flatMap(j => riffChunk("00dc", j)).toArray)
    riffAvi(hdrl, movi)
  }

  /** Encode frames as an uncompressed 24-bit DIB AVI — the lossless twin
    * of [[encodeMjpegAvi]] and the fixture generator for
    * [[DibAviDecoder]]: a proper 'strl'/'strf' (BITMAPINFOHEADER,
    * BI_RGB) carries the dimensions, '00db' chunks carry raw bottom-up
    * BGR rows padded to 4 bytes, so decode → encode → decode round-trips
    * pixels EXACTLY (no JPEG quantization). */
  def encodeDibAvi(frames: Seq[java.awt.image.BufferedImage],
                   microsPerFrame: Long = 33333L): Array[Byte] = {
    require(frames.nonEmpty, "need at least one frame")
    val w = frames.head.getWidth
    val h = frames.head.getHeight
    val stride = ((w * 3) + 3) & ~3
    val dibs = frames.map { f =>
      require(f.getWidth == w && f.getHeight == h, "frames must share dims")
      val out = new Array[Byte](stride * h)
      var y = 0
      while (y < h) {
        val rowOff = (h - 1 - y) * stride
        var x = 0
        while (x < w) {
          val rgb = f.getRGB(x, y)
          out(rowOff + 3 * x) = (rgb & 0xff).toByte
          out(rowOff + 3 * x + 1) = ((rgb >> 8) & 0xff).toByte
          out(rowOff + 3 * x + 2) = ((rgb >> 16) & 0xff).toByte
          x += 1
        }
        y += 1
      }
      out
    }
    val avih = riffChunk("avih", riffLe32(microsPerFrame) ++ Array.fill[Byte](52)(0))
    val strh = riffChunk("strh",
      "vids".getBytes("US-ASCII") ++ "DIB ".getBytes("US-ASCII") ++
        Array.fill[Byte](48)(0))
    val strf = riffChunk("strf",
      riffLe32(40) ++ riffLe32(w.toLong) ++ riffLe32(h.toLong) ++
        riffLe16(1) ++ riffLe16(24) ++ riffLe32(0) ++
        riffLe32(stride.toLong * h) ++ riffLe32(0) ++ riffLe32(0) ++
        riffLe32(0) ++ riffLe32(0))
    val hdrl = riffList("hdrl", avih ++ riffList("strl", strh ++ strf))
    val movi = riffList("movi", dibs.flatMap(d => riffChunk("00db", d)).toArray)
    riffAvi(hdrl, movi)
  }
}
