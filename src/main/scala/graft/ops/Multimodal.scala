package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (north-star EXT): image/audio/video as opaque
  * `BinaryType` columns with typed metadata structs.
  *
  * The Spark-side mechanics are real — schema, partition-sized batch
  * processing, metadata extraction, frame sampling contract. IMAGE decode
  * is real too: [[imageDecode]] runs the JDK's own `javax.imageio` (ships
  * with every JRE — PNG/JPEG/GIF/BMP/WBMP, zero extra dependencies) and
  * reports true dimensions, channel count and an exact pixel sum. Only
  * formats ImageIO cannot read (video containers, exotic codecs) fall
  * back to [[fakeDecode]], the deterministic stub seam where a native
  * decoder (javacv / a Python worker via mapInArrow) would plug in.
  */
object Multimodal {

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("byte_len", LongType),
    StructField("sha256", StringType),
    StructField("format", StringType)))

  /** Attach a metadata struct to a binary media column — pure expressions,
    * runs at scan speed. Format sniffing from magic bytes. */
  def withMediaMeta(df: DataFrame, binCol: String, outCol: String = "media_meta"): DataFrame = {
    val b = col(binCol)
    val magic = hex(expr(s"substring($binCol, 1, 4)"))
    val format = when(magic.startsWith("FFD8"), "jpeg")
      .when(magic.startsWith("89504E47"), "png")
      .when(magic.startsWith("52494646"), "riff")
      .otherwise("unknown")
    df.withColumn(outCol, struct(
      length(b).cast("long").as("byte_len"),
      lower(sha2(b, 256)).as("sha256"),
      format.as("format")))
  }

  /** Id contract shared by the decode seams: non-null and long-castable
    * (results ride a non-nullable tuple encoder). try_cast + raise_error
    * so a violating id fails with a named operator error under both ANSI
    * and legacy cast modes — the [[graft.ops.Dedup.suffixArraySpans]]
    * idiom. */
  private def longIdOrRaise(idCol: String): org.apache.spark.sql.Column = {
    val idL = expr(s"try_cast(`$idCol` AS BIGINT)")
    when(idL.isNull, raise_error(concat(
      lit(s"media decode requires a non-null long-castable id; got " +
        s"$idCol = "), coalesce(col(idCol).cast("string"), lit("NULL")))))
      .otherwise(idL)
  }

  /** STUB decode: deterministic pseudo-dimensions from content bytes —
    * the fallback for formats [[imageDecode]] cannot read. The signature
    * — bytes in, (width, height, channels) out — is the production
    * contract for plugging in a native decoder. */
  def fakeDecode(bytes: Array[Byte]): (Int, Int, Int) = {
    val h = java.util.Arrays.hashCode(bytes)
    (256 + math.abs(h % 1024), 256 + math.abs((h / 1024) % 1024), 3)
  }

  /** REAL image decode via the JDK's bundled ImageIO readers
    * (PNG/JPEG/GIF/BMP/WBMP). Returns (width, height, channels,
    * pixel_sum) where pixel_sum = Σ(r+g+b) over the decoded raster —
    * an exact integer content fingerprint for lossless formats (PNG
    * round-trips bit-identically; JPEG dims are exact, pixels lossy).
    * None when no registered reader accepts the bytes — callers fall
    * back to [[fakeDecode]]. Decoding is pure JVM, no native libs. */
  def imageDecode(bytes: Array[Byte]): Option[(Int, Int, Int, Long)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        var s = 0L; var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            s += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        Some((w, h, img.getColorModel.getNumComponents, s))
      }
    } catch { case _: Exception => None }

  /** Partition-batched decode: the iterator-in/iterator-out shape of
    * mapPartitions is exactly how a vectorized decoder (or an Arrow
    * batch handed to a Python/native worker) consumes media at scale —
    * per-partition setup cost amortized across rows, no per-row codec
    * initialization. Real ImageIO decode first (`decoded` = true, exact
    * dims + pixel sum); unreadable payloads keep the deterministic stub
    * dims with `decoded` = false and a NULL pixel sum. */
  def decodeDimensions(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(longIdOrRaise(idCol), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition native-decoder init would go here; ImageIO's
        // reader registry is JVM-global and thread-safe
        it.map { case (id, bytes) =>
          imageDecode(bytes) match {
            case Some((w, h, c, ps)) => (id, w, h, c, Some(ps), true)
            case None =>
              val (w, h, c) = fakeDecode(bytes)
              (id, w, h, c, None: Option[Long], false)
          }
        }
      }
      .toDF(idCol, "width", "height", "channels", "pixel_sum", "decoded")
  }

  /** REAL image resize — nearest-neighbor resampling with the
    * DETERMINISTIC floor map srcX = x·srcW div outW (pure integer
    * arithmetic, so the sampled pixel grid is identical on every JVM;
    * Graphics2D's interpolating scalers make no such cross-platform
    * guarantee, which is why this loop is hand-rolled), re-encoded as
    * lossless PNG. The standard thumbnail/normalize stage between decode
    * and feature extraction. Returns the resized bytes plus the resized
    * raster's exact (width, height, channels, pixel_sum) so the
    * transform is content-gated, not just size-gated; None when ImageIO
    * can't read the input (the native-codec seam). */
  def imageResize(bytes: Array[Byte], outW: Int, outH: Int)
      : Option[(Array[Byte], Int, Int, Int, Long)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val srcW = img.getWidth; val srcH = img.getHeight
        val out = new java.awt.image.BufferedImage(
          outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var s = 0L; var y = 0
        while (y < outH) {
          val sy = (y.toLong * srcH / outH).toInt
          var x = 0
          while (x < outW) {
            val rgb = img.getRGB((x.toLong * srcW / outW).toInt, sy)
            out.setRGB(x, y, rgb)
            s += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some((bos.toByteArray, outW, outH,
          out.getColorModel.getNumComponents, s))
      }
    } catch { case _: Exception => None }

  /** Partition-batched resize — the [[decodeDimensions]] seam for the
    * TRANSFORM stage: decode → deterministic nearest-neighbor resample →
    * lossless re-encode, emitting resized bytes + exact resized-raster
    * stats. Unreadable payloads pass through with NULL media and stub
    * dims (`decoded` = false) — the error-channel contract: nothing is
    * dropped, downstream filters on `decoded`. */
  def resizeImages(df: DataFrame, idCol: String, binCol: String,
      outW: Int, outH: Int): DataFrame = {
    require(outW > 0 && outH > 0, "resize target must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(longIdOrRaise(idCol), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          imageResize(bytes, outW, outH) match {
            case Some((out, w, h, c, ps)) =>
              (id, Some(out), w, h, c, Some(ps), true)
            case None =>
              val (w, h, c) = fakeDecode(bytes)
              (id, None: Option[Array[Byte]], w, h, c,
                None: Option[Long], false)
          }
        }
      }
      .toDF(idCol, "media", "width", "height", "channels", "pixel_sum",
        "decoded")
  }

  /** 64-bit difference hash (dHash) of an image — the standard cheap
    * PERCEPTUAL fingerprint for near-duplicate image detection (Krawetz's
    * public aHash/dHash family): decode, nearest-neighbor downsample the
    * gray raster to 9×8 on the [[imageResize]] floor map (srcX = x·W div
    * 9, srcY = y·H div 8 — pure integer, bit-identical on every JVM),
    * then bit(y·8+x) = 1 iff gray(x+1,y) > gray(x,y). Gray = r+g+b (no
    * division — monotone in luminance, exact). Crops/re-encodes/minor
    * edits move few bits, so near-duplicate images sit within a small
    * Hamming radius — the image-side analogue of SimHash on text.
    * Returns (hash, bits) where `bits` is the 64-char '0'/'1' string
    * whose POSITIONAL Hamming distance equals the bit distance —
    * directly joinable by [[graft.ops.RecordLinkage.hammingKeyJoin]]'s
    * exact-recall pigeonhole blocking. None when ImageIO can't read the
    * payload (the native-codec seam). */
  def imageDHash(bytes: Array[Byte]): Option[(Long, String)] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val srcW = img.getWidth; val srcH = img.getHeight
        val g = Array.ofDim[Long](8, 9)
        var y = 0
        while (y < 8) {
          val sy = (y.toLong * srcH / 8).toInt
          var x = 0
          while (x < 9) {
            val rgb = img.getRGB((x.toLong * srcW / 9).toInt, sy)
            g(y)(x) = ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
            x += 1
          }
          y += 1
        }
        var hash = 0L
        val sb = new java.lang.StringBuilder(64)
        y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            val bit = g(y)(x + 1) > g(y)(x)
            hash = (hash << 1) | (if (bit) 1L else 0L)
            sb.append(if (bit) '1' else '0')
            x += 1
          }
          y += 1
        }
        Some((hash, sb.toString))
      }
    } catch { case _: Exception => None }

  /** Partition-batched [[imageDHash]] — the [[decodeDimensions]] seam
    * for the perceptual-fingerprint stage. Emits (id, dhash, dbits,
    * decoded); unreadable payloads keep NULL hash columns with
    * `decoded` = false (the error-channel contract). Feed `dbits` to
    * [[graft.ops.RecordLinkage.hammingKeyJoin]] (keyLen 64) for the
    * near-duplicate pair mine: exact-duplicate hashes collapse through
    * its clone-group pre-stage, so a corpus of k-way re-encoded copies
    * costs candidate work on DISTINCT fingerprints only. */
  def dhashImages(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(longIdOrRaise(idCol), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          imageDHash(bytes) match {
            case Some((h, b)) => (id, Some(h), Some(b), true)
            case None => (id, None: Option[Long], None: Option[String], false)
          }
        }
      }
      .toDF(idCol, "dhash", "dbits", "decoded")
  }

  /** Deterministic gradient-pattern PNG synthesis — the test/demo
    * payload for PERCEPTUAL-hash gates: pixel (x, y) holds the gray
    * value ((x·7 + y·13 + salt) + (x = perturbX ? bump : 0)) mod 241 in
    * all three channels, so the full raster — and therefore every
    * downsample/compare any SQL engine replays — is a pure integer
    * function of (w, h, salt, perturbX, bump). Same-salt images share
    * their gradient; the default bump (7) is SMALLER than the ~28-gray
    * inter-sample step, so it rarely flips a difference bit (the
    * exact-clone regime q271 exercises), while a bump above the step
    * (e.g. 100) flips the bits around a sampled perturbation column —
    * a genuine near-duplicate for Hamming-radius tests. */
  def gradientPng(w: Int, h: Int, salt: Int, perturbX: Int,
      bump: Int = 7): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = (x * 7 + y * 13 + salt + (if (x == perturbX) bump else 0)) % 241
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic solid-color PNG synthesis (JDK ImageIO encoder) —
    * the test/demo payload generator for the decode round-trip: PNG is
    * lossless, so dims and the pixel sum of the decoded raster are pure
    * functions of (w, h, rgb), checkable by any SQL engine. */
  def solidPng(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** STUB audio decode: deterministic pseudo-stats from content bytes —
    * the fallback for payloads [[audioDecode]] cannot read (compressed
    * codecs; the seam where a native decoder plugs in). */
  def fakeAudioDecode(bytes: Array[Byte]): (Int, Int, Long) = {
    val h = java.util.Arrays.hashCode(bytes)
    (8000 + math.abs(h % 4) * 4000, 1 + math.abs(h % 2),
      100L + math.abs((h / 8) % 1000))
  }

  /** REAL audio decode via the JDK's bundled `javax.sound.sampled` WAV
    * parser (zero extra dependencies — the ImageIO of audio). Accepts
    * PCM-signed 16-bit WAV; returns (sample_rate, channels, n_frames,
    * amplitude_sum) where amplitude_sum = Σ|sample| over every channel
    * sample — an exact integer content fingerprint, PCM being lossless.
    * Callers fall back to [[fakeAudioDecode]], the native-decoder seam,
    * for payloads the JDK can't read. */
  def audioDecode(bytes: Array[Byte]): Option[(Int, Int, Long, Long)] =
    decodePcm16(bytes).map { case (rate, ch, samples) =>
      var sum = 0L
      var i = 0
      while (i < samples.length) { sum += math.abs(samples(i).toLong); i += 1 }
      (rate, ch, samples.length.toLong / ch, sum)
    }

  /** Partition-batched audio decode — the [[decodeDimensions]] seam for
    * the second modality: real `javax.sound.sampled` WAV decode first
    * (`decoded` = true, exact frame count + amplitude sum); unreadable
    * or compressed payloads keep deterministic stub stats with
    * `decoded` = false and a NULL amplitude sum. */
  def decodeAudio(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(longIdOrRaise(idCol), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          audioDecode(bytes) match {
            case Some((sr, ch, nf, amp)) => (id, sr, ch, nf, Some(amp), true)
            case None =>
              val (sr, ch, nf) = fakeAudioDecode(bytes)
              (id, sr, ch, nf, None: Option[Long], false)
          }
        }
      }
      .toDF(idCol, "sample_rate", "channels", "n_frames", "amplitude_sum",
        "decoded")
  }

  /** REAL audio feature extraction — per-window ENERGY over decoded PCM16
    * frames: one row per `windowFrames`-frame window with the exact
    * Σ sample² across every channel sample in the window (the classic
    * silence/clipping/level feature behind VAD gates and loudness
    * audits). Exact longs: |s| ≤ 2¹⁵ → s² ≤ 2³⁰, so even a 2²⁰-frame
    * window of stereo full-scale stays < 2⁵². The last window keeps its
    * true (shorter) frame count. Undecodable payloads emit ZERO rows —
    * feature extraction's error contract is the side channel, and the
    * `decoded` flag already lives on the decode stage ([[decodeAudio]]).
    * Same mapPartitions batch seam as every media kernel here; the
    * per-window fan-out happens INSIDE the task (iterator flatMap), so
    * only feature rows — never payload bytes — reach the shuffle. */
  def audioEnergyWindows(df: DataFrame, idCol: String, binCol: String,
      windowFrames: Int = 1024): DataFrame = {
    require(windowFrames > 0, "windowFrames must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(longIdOrRaise(idCol), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          decodePcm16(bytes) match {
            case None => Iterator.empty
            case Some((_, ch, samples)) =>
              val perWin = windowFrames * ch
              val nWin = (samples.length + perWin - 1) / perWin
              (0 until nWin).iterator.map { w =>
                var s = 0L
                var i = w * perWin
                val end = math.min(samples.length, i + perWin)
                val nf = (end - w * perWin) / ch
                while (i < end) {
                  s += samples(i).toLong * samples(i); i += 1
                }
                (id, w.toLong, nf.toLong, s)
              }
          }
        }
      }
      .toDF(idCol, "win_idx", "n_frames", "energy")
  }

  /** Raw PCM16 sample decode for the audio kernels via the JDK WAV
    * parser — (sample_rate, channels, interleaved samples) or None for
    * unreadable payloads. */
  private def decodePcm16(bytes: Array[Byte])
      : Option[(Int, Int, Array[Short])] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      if (fmt.getEncoding !=
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          fmt.getSampleSizeInBits != 16) None
      else {
        val big = fmt.isBigEndian
        val raw = ais.readAllBytes()
        val out = new Array[Short](raw.length / 2)
        var i = 0
        while (i < out.length) {
          out(i) =
            if (big) ((raw(2 * i) << 8) | (raw(2 * i + 1) & 0xFF)).toShort
            else ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xFF)).toShort
          i += 1
        }
        Some((fmt.getSampleRate.toInt, fmt.getChannels, out))
      }
    } catch { case _: Exception => None }

  /** Deterministic PCM16 WAV synthesis (JDK AudioSystem encoder) — the
    * audio counterpart of [[solidPng]]: PCM is lossless, so the decoded
    * stats are pure functions of the synthesized samples, checkable by
    * any SQL engine. `samples` are interleaved channel samples. */
  def pcm16Wav(sampleRate: Int, channels: Int,
      samples: Array[Short]): Array[Byte] = {
    require(samples.length % channels == 0,
      "interleaved sample count must be a frame multiple")
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, channels, true, false)
    val raw = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) { // little-endian per fmt
      raw(2 * i) = (samples(i) & 0xFF).toByte
      raw(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), fmt,
      samples.length / channels)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Frame-sampling contract for video-ish payloads: split a byte payload
    * into `frameBytes`-sized pseudo-frames and keep every `stride`-th —
    * the real implementation swaps the splitter for a container demuxer.
    * Emits (id, frame_index, frame_bytes). */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String,
      frameBytes: Int = 1024, stride: Int = 10): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(longIdOrRaise(idCol), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        bytes.grouped(frameBytes).zipWithIndex.collect {
          case (frame, i) if i % stride == 0 => (id, i, frame)
        }
      }
      .toDF(idCol, "frame_index", "frame_bytes")
  }
}
