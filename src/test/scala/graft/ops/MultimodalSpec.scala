package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val jpegMagic = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte, 1, 2, 3)
  private val pngMagic = Array[Byte](0x89.toByte, 0x50, 0x4E, 0x47, 9, 9)

  test("media metadata: byte length, sha256, magic-byte format sniffing") {
    val df = Seq((1L, jpegMagic), (2L, pngMagic), (3L, "plain".getBytes("UTF-8")))
      .toDF("id", "media")
    val out = Multimodal.withMediaMeta(df, "media")
      .select($"id", $"media_meta.byte_len", $"media_meta.format", $"media_meta.sha256")
      .as[(Long, Long, String, String)].collect().sortBy(_._1)
    assert(out(0)._2 == 7 && out(0)._3 == "jpeg")
    assert(out(1)._3 == "png")
    assert(out(2)._3 == "unknown")
    assert(out.forall(_._4.matches("[0-9a-f]{64}")))
  }

  test("stub fallback: undecodable bytes get deterministic dims via the " +
      "mapPartitions batch path, decoded=false, NULL pixel sum") {
    // truncated magic prefixes: format sniffers match but no ImageIO
    // reader can decode them — the fakeDecode fallback path
    val df = Seq((1L, jpegMagic), (2L, pngMagic)).toDF("id", "media")
    val out1 = Multimodal.decodeDimensions(df, "id", "media")
      .as[(Long, Int, Int, Int, Option[Long], Boolean)]
      .collect().sortBy(_._1).toSeq
    val out2 = Multimodal.decodeDimensions(df.repartition(4), "id", "media")
      .as[(Long, Int, Int, Int, Option[Long], Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(out1 == out2) // partitioning-independent
    assert(out1.forall { case (_, w, h, c, ps, dec) =>
      w >= 256 && h >= 256 && c == 3 && ps.isEmpty && !dec })
  }

  test("real ImageIO decode: checked-in PNG and JPEG fixtures report true " +
      "dims and channels; PNG pixel sum is exact (lossless round-trip)") {
    def fixture(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/$name")
      assert(in != null, s"missing test resource $name")
      try in.readAllBytes() finally in.close()
    }
    // 5x3 gradient written by the JDK encoder: rgb(x*40, y*80, 123)
    val expectedSum = (for (y <- 0 until 3; x <- 0 until 5)
      yield x * 40 + y * 80 + 123).sum.toLong
    val df = Seq(
      (1L, fixture("fixture_5x3.png")),
      (2L, fixture("fixture_5x3.jpg")),
      (3L, "not an image".getBytes("UTF-8")))
      .toDF("id", "media")
    val out = Multimodal.decodeDimensions(df, "id", "media")
      .as[(Long, Int, Int, Int, Option[Long], Boolean)]
      .collect().sortBy(_._1).toSeq
    val png = out(0); val jpg = out(1); val txt = out(2)
    assert(png._2 == 5 && png._3 == 3 && png._4 == 3 && png._6)
    assert(png._5.contains(expectedSum))
    // JPEG: dims exact, pixels lossy — sum present but not pinned
    assert(jpg._2 == 5 && jpg._3 == 3 && jpg._4 == 3 && jpg._6 && jpg._5.nonEmpty)
    assert(!txt._6 && txt._5.isEmpty)
  }

  test("solidPng round-trip: encode then decode is exact — dims, 3 " +
      "channels, pixel_sum = w*h*(r+g+b)") {
    val df = Seq(
      (10L, Multimodal.solidPng(7, 4, (200 << 16) | (100 << 8) | 50)),
      (11L, Multimodal.solidPng(1, 1, 0xFFFFFF)))
      .toDF("id", "media")
    val out = Multimodal.decodeDimensions(df, "id", "media")
      .as[(Long, Int, Int, Int, Option[Long], Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(out(0) == ((10L, 7, 4, 3, Some(7L * 4 * 350), true)))
    assert(out(1) == ((11L, 1, 1, 3, Some(765L), true)))
  }

  test("pcm16Wav round-trip: encode then audioDecode is exact — rate, " +
      "channels, frames, Σ|sample| — mono and stereo, both via the " +
      "batched decodeAudio path") {
    // hand-built signals with known sums: mono ramp, stereo constants
    val mono = Array[Short](0, 100, -200, 300, -400) // Σ|s| = 1000
    val stereo = Array[Short](10, -10, 20, -20, 30, -30) // 3 frames, Σ=120
    val df = Seq(
      (1L, Multimodal.pcm16Wav(8000, 1, mono)),
      (2L, Multimodal.pcm16Wav(16000, 2, stereo))).toDF("id", "media")
    val out = Multimodal.decodeAudio(df, "id", "media")
      .as[(Long, Int, Int, Long, Option[Long], Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 8000, 1, 5L, Some(1000L), true),
      (2L, 16000, 2, 3L, Some(120L), true)), s"got $out")
    // extreme samples survive the little-endian round trip
    val edge = Array[Short](Short.MinValue, Short.MaxValue)
    val e = Multimodal.audioDecode(Multimodal.pcm16Wav(44100, 1, edge)).get
    assert(e == ((44100, 1, 2L, 32768L + 32767L)), s"got $e")
  }

  test("audio stub fallback: non-WAV bytes get deterministic pseudo-stats, " +
      "decoded=false, NULL amplitude sum; layout-invariant") {
    val df = Seq((1L, "not audio at all".getBytes("UTF-8")),
      (2L, jpegMagic)).toDF("id", "media")
    val a = Multimodal.decodeAudio(df, "id", "media")
      .as[(Long, Int, Int, Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    val b = Multimodal.decodeAudio(df.repartition(3), "id", "media")
      .as[(Long, Int, Int, Long, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    assert(a == b)
    assert(a.forall { case (_, sr, ch, nf, amp, dec) =>
      sr >= 8000 && (ch == 1 || ch == 2) && nf >= 100 && amp.isEmpty && !dec })
  }

  test("frame sampling: every stride-th fixed-size frame with indices") {
    val payload = Array.tabulate[Byte](10240)(i => (i % 251).toByte)
    val df = Seq((7L, payload)).toDF("id", "media")
    val frames = Multimodal.sampleFrames(df, "id", "media", frameBytes = 1024, stride = 3)
      .as[(Long, Int, Array[Byte])].collect().sortBy(_._2)
    assert(frames.map(_._2).toSeq == Seq(0, 3, 6, 9))
    assert(frames.forall(_._3.length == 1024))
  }

  test("imageResize: nearest-neighbor floor map on a gradient matches the " +
      "hand replica exactly; re-decode of the resized PNG agrees; solid " +
      "stays solid; upscale works; stub fallback for junk") {
    // 4×2 gradient: pixel (x, y) has r=40x, g=20y, b=5 — NN to 2×1 must
    // sample src (0,0) and (2,0) exactly (floor map x·4/2)
    val img = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 4)
      img.setRGB(x, y, (40 * x) << 16 | (20 * y) << 8 | 5)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val Some((outBytes, w, h, c, ps)) = Multimodal.imageResize(bos.toByteArray, 2, 1)
    assert((w, h, c) == ((2, 1, 3)))
    // sampled pixels: (0,0) = (0,0,5) and (2,0) = (80,0,5) → sum 90
    assert(ps == 90L, s"got $ps")
    // the re-encoded PNG is lossless: decoding it reproduces the stats
    val Some((dw, dh, dc, dps)) = Multimodal.imageDecode(outBytes)
    assert((dw, dh, dc, dps) == ((2, 1, 3, 90L)))
    // solid color survives resampling at any target, including upscale
    val solid = Multimodal.solidPng(3, 3, 0x0A0B0C)
    val Some((_, uw, uh, _, ups)) = Multimodal.imageResize(solid, 7, 5)
    assert((uw, uh) == ((7, 5)) && ups == 7L * 5 * (0x0A + 0x0B + 0x0C))
    assert(Multimodal.imageResize("junk".getBytes, 2, 2).isEmpty)
  }

  test("resizeImages seam: stats + bytes for readable payloads, NULL " +
      "media + stub dims for junk; layout-invariant") {
    val df = Seq(
      (1L, Multimodal.solidPng(8, 4, 0x010203)),
      (2L, "not an image".getBytes("UTF-8"))).toDF("id", "media")
    def run(d: org.apache.spark.sql.DataFrame) =
      Multimodal.resizeImages(d, "id", "media", 4, 2)
        .select("id", "width", "height", "pixel_sum", "decoded")
        .as[(Long, Int, Int, Option[Long], Boolean)].collect().sortBy(_._1).toSeq
    val a = run(df)
    assert(a(0) == ((1L, 4, 2, Some(8L * 1 + 8 * 2 + 8 * 3), true)))
    assert(a(1)._5 == false && a(1)._4.isEmpty)
    assert(a == run(df.repartition(3)))
  }

  test("audioEnergyWindows: hand-computed windows, partial last window, " +
      "stereo interleave, undecodable emits no rows; layout-invariant") {
    // mono, 5 frames, window 2: wins (1²+2²), (3²+4²), (5²)
    val mono = Multimodal.pcm16Wav(8000, 1, Array[Short](1, 2, 3, 4, 5))
    // stereo, 3 frames, window 2: (1²+1²+2²+2²), (3²+3²)
    val stereo = Multimodal.pcm16Wav(16000, 2, Array[Short](1, 1, 2, 2, 3, 3))
    val df = Seq((1L, mono), (2L, stereo), (3L, "junk".getBytes("UTF-8")))
      .toDF("id", "media")
    def run(d: org.apache.spark.sql.DataFrame) =
      Multimodal.audioEnergyWindows(d, "id", "media", windowFrames = 2)
        .as[(Long, Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val got = run(df)
    assert(got == Seq(
      (1L, 0L, 2L, 5L), (1L, 1L, 2L, 25L), (1L, 2L, 1L, 25L),
      (2L, 0L, 2L, 10L), (2L, 1L, 1L, 18L)), s"got $got")
    assert(got == run(df.repartition(3)))
    // full-scale samples stay exact: Short.MinValue² sums without overflow
    val extreme = Multimodal.pcm16Wav(8000, 1,
      Array[Short](Short.MinValue, Short.MaxValue))
    val e = run(Seq((9L, extreme)).toDF("id", "media"))
    assert(e == Seq((9L, 0L, 2L, 32768L * 32768 + 32767L * 32767)))
  }

  /** Independent dHash replica straight from gradientPng's PIXEL FORMULA
    * (never touches ImageIO): v(x,y) = (7x+13y+salt+[x=px]·7) mod 241,
    * NN sample at (x·w div 9, y·h div 8), bit = right > left, MSB-first. */
  private def localDHash(w: Int, h: Int, salt: Int, px: Int): (Long, String) = {
    def v(x: Int, y: Int) =
      (x * 7 + y * 13 + salt + (if (x == px) 7 else 0)) % 241
    var hash = 0L
    val sb = new StringBuilder
    for (y <- 0 until 8; x <- 0 until 8) {
      val bit = v((x + 1) * w / 9, y * h / 8) > v(x * w / 9, y * h / 8)
      hash = (hash << 1) | (if (bit) 1L else 0L)
      sb.append(if (bit) '1' else '0')
    }
    (hash, sb.toString)
  }

  test("imageDHash: decode→9×8 NN→difference bits matches the pixel-" +
    "formula replica; solid image hashes to zero; junk is flagged") {
    for ((w, h, salt, px) <- Seq((40, 24, 0, 3), (43, 27, 55, 20),
      (9, 8, 11, 0), (100, 50, 187, 99))) {
      val got = Multimodal.imageDHash(Multimodal.gradientPng(w, h, salt, px))
      assert(got.contains(localDHash(w, h, salt, px)),
        s"($w,$h,$salt,$px): got $got")
    }
    // no gradient → no bit ever set
    assert(Multimodal.imageDHash(Multimodal.solidPng(32, 32, 0x123456))
      .exists(r => r._1 == 0L && r._2 == "0" * 64))
    assert(Multimodal.imageDHash("not a png".getBytes).isEmpty)
    val df = Seq((1L, Multimodal.gradientPng(40, 24, 0, 3)),
      (2L, "junk".getBytes)).toDF("id", "media")
    val seam = Multimodal.dhashImages(df, "id", "media")
      .as[(Long, Option[Long], Option[String], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val (eh, eb) = localDHash(40, 24, 0, 3)
    assert(seam(1L) == ((Some(eh), Some(eb), true)))
    assert(seam(2L) == ((None, None, false)))
  }

  test("dhash near-dup mine: same-template perturbed images sit within a " +
    "small Hamming radius, different templates do not") {
    // one template, three perturbation columns + one alien template
    val imgs = Seq(
      (1L, Multimodal.gradientPng(40, 24, 0, 3)),
      (2L, Multimodal.gradientPng(40, 24, 0, 9)),
      (3L, Multimodal.gradientPng(40, 24, 0, 3)), // exact clone of 1
      (4L, Multimodal.gradientPng(43, 27, 155, 5))).toDF("id", "media")
    val dh = Multimodal.dhashImages(imgs, "id", "media")
    val pairs = RecordLinkage.hammingKeyJoin(
        dh.select($"id", $"dbits".as("key")), "id", "key", 64, 16)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 3L)) == 0, "identical payloads: distance 0")
    assert(pairs.contains((1L, 2L)), "same template within radius")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "alien template outside radius")
  }
}
