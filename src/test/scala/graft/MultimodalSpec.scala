package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.WavCodec

/** The de-stubbed audio path: WAV PCM16 must round-trip exactly, and the
  * extracted features must reflect the actual decoded signal (not byte
  * soup) — a pure tone's RMS and zero-crossing rate are predictable.
  */
class MultimodalSpec extends SparkTestBase {

  test("WAV PCM16 encode/decode round-trips samples and sample rate") {
    val samples = Array.tabulate(1000)(i =>
      (math.sin(2 * math.Pi * 440 * i / 16000) * 12000).toShort)
    val bytes = WavCodec.encodePcm16(samples, 16000)
    assert(bytes.length == 44 + samples.length * 2)
    assert(new String(bytes.take(4), "US-ASCII") == "RIFF")
    val (sr, back) = WavCodec.decodePcm16(bytes)
    assert(sr == 16000)
    assert(back.sameElements(samples))
  }

  test("decoder walks unknown chunks (LIST before data)") {
    val samples = Array[Short](1, -1, 2, -2)
    val plain = WavCodec.encodePcm16(samples, 8000)
    // splice a LIST chunk between fmt and data
    val bb = java.nio.ByteBuffer.allocate(plain.length + 12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(plain, 0, 36) // through end of fmt chunk
    bb.put("LIST".getBytes("US-ASCII")); bb.putInt(4); bb.put("INFO".getBytes("US-ASCII"))
    bb.put(plain, 36, plain.length - 36)
    val spliced = bb.array()
    // fix the RIFF size field
    val fix = java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    fix.putInt(4, spliced.length - 8)
    val (sr, back) = WavCodec.decodePcm16(spliced)
    assert(sr == 8000 && back.sameElements(samples))
  }

  test("audio features come from the decoded signal: pure tone RMS and ZCR") {
    import spark.implicits._
    val sr = 16000
    val freq = 400.0
    val amp = 8000.0
    val samples = Array.tabulate(4000)(i =>
      (math.sin(2 * math.Pi * freq * i / sr) * amp).toShort)
    val media = Seq(Multimodal.MediaRow(1L, "audio",
      WavCodec.encodePcm16(samples, sr), 0, 0, sr)).toDS()
    val f = Multimodal.extractFeatures(media).collect().head.feature
    // RMS of a sine = amp / sqrt(2); ZCR = 2 crossings per cycle
    assert(math.abs(f(0) - amp / math.sqrt(2)) < amp * 0.01, s"rms=${f(0)}")
    assert(math.abs(f(1) - 2 * freq / sr) < 0.005, s"zcr=${f(1)}")
    assert(math.abs(f(2) - amp) < amp * 0.01, s"peak=${f(2)}")
    assert(math.abs(f(7) - 0.25f) < 0.001, "duration = 4000 samples / 16 kHz")
  }

  test("PPM P6 encode/decode round-trips pixels, tolerates comments") {
    import graft.ops.Multimodal.PpmCodec
    val rgb = Array.tabulate(2 * 3 * 3)(i => (i * 17).toByte)
    val bytes = PpmCodec.encode(2, 3, rgb)
    assert(new String(bytes.take(2), "US-ASCII") == "P6")
    val (w, h, back) = PpmCodec.decode(bytes)
    assert(w == 2 && h == 3 && back.sameElements(rgb))
    // splice a comment line into the header
    val commented = ("P6\n# a comment\n2 3\n255\n".getBytes("US-ASCII") ++ rgb)
    val (w2, h2, back2) = PpmCodec.decode(commented)
    assert(w2 == 2 && h2 == 3 && back2.sameElements(rgb))
  }

  test("image features come from decoded pixels: solid color means are exact") {
    import spark.implicits._
    import graft.ops.Multimodal.PpmCodec
    // solid (200, 100, 50) image: channel means must equal the constants
    val rgb = Array.fill(8 * 4)(Array(200.toByte, 100.toByte, 50.toByte)).flatten
    val media = Seq(Multimodal.MediaRow(1L, "image",
      PpmCodec.encode(8, 4, rgb), 8, 4, 0)).toDS()
    val f = Multimodal.extractFeatures(media).collect().head.feature
    assert(f(0) == 8f && f(1) == 4f)
    assert(f(2) == 200f && f(3) == 100f && f(4) == 50f)
    assert(math.abs(f(6)) < 1e-3, "solid color => zero luma variance")
  }

  test("nearest-neighbor resize produces valid PPMs at the target size") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val resized = Multimodal.resizeImages(media, 8, 8)
    val images = resized.filter(_.kind == "image").collect()
    assert(images.nonEmpty)
    images.foreach { r =>
      val (w, h, rgb) = Multimodal.PpmCodec.decode(r.payload)
      assert(w == 8 && h == 8 && rgb.length == 8 * 8 * 3)
      assert(r.width == 8 && r.height == 8)
    }
    // non-image rows pass through byte-identical
    val audioBefore = media.filter(_.kind == "audio").collect().map(_.payload.toSeq).toSet
    val audioAfter = resized.filter(_.kind == "audio").collect().map(_.payload.toSeq).toSet
    assert(audioBefore == audioAfter)
    // resizing a solid color keeps every pixel
    import spark.implicits._
    val solid = Array.fill(6 * 5)(Array(9.toByte, 8.toByte, 7.toByte)).flatten
    val one = Seq(Multimodal.MediaRow(9L, "image",
      Multimodal.PpmCodec.encode(6, 5, solid), 6, 5, 0)).toDS()
    val (_, _, outRgb) = Multimodal.PpmCodec.decode(
      Multimodal.resizeImages(one, 3, 2).collect().head.payload)
    assert(outRgb.grouped(3).forall(px => px(0) == 9 && px(1) == 8 && px(2) == 7))
  }

  test("zero-frame video containers feature-extract instead of crashing") {
    import spark.implicits._
    import graft.ops.Multimodal.VideoContainer
    val empty = VideoContainer.encode(Seq.empty)
    assert(VideoContainer.decode(empty).isEmpty)
    val media = Seq(Multimodal.MediaRow(7L, "video", empty, 0, 0, 0)).toDS()
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.feature.length == 8, "falls back to the byte-profile feature")
    assert(f.n_bytes == empty.length.toLong)
  }

  test("truncated PPM payloads are rejected, not zero-padded") {
    import graft.ops.Multimodal.PpmCodec
    val rgb = Array.tabulate(4 * 4 * 3)(i => (i * 7).toByte)
    val bytes = PpmCodec.encode(4, 4, rgb)
    val truncated = bytes.dropRight(5)
    val e = intercept[IllegalArgumentException](PpmCodec.decode(truncated))
    assert(e.getMessage.contains("truncated"))
  }

  test("synthetic audio payloads are valid WAV files; feature table keeps its shape") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val audio = media.filter(_.kind == "audio").collect()
    assert(audio.nonEmpty)
    audio.foreach { r =>
      val (sr, s) = WavCodec.decodePcm16(r.payload)
      assert(sr == r.sample_rate)
      assert(s.length >= 256)
    }
    val feats = Multimodal.extractFeatures(media).toDF()
    assert(feats.columns.sameElements(
      Array("media_id", "kind", "n_bytes", "checksum", "feature")))
    assert(feats.count() == 30)
  }

  test("decodeStats matches the generator's closed-form integer math") {
    val stats = Multimodal.decodeStats(Multimodal.syntheticMedia(spark, 9))
      .collect().map(s => s.media_id -> s).toMap
    // image id=0: w=16, h=16; R channel = x*255/16 repeated per row,
    // G = y*255/16 per column; header "P6\n16 16\n255\n" = 13 bytes
    val img = stats(0L)
    assert(img.img_w.contains(16L) && img.img_h.contains(16L))
    val gradSum16 = (0 until 16).map(x => x * 255 / 16).sum.toLong
    assert(img.px_r_sum.contains(16L * gradSum16), img.px_r_sum)
    assert(img.px_g_sum.contains(16L * gradSum16), img.px_g_sum)
    assert(img.n_bytes == 13L + 16 * 16 * 3)
    // audio id=1: 256 + 1%128 = 257 samples at 16 kHz, 44-byte header
    val aud = stats(1L)
    assert(aud.n_samples.contains(257L) && aud.sample_rate.contains(16000L))
    assert(aud.n_bytes == 44L + 2 * 257)
    // video id=2: nf=6 frames of 8x6; every channel closed-form:
    // R=((x+f)%8)*255/8, G=y*255/6, B=(f*40) byte-wrapped
    val vid = stats(2L)
    assert(vid.n_frames.contains(6L))
    assert(vid.frame_w.contains(8L) && vid.frame_h.contains(6L))
    val expected = (for {
      f <- 0 until 6; x <- 0 until 8; y <- 0 until 6
    } yield (((x + f) % 8) * 255 / 8 + y * 255 / 6 + (f * 40) % 256).toLong).sum
    assert(vid.vid_rgb_sum.contains(expected), vid.vid_rgb_sum)
    assert(vid.n_bytes == 8L + 6 * 159)
  }

  test("frameDecodeStats: channel sums match the generator per frame") {
    val media = Multimodal.syntheticMedia(spark, 12)
    val rows = Multimodal.frameDecodeStats(media, stride = 2).collect()
      .map(f => (f.media_id, f.frame_idx) -> f).toMap
    // id=2 is video: nf=6 frames of 8x6 -> sampled frames 0, 2, 4
    assert(rows.keySet.filter(_._1 == 2L) == Set((2L, 0L), (2L, 2L), (2L, 4L)))
    val f2 = rows((2L, 2L))
    // R row-sum is f-invariant (per-frame permutation of one column set)
    val sx = (0 until 8).map(k => k * 255 / 8).sum.toLong
    val sy = (0 until 6).map(y => y * 255 / 6).sum.toLong
    assert(f2.frame_w == 8L && f2.frame_h == 6L)
    assert(f2.px_r_sum == 6L * sx, f2)
    assert(f2.px_g_sum == 8L * sy, f2)
    assert(f2.px_b_sum == 48L * ((2 * 40) % 256), f2)
  }

  test("imageAHash matches a by-hand block-mean replay; dups collide") {
    import spark.implicits._
    val media = Multimodal.syntheticMedia(spark, 12)
    val hashes = Multimodal.imageAHash(media, channel = 0)
      .collect().map(h => h.media_id -> (h.hash_hi, h.hash_lo)).toMap
    // ids 0,3,6,9 are images; replay id=0 (w=16, h=16) by hand:
    // R = x*255/16 independent of y, pixel x lands in block x*8/16
    val w = 16
    val mx = (0 until 8).map { bx =>
      val xs = (0 until w).filter(x => x * 8 / w == bx)
      xs.map(x => (x * 255 / w).toLong).sum / xs.length
    }
    val thr = mx.sum * 8 / 64
    val pat = mx.zipWithIndex.map { case (m, bx) =>
      if (m > thr) 1L << (7 - bx) else 0L
    }.sum
    val expect = pat * 0x01010101L
    assert(hashes(0L) == (expect, expect), hashes(0L))
    // every image row hashes; halves stay in unsigned-32 range
    assert(hashes.keySet == Set(0L, 3L, 6L, 9L))
    hashes.values.foreach { case (hi, lo) =>
      assert(hi >= 0L && hi < (1L << 32) && lo >= 0L && lo < (1L << 32))
    }
  }
}
