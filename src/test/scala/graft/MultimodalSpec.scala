package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.WavCodec

/** The de-stubbed audio path: WAV PCM16 must round-trip exactly, and the
  * extracted features must reflect the actual decoded signal (not byte
  * soup) — a pure tone's duration and fmt fields are predictable.
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

  test("audio features come from the decoded signal: pure tone duration and fmt fields") {
    import spark.implicits._
    val sr = 16000
    val freq = 400.0
    val amp = 8000.0
    val samples = Array.tabulate(4000)(i =>
      (math.sin(2 * math.Pi * freq * i / sr) * amp).toShort)
    val media = Seq(Multimodal.MediaRow(1L, "audio",
      WavCodec.encodePcm16(samples, sr), 0, 0, sr)).toDS()
    val f = Multimodal.featureStats(media).collect().head
    assert(f.aud_duration_micros.contains(250000L), "duration = 4000 samples / 16 kHz")
    assert(f.aud_byte_rate.contains(2L * sr) && f.aud_block_align.contains(2L))
    assert(f.img_n_px.isEmpty && f.vid_n_frames.isEmpty, "other kinds' columns are NULL")
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
    val f = Multimodal.featureStats(media).collect().head
    assert(f.img_n_px.contains(32L) && f.img_aspect_micro.contains(2000000L))
    assert(f.img_r_micromean.contains(200000000L) && f.img_g_micromean.contains(100000000L))
  }

  test("zero-frame video containers feature-extract instead of crashing") {
    import spark.implicits._
    import graft.ops.Multimodal.VideoContainer
    val empty = VideoContainer.encode(Seq.empty)
    assert(VideoContainer.decode(empty).isEmpty)
    val media = Seq(Multimodal.MediaRow(7L, "video", empty, 0, 0, 0)).toDS()
    val f = Multimodal.featureStats(media).collect().head
    assert(f.n_bytes == empty.length.toLong)
    assert(f.vid_n_frames.isEmpty && f.vid_luma_milli_sum.isEmpty, "no frames, no frame stats")
    val d = Multimodal.decodeStats(media).collect().head
    assert(d.n_bytes == empty.length.toLong && d.n_frames.isEmpty && d.vid_rgb_sum.isEmpty)
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
    val feats = Multimodal.featureStats(media).toDF()
    assert(feats.columns.take(3).sameElements(Array("media_id", "kind", "n_bytes")))
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
