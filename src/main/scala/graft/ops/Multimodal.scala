package graft.ops

import org.apache.spark.sql.{Dataset, SparkSession}

/** Multimodal column plumbing: image/audio/video as `binary` columns
  * with typed metadata. Every kind is a REAL zero-dependency codec:
  * audio = RIFF/WAVE PCM16 ([[WavCodec]]), image = PPM P6
  * ([[PpmCodec]]), video = a length-prefixed container of PPM frames
  * ([[VideoContainer]]); every feature operates on decoded
  * samples/pixels. Compressed interchange
  * formats (JPEG/H.264/MP3) would need external codec libraries this
  * container deliberately avoids — swapping a codec changes only the
  * decode call, never the Spark plumbing.
  *
  * At scale: media rows are large, so the decode map runs after a
  * `repartition` sized by bytes (maxRecordsPerBatch-style), and features
  * detach from payloads immediately so downstream joins shuffle only
  * metadata, never media bytes.
  */
object Multimodal {

  /** Minimal RIFF/WAVE PCM16 mono codec — a real, spec-conformant decoder
    * (chunk-walking, not offset-assuming) small enough to need no
    * library. Files produced here open in any audio tool.
    */
  object WavCodec {
    import java.nio.{ByteBuffer, ByteOrder}

    /** Encode 16-bit PCM mono samples as a WAV file. */
    def encodePcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
      val dataLen = samples.length * 2
      val bb = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
      bb.putShort(1) /* PCM */; bb.putShort(1) /* mono */
      bb.putInt(sampleRate); bb.putInt(sampleRate * 2) /* byte rate */
      bb.putShort(2) /* block align */; bb.putShort(16) /* bits */
      bb.put("data".getBytes("US-ASCII")); bb.putInt(dataLen)
      var i = 0
      while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
      bb.array()
    }

    /** Decode a PCM16 mono WAV: (sampleRate, samples). Walks chunks, so
      * extra chunks (LIST/INFO) are tolerated; throws on non-PCM16-mono.
      */
    def decodePcm16(bytes: Array[Byte]): (Int, Array[Short]) = {
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      def fourCC(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      require(fourCC() == "RIFF", "not a RIFF file")
      bb.getInt // riff size
      require(fourCC() == "WAVE", "not a WAVE file")
      var sampleRate = -1
      var samples: Array[Short] = null
      while (bb.remaining() >= 8 && (sampleRate < 0 || samples == null)) {
        val id = fourCC()
        val size = bb.getInt
        id match {
          case "fmt " =>
            val fmt = bb.getShort; val channels = bb.getShort
            sampleRate = bb.getInt
            bb.getInt; bb.getShort // byte rate, block align
            val bits = bb.getShort
            require(fmt == 1 && channels == 1 && bits == 16,
              s"unsupported WAV: fmt=$fmt channels=$channels bits=$bits")
            bb.position(bb.position() + (size - 16))
          case "data" =>
            samples = new Array[Short](size / 2)
            var i = 0
            while (i < samples.length) { samples(i) = bb.getShort; i += 1 }
          case _ =>
            bb.position(bb.position() + size + (size & 1)) // chunks pad to even
        }
      }
      require(sampleRate > 0 && samples != null, "missing fmt/data chunk")
      (sampleRate, samples)
    }

    /** Read the fmt-chunk transport fields — (byteRate, blockAlign,
      * bitsPerSample) — by the same chunk walk as [[decodePcm16]]. These
      * are real decoded header values (not recomputed from metadata), so
      * emitting them exercises the full fmt parse.
      */
    def decodeFmtInfo(bytes: Array[Byte]): (Int, Int, Int) = {
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      def fourCC(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      require(fourCC() == "RIFF", "not a RIFF file")
      bb.getInt
      require(fourCC() == "WAVE", "not a WAVE file")
      while (bb.remaining() >= 8) {
        val id = fourCC()
        val size = bb.getInt
        if (id == "fmt ") {
          bb.getShort; bb.getShort; bb.getInt // fmt, channels, sample rate
          val byteRate = bb.getInt
          val blockAlign = bb.getShort
          val bits = bb.getShort
          return (byteRate, blockAlign.toInt, bits.toInt)
        } else bb.position(bb.position() + size + (size & 1))
      }
      throw new IllegalArgumentException("missing fmt chunk")
    }
  }

  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                      width: Int, height: Int, sample_rate: Int)

  /** Minimal binary PPM (P6, maxval 255) codec — the simplest real image
    * container; zero dependencies, readable by any image tool.
    */
  object PpmCodec {
    def encode(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
      require(rgb.length == width * height * 3, "rgb must be w*h*3 bytes")
      val header = s"P6\n$width $height\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + rgb.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(rgb, 0, out, header.length, rgb.length)
      out
    }

    /** Decode P6 -> (width, height, rgb bytes). Tolerates comment lines
      * and arbitrary whitespace, per the netpbm spec.
      */
    def decode(bytes: Array[Byte]): (Int, Int, Array[Byte]) = {
      var pos = 0
      def token(): String = {
        // skip whitespace and #-comments
        while (pos < bytes.length &&
               (bytes(pos).toChar.isWhitespace || bytes(pos) == '#')) {
          if (bytes(pos) == '#') while (pos < bytes.length && bytes(pos) != '\n') pos += 1
          else pos += 1
        }
        val start = pos
        while (pos < bytes.length && !bytes(pos).toChar.isWhitespace) pos += 1
        new String(bytes, start, pos - start, "US-ASCII")
      }
      require(token() == "P6", "not a P6 PPM")
      val w = token().toInt
      val h = token().toInt
      require(token() == "255", "only maxval 255 supported")
      pos += 1 // exactly one whitespace byte after maxval
      // reject truncated payloads — copyOfRange would silently zero-pad
      require(bytes.length >= pos + w * h * 3,
        s"truncated PPM: need ${w * h * 3} pixel bytes, have ${bytes.length - pos}")
      val rgb = java.util.Arrays.copyOfRange(bytes, pos, pos + w * h * 3)
      (w, h, rgb)
    }
  }

  /** Minimal video container: "GVID" magic + frame count, then
    * length-prefixed PPM frames. Not a compressed interchange format
    * (H.264 etc. need external codecs this container lacks), but a real,
    * parseable frame container — so the 1->N frame-sampling operator
    * decodes actual pixels rather than slicing opaque bytes.
    */
  object VideoContainer {
    def encode(frames: Seq[Array[Byte]]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + frames.map(_.length + 4).sum)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("GVID".getBytes("US-ASCII")); bb.putInt(frames.length)
      frames.foreach { f => bb.putInt(f.length); bb.put(f) }
      bb.array()
    }

    def decode(bytes: Array[Byte]): Seq[Array[Byte]] = {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val magic = new Array[Byte](4); bb.get(magic)
      require(new String(magic, "US-ASCII") == "GVID", "not a GVID container")
      val n = bb.getInt
      (0 until n).map { _ =>
        val len = bb.getInt
        val f = new Array[Byte](len); bb.get(f); f
      }
    }
  }

  /** Synthesize a small deterministic media table keyed by media_id.
    * Audio rows are REAL WAV files (PCM16 mono tone + seeded noise via
    * [[WavCodec.encodePcm16]]); image rows are REAL PPM (P6) gradients
    * via [[PpmCodec.encode]]; video rows are REAL GVID containers of
    * per-frame PPMs with a moving gradient.
    */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].map { id =>
      val rnd = new scala.util.Random(id)
      val kind = Seq("image", "audio", "video")((id % 3).toInt)
      val sampleRate = 16000
      val w = 16 + (id % 32).toInt
      val h = 16 + (id % 24).toInt
      val payload = kind match {
        case "audio" =>
          val freq = 200.0 + (id % 20) * 50.0
          val samples = Array.tabulate(256 + (id % 128).toInt) { i =>
            val tone = math.sin(2 * math.Pi * freq * i / sampleRate) * 8000
            (tone + rnd.nextInt(501) - 250).toShort
          }
          WavCodec.encodePcm16(samples, sampleRate)
        case "image" =>
          // deterministic gradient + seeded noise per channel
          val rgb = new Array[Byte](w * h * 3)
          var p = 0
          for (y <- 0 until h; x <- 0 until w) {
            rgb(p) = (x * 255 / w).toByte
            rgb(p + 1) = (y * 255 / h).toByte
            rgb(p + 2) = rnd.nextInt(256).toByte
            p += 3
          }
          PpmCodec.encode(w, h, rgb)
        case _ =>
          // short clip: 4-9 frames of a small moving gradient
          val fw = 8; val fh = 6
          val frames = (0 until (4 + (id % 6)).toInt).map { f =>
            val rgb = new Array[Byte](fw * fh * 3)
            var p = 0
            for (y <- 0 until fh; x <- 0 until fw) {
              rgb(p) = (((x + f) % fw) * 255 / fw).toByte
              rgb(p + 1) = (y * 255 / fh).toByte
              rgb(p + 2) = (f * 40).toByte
              p += 3
            }
            PpmCodec.encode(fw, fh, rgb)
          }
          VideoContainer.encode(frames)
      }
      MediaRow(id, kind, payload, w, h, sampleRate)
    }
  }

  /** Integer decode profile per media row — every value read out of the
    * DECODED payload (PPM header + pixels, WAV fmt/data chunks, GVID
    * frames), never from row metadata. All-integer so the numbers are
    * engine-exact: an oracle that knows the generator's closed-form
    * integer math (gradient channel values, header lengths, sample
    * counts) can rebuild each one independently, which makes this the
    * end-to-end encode→decode correctness gate. Kind-inapplicable
    * columns are NULL.
    */
  case class MediaDecodeStats(media_id: Long, kind: String, n_bytes: Long,
                              img_w: Option[Long], img_h: Option[Long],
                              px_r_sum: Option[Long], px_g_sum: Option[Long],
                              n_samples: Option[Long], sample_rate: Option[Long],
                              n_frames: Option[Long], frame_w: Option[Long],
                              frame_h: Option[Long], vid_rgb_sum: Option[Long])

  def decodeStats(media: Dataset[MediaRow]): Dataset[MediaDecodeStats] = {
    import media.sparkSession.implicits._
    val none = Option.empty[Long]
    media.mapPartitions { rows =>
      rows.map { r =>
        val base = MediaDecodeStats(r.media_id, r.kind, r.payload.length.toLong,
          none, none, none, none, none, none, none, none, none, none)
        r.kind match {
          case "image" =>
            val (w, h, rgb) = PpmCodec.decode(r.payload)
            var rSum = 0L; var gSum = 0L
            var p = 0
            while (p < rgb.length) {
              rSum += rgb(p) & 0xff; gSum += rgb(p + 1) & 0xff; p += 3
            }
            base.copy(img_w = Some(w.toLong), img_h = Some(h.toLong),
              px_r_sum = Some(rSum), px_g_sum = Some(gSum))
          case "audio" =>
            val (sr, s) = WavCodec.decodePcm16(r.payload)
            base.copy(n_samples = Some(s.length.toLong),
              sample_rate = Some(sr.toLong))
          case "video" =>
            val frames = VideoContainer.decode(r.payload).map(PpmCodec.decode)
            if (frames.isEmpty) base
            else {
              var sum = 0L
              frames.foreach { case (_, _, rgb) =>
                var p = 0
                while (p < rgb.length) { sum += rgb(p) & 0xff; p += 1 }
              }
              val (w0, h0, _) = frames.head
              base.copy(n_frames = Some(frames.length.toLong),
                frame_w = Some(w0.toLong), frame_h = Some(h0.toLong),
                vid_rgb_sum = Some(sum))
            }
          case _ => base
        }
      }
    }
  }

  /** Scaled-integer feature profile. Every value is computed FROM THE DECODED
    * payload in 64-bit integer space (micro-units via truncating
    * division, milli-weight luma 299r+587g+114b, exact integer variance
    * numerator n·Σl² − (Σl)²), so an oracle that knows the generator's
    * closed form rebuilds each number independently and the row
    * hash-matches. Columns stay clear of the seeded-random payload
    * components (image B channel, audio noise samples) — those remain
    * covered by the codec round-trip specs.
    * Kind-inapplicable columns are NULL.
    */
  case class MediaFeatureStats(media_id: Long, kind: String, n_bytes: Long,
                               img_r_micromean: Option[Long], img_g_micromean: Option[Long],
                               img_aspect_micro: Option[Long], img_n_px: Option[Long],
                               aud_duration_micros: Option[Long], aud_byte_rate: Option[Long],
                               aud_block_align: Option[Long],
                               vid_n_frames: Option[Long], vid_luma_milli_sum: Option[Long],
                               vid_luma_milli_first: Option[Long], vid_luma_milli_last: Option[Long],
                               vid_luma_var_num: Option[Long])

  def featureStats(media: Dataset[MediaRow]): Dataset[MediaFeatureStats] = {
    import media.sparkSession.implicits._
    val none = Option.empty[Long]
    media.mapPartitions { rows =>
      rows.map { r =>
        val base = MediaFeatureStats(r.media_id, r.kind, r.payload.length.toLong,
          none, none, none, none, none, none, none, none, none, none, none, none)
        r.kind match {
          case "image" =>
            val (w, h, rgb) = PpmCodec.decode(r.payload)
            val n = (w.toLong * h).max(1L)
            var rSum = 0L; var gSum = 0L
            var p = 0
            while (p < rgb.length) {
              rSum += rgb(p) & 0xff; gSum += rgb(p + 1) & 0xff; p += 3
            }
            base.copy(
              img_r_micromean = Some(1000000L * rSum / n),
              img_g_micromean = Some(1000000L * gSum / n),
              img_aspect_micro = Some(1000000L * w / h),
              img_n_px = Some(n))
          case "audio" =>
            val (sr, s) = WavCodec.decodePcm16(r.payload)
            val (byteRate, blockAlign, _) = WavCodec.decodeFmtInfo(r.payload)
            base.copy(
              aud_duration_micros = Some(1000000L * s.length / sr.toLong.max(1L)),
              aud_byte_rate = Some(byteRate.toLong),
              aud_block_align = Some(blockAlign.toLong))
          case "video" =>
            val frames = VideoContainer.decode(r.payload).map(PpmCodec.decode)
            if (frames.isEmpty) base
            else {
              // per-frame luma sums in exact milli-weights (299/587/114
              // sum to 1000): integers end to end, so Σl, first/last and
              // the variance numerator nf·Σl² − (Σl)² are engine-exact
              val lumaSums = frames.map { case (_, _, rgb) =>
                var l = 0L
                var p = 0
                while (p < rgb.length) {
                  l += 299L * (rgb(p) & 0xff) + 587L * (rgb(p + 1) & 0xff) +
                    114L * (rgb(p + 2) & 0xff)
                  p += 3
                }
                l
              }
              val nf = frames.length.toLong
              val s1 = lumaSums.sum
              val s2 = lumaSums.map(l => l * l).sum
              base.copy(
                vid_n_frames = Some(nf),
                vid_luma_milli_sum = Some(s1),
                vid_luma_milli_first = Some(lumaSums.head),
                vid_luma_milli_last = Some(lumaSums.last),
                vid_luma_var_num = Some(nf * s2 - s1 * s1))
            }
          case _ => base
        }
      }
    }
  }

  case class FrameDecodeStats(media_id: Long, frame_idx: Long,
                              frame_w: Long, frame_h: Long,
                              px_r_sum: Long, px_g_sum: Long, px_b_sum: Long)

  /** Per-frame decode statistics — the 1→N keyframe-sampling expansion
    * driven all the way to pixels: every `stride`-th frame decodes to
    * REAL RGB and emits exact integer channel sums, the per-keyframe
    * signal a video pipeline keys shot detection and frame-level dedup
    * on. All-integer so a closed-form oracle rebuilds every row.
    *
    * Scale shape: the flatMap multiplies rows 1→frames/stride inside
    * one narrow pass (the codec boundary); downstream grouping
    * exchanges ~56-byte stat rows, never frames.
    */
  def frameDecodeStats(media: Dataset[MediaRow],
                       stride: Int = 2): Dataset[FrameDecodeStats] = {
    import media.sparkSession.implicits._
    require(stride >= 1, "stride must be positive")
    media.filter(_.kind == "video").flatMap { r =>
      VideoContainer.decode(r.payload).zipWithIndex.collect {
        case (f, i) if i % stride == 0 =>
          val (w, h, rgb) = PpmCodec.decode(f)
          var rs = 0L; var gs = 0L; var bs = 0L
          var p = 0
          while (p < rgb.length) {
            rs += rgb(p) & 0xff; gs += rgb(p + 1) & 0xff
            bs += rgb(p + 2) & 0xff; p += 3
          }
          FrameDecodeStats(r.media_id, i.toLong, w.toLong, h.toLong,
            rs, gs, bs)
      }
    }
  }

  case class ImageAHash(media_id: Long, hash_hi: Long, hash_lo: Long)

  /** Perceptual average-hash (aHash) over one channel of the REAL
    * decoded PPM pixels — the classic near-duplicate image fingerprint:
    * 8×8 block integer means (pixel x maps to block `x·8 div w`, all
    * arithmetic truncating 64-bit), thresholded at the integer mean of
    * the 64 block means, packed row-major into two unsigned 32-bit
    * halves (so neither engine touches the sign bit). Identical-content
    * images collapse to one hash; visually-near images differ in few
    * bits, so Hamming-radius grouping is a bucket join on the halves.
    * The channel is selectable; hashing a deterministic channel keeps
    * the fingerprint — like [[featureStats]]'s columns — clear of the
    * generator's seeded-noise channel, which is what makes the oracle
    * replay exact.
    *
    * Scale shape: one narrow decode pass (`mapPartitions`, the codec
    * boundary Catalyst can't cross), 16 longs of state per image, then
    * whatever bounded aggregation the caller groups the fingerprints
    * with — dedup over 100 TB of images is a hash-keyed exchange of
    * 24-byte rows, not pixels.
    */
  def imageAHash(media: Dataset[MediaRow], channel: Int = 0): Dataset[ImageAHash] = {
    import media.sparkSession.implicits._
    require(channel >= 0 && channel < 3, "channel must be 0, 1, or 2")
    media.filter(_.kind == "image").mapPartitions { rows =>
      rows.map { r =>
        val (w, h, rgb) = PpmCodec.decode(r.payload)
        val sums = new Array[Long](64)
        val counts = new Array[Long](64)
        var y = 0
        while (y < h) {
          val by = y * 8 / h
          var x = 0
          while (x < w) {
            val b = by * 8 + x * 8 / w
            sums(b) += rgb((y * w + x) * 3 + channel) & 0xff
            counts(b) += 1
            x += 1
          }
          y += 1
        }
        val means = Array.tabulate(64)(b =>
          if (counts(b) == 0) 0L else sums(b) / counts(b))
        val thr = means.sum / 64
        var hi = 0L; var lo = 0L
        var i = 0
        while (i < 64) {
          val bit = if (means(i) > thr) 1L else 0L
          if (i < 32) hi = (hi << 1) | bit else lo = (lo << 1) | bit
          i += 1
        }
        ImageAHash(r.media_id, hi, lo)
      }
    }
  }
}
