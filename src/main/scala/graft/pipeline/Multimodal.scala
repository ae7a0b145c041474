package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, plus decode/feature plumbing.
  *
  * Evidence level, per format: PNG/JPEG decode, resize and re-encode
  * are REAL (`javax.imageio`, in the JDK — see [[decodeImages]] /
  * [[resizeImages]] and the mm05–mm10 gates over genuine pixel
  * content), as are RIFF/WAV PCM parsing (mm11–mm12) and the frame
  * container walk (mm14). Only codecs the JDK lacks (video decode
  * proper, compressed audio) go through [[StubDecoder]] — a
  * deterministic fake that a real implementation (JavaCPP/FFmpeg, or
  * `mapInPandas`+PIL on a PySpark edge) would replace 1:1. Either
  * way the `mapPartitions` batch shape is exactly what a vectorized
  * decoder wants, and binary payloads never shuffle: pixels reduce
  * to hashes/features inside the scan task.
  */
object Multimodal {

  /** Media row: payload + typed metadata, the storage schema for a
    * multimodal corpus (payloads inline for small media; at scale the
    * binary column holds a pointer + byte-range into object storage
    * and the same operators apply).
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("size_bytes", LongType),
      StructField("checksum", StringType),
      StructField("source", StringType))))))

  /** Attach typed metadata to a binary payload column — pure column
    * expressions, runs in the scan stage.
    */
  def withMetadata(df: DataFrame, payloadCol: String = "payload",
      sourceCol: String = "source"): DataFrame =
    df.withColumn("meta", struct(
      length(col(payloadCol)).cast("long").as("size_bytes"),
      md5(col(payloadCol)).as("checksum"),
      col(sourceCol).as("source")))

  /** Decoded-feature record produced by the (stubbed) decoder. */
  case class DecodedFeatures(
      media_id: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      feature: Array[Float])

  /** The decode seam. Real impl: JNI/FFI codec. The stub derives
    * deterministic fake dimensions/features from the payload bytes so
    * the distributed plumbing is testable end-to-end.
    */
  trait Decoder extends Serializable {
    def decode(mediaId: Long, payload: Array[Byte]): DecodedFeatures
  }

  /** The fake is derived from the md5 hex digest of the payload —
    * NOT a JVM hash — so a SQL oracle can mirror it exactly
    * (`md5()` + per-nibble `substr`/`ascii` arithmetic): nibble i is
    * hex digit i, width/height pack two nibbles each, n_frames is a
    * payload-length residue, features are nibbles scaled to [0,1].
    */
  object StubDecoder extends Decoder {
    override def decode(mediaId: Long, payload: Array[Byte]): DecodedFeatures = {
      // ??? <- real codec goes here; deterministic fake below.
      val bytes = if (payload == null) Array.emptyByteArray else payload
      val hex = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      def nib(i: Int): Int = Character.digit(hex.charAt(i), 16)
      DecodedFeatures(
        media_id = mediaId,
        width = 16 + nib(0) * 16 + nib(1),
        height = 16 + nib(2) * 16 + nib(3),
        n_frames = 1 + bytes.length % 16,
        feature = Array.tabulate(8)(i => nib(4 + i) / 15.0f))
    }
  }

  /** REAL image codec behind the same [[Decoder]] seam: PNG/JPEG via
    * `javax.imageio` (JDK-public API, no extra dependency). Emits the
    * decoded dimensions plus exact integer channel statistics —
    * feature = [sumR, sumG, sumB, nPixels] — so downstream filters
    * (mean brightness, aspect ratio, degenerate-image drop) run as
    * plain column arithmetic. The sums are exact in Float for images
    * up to 256x256 (255 * 65536 < 2^24); the mm05/mm06 gates stay
    * within that bound so a SQL oracle can hash-match them.
    *
    * Undecodable payloads (truncated files, non-image bytes, empty
    * arrays) QUARANTINE to a (0, 0, 0, empty) record instead of
    * throwing — at corpus scale some media is always corrupt, and one
    * bad file must not kill a 100 TB decode stage. Filter
    * `n_frames = 0` downstream for the quarantine set.
    */
  object ImageIoDecoder extends Decoder {
    // per-JVM init: no disk-backed ImageIO scratch files on executors
    @transient private lazy val inited: Boolean = {
      javax.imageio.ImageIO.setUseCache(false); true
    }
    override def decode(mediaId: Long, payload: Array[Byte]): DecodedFeatures = {
      val _ = inited
      val img =
        try {
          if (payload == null || payload.isEmpty) null
          else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        } catch { case _: java.io.IOException | _: RuntimeException => null }
      if (img == null) DecodedFeatures(mediaId, 0, 0, 0, Array.empty)
      else {
        val w = img.getWidth; val h = img.getHeight
        val rgb = img.getRGB(0, 0, w, h, null, 0, w)
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < rgb.length) {
          val p = rgb(i)
          sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
          i += 1
        }
        DecodedFeatures(mediaId, w, h, 1,
          Array(sr.toFloat, sg.toFloat, sb.toFloat, (w.toLong * h).toFloat))
      }
    }
  }

  /** Deterministic synthetic PNG: pixel (x, y) has channels
    * r = (seed*7 + x*3 + y*5) % 256, g = (seed*11 + x + y*2) % 256,
    * b = (seed*13 + x*2 + y) % 256 — REAL image bytes (encoded with
    * the JDK PNG writer, losslessly round-trippable) whose decoded
    * channel sums a SQL oracle recomputes from (seed, w, h) alone.
    * Test/gate fixture for [[ImageIoDecoder]] and [[resizeImage]].
    */
  def syntheticPng(seed: Long, w: Int, h: Int): Array[Byte] =
    encodeImage(syntheticImage(seed, w, h), "png")

  /** The same deterministic fixture through the LOSSY branch of the
    * `javax.imageio` seam: JPEG encode (JDK-bundled writer). Decoded
    * DIMENSIONS and frame count survive the codec exactly (the mm07
    * oracle hashes them); pixel values do not — channel sums are
    * spec-gated within a lossy tolerance instead
    * (MultimodalSpec), which is the honest contract for any lossy
    * codec in the corpus.
    */
  def syntheticJpeg(seed: Long, w: Int, h: Int): Array[Byte] =
    encodeImage(syntheticImage(seed, w, h), "jpg")

  private def syntheticImage(seed: Long, w: Int,
      h: Int): java.awt.image.BufferedImage = {
    require(w > 0 && h > 0, s"dims must be positive, got ${w}x$h")
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((seed * 7 + x * 3 + y * 5) % 256).toInt
        val g = ((seed * 11 + x + y * 2) % 256).toInt
        val b = ((seed * 13 + x * 2 + y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  private def encodeImage(img: java.awt.image.BufferedImage,
      format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** The cross-format fixture sibling of [[syntheticPng]]: the SAME
    * deterministic pixels through the JDK BMP writer (uncompressed
    * 24-bit — lossless like PNG, byte-incompatible with it). A
    * pattern encoded once as PNG and once as BMP has different
    * payload bytes but IDENTICAL decoded pixels — exactly the
    * situation content-level dedup must catch and byte-level dedup
    * cannot.
    */
  def syntheticBmp(seed: Long, w: Int, h: Int): Array[Byte] =
    encodeImage(syntheticImage(seed, w, h), "bmp")

  /** Structured fixture for the PERCEPTUAL family: a 36×32 grayscale
    * image of 4×4 blocks at 0/255, block (bx, by) set by an md5 bit
    * of (seed, bx, by). Unlike [[syntheticImage]]'s monotone
    * gradients (whose dHash degenerates to all-ones for EVERY seed —
    * adjacent luminances rise monotonically), block patterns give
    * each seed a distinctive sign structure: distinct seeds land
    * ~24/64 bits apart in expectation, so hamming-band candidate
    * generation has something real to separate. Dims align one block
    * per dHash sample cell (36/9 = 32/8 = 4).
    */
  def syntheticBlockImage(seed: Long): java.awt.image.BufferedImage = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val img = new java.awt.image.BufferedImage(36, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bits = Array.ofDim[Int](8, 9)
    for (by <- 0 until 8; bx <- 0 until 9) {
      md.reset()
      val d = md.digest(s"$seed/$bx/$by".getBytes("UTF-8"))
      bits(by)(bx) = d(0) & 1
    }
    for (y <- 0 until 32; x <- 0 until 36) {
      val v = 255 * bits(y / 4)(x / 4)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  def syntheticBlockPng(seed: Long): Array[Byte] =
    encodeImage(syntheticBlockImage(seed), "png")

  def syntheticBlockBmp(seed: Long): Array[Byte] =
    encodeImage(syntheticBlockImage(seed), "bmp")

  /** Deterministic synthetic WAV (RIFF / PCM 16-bit mono @ 8 kHz):
    * n = 400 + seed % 100 samples, sample i =
    * floorMod(seed*31 + i*17, 65536) − 32768 — REAL audio bytes
    * (canonical 44-byte header + little-endian PCM) whose decoded
    * sample statistics a SQL oracle recomputes from (seed) alone.
    * The audio sibling of [[syntheticPng]].
    */
  def syntheticWav(seed: Long): Array[Byte] = {
    val n = (400 + java.lang.Math.floorMod(seed, 100L)).toInt
    val sampleRate = 8000
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(1) // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2) // byte rate
      .putShort(2) // block align
      .putShort(16) // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      bb.putShort(
        (java.lang.Math.floorMod(seed * 31 + i.toLong * 17, 65536L) - 32768L).toShort)
      i += 1
    }
    bb.array()
  }

  /** Decoded audio features — the second modality through the same
    * opaque-binary contract as images: a minimal REAL RIFF/PCM
    * parser (chunk walk, not fixed offsets: a WAV with an extra
    * chunk between `fmt ` and `data` still parses) runs
    * per-partition; each payload reduces to 5 integer statistics —
    * exact, engine-reproducible, and tiny on the wire (the audio
    * never shuffles). Malformed / non-PCM16-mono payloads quarantine
    * as (0, 0, 0, 0, 0) rows, the images' decoder policy.
    *
    *  - n_samples, sample_rate, duration_ms = n*1000/rate (int div)
    *  - peak_abs = max |sample| (32768 representable)
    *  - sum_squares = Σ s² — the exact-integer energy (RMS = sqrt of
    *    it over n, left to the consumer so the gate stays
    *    float-free)
    */
  case class AudioFeatures(media_id: Long, n_samples: Long,
      sample_rate: Int, duration_ms: Long, peak_abs: Long,
      sum_squares: Long)

  def decodeAudioFeatures(media: DataFrame,
      idCol: String = "media_id", payloadCol: String = "payload"): Dataset[AudioFeatures] = {
    val enc = Encoders.product[AudioFeatures]
    media.select(col(idCol).cast("long"), col(payloadCol))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          parseWav(id, r.getAs[Array[Byte]](1))
        }
      }(enc)
  }

  /** The chunk-walk parser itself: (sample_rate, PCM samples) for a
    * well-formed PCM-16 mono RIFF/WAVE payload, None otherwise.
    * Shared by [[decodeAudioFeatures]] and [[audioSegments]] so both
    * operators judge "decodable" identically.
    */
  private[pipeline] def parseWavPcm(b: Array[Byte]): Option[(Int, Array[Short])] = {
    if (b == null || b.length < 12 ||
      new String(b, 0, 4, "US-ASCII") != "RIFF" ||
      new String(b, 8, 4, "US-ASCII") != "WAVE") return None
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var sampleRate = 0; var channels = 0; var bits = 0
    var dataOff = -1; var dataLen = 0
    while (pos + 8 <= b.length) {
      val cid = new String(b, pos, 4, "US-ASCII")
      val clen = bb.getInt(pos + 4)
      if (clen < 0 || pos + 8 + clen > b.length) return None
      cid match {
        case "fmt " =>
          if (clen < 16) return None
          val fmt = bb.getShort(pos + 8).toInt
          channels = bb.getShort(pos + 10).toInt
          sampleRate = bb.getInt(pos + 12)
          bits = bb.getShort(pos + 22).toInt
          if (fmt != 1) return None // PCM only
        case "data" => dataOff = pos + 8; dataLen = clen
        case _ => () // skip unknown chunks (LIST, fact, ...)
      }
      pos += 8 + clen + (clen & 1) // chunks are word-aligned
    }
    if (sampleRate <= 0 || channels != 1 || bits != 16 || dataOff < 0)
      return None
    val n = dataLen / 2
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) { samples(i) = bb.getShort(dataOff + i * 2); i += 1 }
    Some((sampleRate, samples))
  }

  private[pipeline] def parseWav(id: Long, b: Array[Byte]): AudioFeatures =
    parseWavPcm(b) match {
      case None => AudioFeatures(id, 0L, 0, 0L, 0L, 0L)
      case Some((rate, samples)) =>
        var peak = 0L; var ssq = 0L
        var i = 0
        while (i < samples.length) {
          val s = samples(i).toLong
          val a = math.abs(s)
          if (a > peak) peak = a
          ssq += s * s
          i += 1
        }
        AudioFeatures(id, samples.length.toLong, rate,
          samples.length.toLong * 1000L / rate, peak, ssq)
    }

  /** Speech-shaped WAV fixture: [[syntheticWav]]'s header and sample
    * formula, but samples are ZERO inside "silence" regions — region
    * r (120 samples) is silent iff (seed + r) % 3 == 0, and
    * n = 960 + (seed % 7) * 120 (so n is NOT always a multiple of
    * the 80-sample analysis window — the partial-window path is
    * always exercised somewhere in the corpus).
    */
  def syntheticSpeechWav(seed: Long): Array[Byte] = {
    val n = (960 + java.lang.Math.floorMod(seed, 7L) * 120).toInt
    val sampleRate = 8000
    val dataLen = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < n) {
      val silent = java.lang.Math.floorMod(seed + i / 120, 3L) == 0
      bb.putShort(
        if (silent) 0.toShort
        else (java.lang.Math.floorMod(seed * 31 + i.toLong * 17, 65536L) - 32768L).toShort)
      i += 1
    }
    bb.array()
  }

  /** Silence/energy SEGMENTATION — the VAD-style preprocessing a
    * speech-data pipeline runs before transcription or filtering:
    * fixed windows of `windowSamples`, window energy = Σ s² (exact
    * BIGINT), silent iff energy < `silenceThreshold`, consecutive
    * same-class windows merged into segments. One row per segment:
    * (media_id, seg_idx, silent, start_ms, end_ms, n_windows,
    * energy). The final partial window keeps its true end time.
    *
    * Scale shape: per-payload, entirely inside the scan task (the
    * samples never leave it — segments are a handful of integer
    * rows per media); the merge is a linear walk, no window
    * functions, no shuffle. Undecodable payloads emit no segments
    * (the features operator is the quarantine reporter; a segmenter
    * emitting fake "silence" for broken payloads would feed a
    * cutter garbage).
    */
  case class AudioSegment(media_id: Long, seg_idx: Int, silent: Boolean,
      start_ms: Long, end_ms: Long, n_windows: Long, energy: Long)

  def audioSegments(media: DataFrame, windowSamples: Int = 80,
      silenceThreshold: Long = 1000L,
      idCol: String = "media_id", payloadCol: String = "payload"): Dataset[AudioSegment] = {
    require(windowSamples > 0, s"windowSamples=$windowSamples must be positive")
    val enc = Encoders.product[AudioSegment]
    media.select(col(idCol).cast("long"), col(payloadCol))
      .flatMap { r =>
        val id = r.getLong(0)
        parseWavPcm(r.getAs[Array[Byte]](1)) match {
          case None => Iterator.empty
          case Some((rate, samples)) =>
            val n = samples.length
            val nWin = (n + windowSamples - 1) / windowSamples
            val segs = scala.collection.mutable.ArrayBuffer.empty[AudioSegment]
            var w = 0
            var segStart = 0; var segEnergy = 0L; var segSilent = false
            var segWindows = 0L
            def flush(endW: Int): Unit = if (segWindows > 0) {
              val endSample = math.min(endW * windowSamples, n)
              segs += AudioSegment(id, segs.length + 1, segSilent,
                segStart.toLong * windowSamples * 1000L / rate,
                endSample.toLong * 1000L / rate, segWindows, segEnergy)
            }
            while (w < nWin) {
              var e = 0L
              var i = w * windowSamples
              val end = math.min(i + windowSamples, n)
              while (i < end) { val s = samples(i).toLong; e += s * s; i += 1 }
              val silent = e < silenceThreshold
              if (segWindows == 0 || silent != segSilent) {
                flush(w)
                segStart = w; segSilent = silent; segEnergy = 0L; segWindows = 0L
              }
              segEnergy += e; segWindows += 1
              w += 1
            }
            flush(nWin)
            segs.iterator
        }
      }(enc)
  }

  /** Content-level signatures of decoded IMAGES:
    *  - `pixel_md5` — md5 of the row-major RGB triples: equal iff the
    *    decoded pixels are equal, regardless of container format or
    *    encoder byte stream (the dedup key for lossless re-encodes,
    *    PNG↔BMP transcodes, metadata-stripped copies).
    *  - `dhash` — 64-bit difference hash (the standard perceptual
    *    fingerprint): nearest-neighbor resample to a 9×8 luminance
    *    grid (same resampler as [[resizeImage]]), one bit per
    *    horizontally adjacent pair (left < right). Robust to mild
    *    lossy re-encodes — near-dup candidates come from hash
    *    equality or small Hamming distance, spec-pinned
    *    (MultimodalSpec) rather than hash-gated (JPEG noise is
    *    codec-version territory, not an engine contract).
    *
    * Undecodable payloads quarantine as (0, 0, "", 0) — same policy
    * as [[decodeFeatures]]; consumers filter on `width > 0`.
    * Same per-partition codec seam as the decoder; output is 4
    * narrow columns per image — the shuffle-safe grain every
    * downstream group-by uses (pixels never leave the scan task).
    */
  case class PixelSignature(media_id: Long, width: Int, height: Int,
      pixel_md5: String, dhash: Long)

  def pixelSignatures(media: DataFrame,
      idCol: String = "media_id", payloadCol: String = "payload"): Dataset[PixelSignature] = {
    val enc = Encoders.product[PixelSignature]
    media.select(col(idCol).cast("long"), col(payloadCol))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          val img =
            try {
              if (payload == null || payload.isEmpty) null
              else javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(payload))
            } catch { case _: java.io.IOException | _: RuntimeException => null }
          if (img == null) PixelSignature(id, 0, 0, "", 0L)
          else {
            val w = img.getWidth; val h = img.getHeight
            val rgb = img.getRGB(0, 0, w, h, null, 0, w)
            // pixel_md5 over row-major RGB triples
            md.reset()
            val buf = new Array[Byte](rgb.length * 3)
            var i = 0
            while (i < rgb.length) {
              val p = rgb(i)
              buf(i * 3) = ((p >> 16) & 0xFF).toByte
              buf(i * 3 + 1) = ((p >> 8) & 0xFF).toByte
              buf(i * 3 + 2) = (p & 0xFF).toByte
              i += 1
            }
            val hex = md.digest(buf).map("%02x".format(_)).mkString
            // dHash: 9x8 nearest-neighbor luminance grid, 8 bits/row
            val lum = Array.ofDim[Int](8, 9)
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 9) {
                val sx = x * w / 9; val sy = y * h / 8
                val p = rgb(sy * w + sx)
                lum(y)(x) = (((p >> 16) & 0xFF) * 299 +
                  ((p >> 8) & 0xFF) * 587 + (p & 0xFF) * 114) / 1000
                x += 1
              }
              y += 1
            }
            var dh = 0L
            y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) {
                dh = (dh << 1) | (if (lum(y)(x) < lum(y)(x + 1)) 1L else 0L)
                x += 1
              }
              y += 1
            }
            PixelSignature(id, w, h, hex, dh)
          }
        }
      }(enc)
  }

  /** Content-level exact dedup THROUGH the codec seam: groups =
    * images with identical decoded pixels (pixel_md5), representative
    * = the group's minimal media_id. Byte-level dedup misses every
    * lossless transcode / re-encode; this catches them all at one
    * narrow (md5, id) aggregation — pixels decode in the scan task
    * and never shuffle. Undecodable payloads are excluded (no group).
    */
  def dedupByPixelHash(media: DataFrame,
      idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    val sigs = pixelSignatures(media, idCol, payloadCol).toDF()
      .where(col("width") > 0)
      .select(col("media_id"), col("pixel_md5"))
    val reps = sigs.groupBy(col("pixel_md5"))
      .agg(min(col("media_id")).as("group_rep"))
    sigs.join(reps, Seq("pixel_md5"))
      .select(col("media_id"), col("group_rep"))
  }

  /** Composed media curation — the multimodal face of the p93/p109
    * composed pipelines: decode → content-level dedup → resize, with
    * a per-stage yield report (the artifact a data owner reads):
    * (stage_order, stage, n_media, n_pixels).
    *
    *  - raw: input count (n_pixels NULL — nothing decoded yet)
    *  - decoded: payloads the codec accepts, with their true pixel
    *    volume
    *  - content_deduped: one representative per decoded CONTENT
    *    (pixel_md5 group minimum — transcodes collapse)
    *  - resized: the curated set through the real resampler at
    *    (targetW, targetH); pixel volume is exact by construction
    *
    * Scale shape: ONE decode pass serves stages 2-3 (the narrow
    * signature frame — 4 columns, no payloads — is persisted for its
    * two consumers); the resize pass decodes only the SURVIVORS
    * (dedup before expensive work — the whole point of the
    * composition order). Payload bytes cross an exchange exactly
    * once: the semi-join that selects surviving payloads for resize.
    */
  def mediaCurationReport(media: DataFrame, targetW: Int, targetH: Int,
      idCol: String = "media_id", payloadCol: String = "payload"): DataFrame = {
    val spark = media.sparkSession
    graft.operators.SessionCache.scoped(
        pixelSignatures(media, idCol, payloadCol).toDF()) { sigs =>
      val decoded = sigs.where(col("width") > 0)
      val reps = decoded.groupBy(col("pixel_md5"))
        .agg(min(col("media_id")).as("media_id"),
          max(col("width") * col("height")).as("__px"))
      val kept = media.select(col(idCol).cast("long").as("media_id"),
          col(payloadCol).as("payload"))
        .join(broadcast(reps.select(col("media_id"))), Seq("media_id"),
          "left_semi")
      val resized = resizeImage(kept, targetW, targetH).toDF()
      def stage(order: Int, name: String, d: DataFrame,
          px: org.apache.spark.sql.Column): DataFrame =
        d.agg(count(lit(1)).as("n_media"), px.as("n_pixels"))
          .select(lit(order).as("stage_order"), lit(name).as("stage"),
            col("n_media"), col("n_pixels"))
      val report = stage(1, "raw",
          media.select(col(idCol)), lit(null).cast("long"))
        .unionAll(stage(2, "decoded", decoded,
          sum(col("width").cast("long") * col("height")).cast("long")))
        .unionAll(stage(3, "content_deduped", reps,
          sum(col("__px").cast("long")).cast("long")))
        .unionAll(stage(4, "resized", resized,
          (count(lit(1)) * targetW * targetH).cast("long")))
      // materialize before unpersisting the shared signature frame
      val rows = report.collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, 1), report.schema)
    }
  }

  /** Image–text PAIR curation — the LAION/CLIP-filter pipeline shape
    * over (image payload, caption) pairs, the unit a multimodal
    * training set is actually built from:
    *
    *  1. decode the image through the real codec (one
    *     [[pixelSignatures]] pass; undecodable payloads fail
    *     alignment by contract — width 0 matches no claim);
    *  2. cross-modal consistency: the caption's claimed `WxH`
    *     (first `\d+x\d+` token) must equal the DECODED dimensions —
    *     the deterministic stand-in for the CLIP-score threshold (the
    *     model-scoring seam; a real deployment swaps the comparison
    *     for an embedding dot against the same verdict columns);
    *  3. caption quality: at least `minCaptionTokens` whitespace
    *     tokens (alt-text junk filter);
    *  4. content-level dedup among survivors: keeper = minimal
    *     pair id per decoded-pixel md5 group (transcoded copies of
    *     one image collapse to one kept pair).
    *
    * Emits EVERY pair with its full verdict — (width, height,
    * n_tokens, aligned, caption_ok, kept) — the audit-trail contract
    * the drop side-outputs use elsewhere; training-set assembly
    * filters `kept`.
    *
    * Scale shape: payloads decode in the scan task and never cross an
    * exchange (the caption scan prunes to the caption column; the
    * signature frame is 4 narrow columns); dedup is a (md5, id)
    * aggregation, never pairwise.
    */
  def pairCuration(pairs: DataFrame, minCaptionTokens: Int = 3,
      idCol: String = "pair_id", payloadCol: String = "payload",
      captionCol: String = "caption"): DataFrame = {
    require(minCaptionTokens >= 1,
      s"minCaptionTokens=$minCaptionTokens must be >= 1")
    val sigs = pixelSignatures(pairs, idCol, payloadCol).toDF()
      .select(col("media_id").as("__pid"), col("width"), col("height"),
        col("pixel_md5"))
    val caps = pairs.select(col(idCol).cast("long").as("__pid"),
      regexp_extract(col(captionCol), "(\\d+)x(\\d+)", 1).as("__cw"),
      regexp_extract(col(captionCol), "(\\d+)x(\\d+)", 2).as("__ch"),
      // NULL caption → 0 tokens (fails quality); size(NULL) is -1
      // under ANSI-off legacy semantics, so clamp rather than coalesce
      greatest(coalesce(size(split(trim(col(captionCol)), "\\s+")), lit(0)),
        lit(0)).cast("long").as("n_tokens"))
    val v = sigs.join(caps, "__pid")
      .withColumn("aligned",
        coalesce(col("width") > 0 &&
          col("__cw").cast("int") === col("width") &&
          col("__ch").cast("int") === col("height"), lit(false)))
      .withColumn("caption_ok", col("n_tokens") >= minCaptionTokens)
    val reps = v.where(col("aligned") && col("caption_ok"))
      .groupBy(col("pixel_md5")).agg(min(col("__pid")).as("__rep"))
    v.join(reps, Seq("pixel_md5"), "left")
      .select(col("__pid").as(idCol), col("width"), col("height"),
        col("n_tokens"), col("aligned"), col("caption_ok"),
        coalesce(col("aligned") && col("caption_ok") &&
          col("__pid") === col("__rep"), lit(false)).as("kept"))
  }

  /** Frame-container extraction — MJPEG-shaped video plumbing: the
    * payload is a sequence of [int32-LE length][JPEG frame] records
    * (each frame REAL image bytes), exploded to one row per frame in
    * the scan task. Malformed containers emit the frames that parsed
    * cleanly before the corruption point (a torn tail must not void
    * the leading frames); compose with [[decodeFeatures]] /
    * [[resizeImage]] for per-frame work — the same operators images
    * use, which is the point of the container seam.
    */
  case class MediaFrame(media_id: Long, frame_idx: Int,
      frame_payload: Array[Byte])

  def extractFrames(media: DataFrame,
      idCol: String = "media_id", payloadCol: String = "payload"): Dataset[MediaFrame] = {
    val enc = Encoders.product[MediaFrame]
    media.select(col(idCol).cast("long"), col(payloadCol))
      .flatMap { r =>
        val id = r.getLong(0)
        val b = r.getAs[Array[Byte]](1)
        val out = scala.collection.mutable.ArrayBuffer.empty[MediaFrame]
        if (b != null) {
          val bb = java.nio.ByteBuffer.wrap(b)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          var pos = 0
          var idx = 0
          var ok = true
          while (ok && pos + 4 <= b.length) {
            val len = bb.getInt(pos)
            if (len <= 0 || pos + 4 + len > b.length) ok = false
            else {
              out += MediaFrame(id, idx,
                java.util.Arrays.copyOfRange(b, pos + 4, pos + 4 + len))
              idx += 1
              pos += 4 + len
            }
          }
        }
        out.iterator
      }(enc)
  }

  /** Deterministic frame-container fixture: k = 2 + seed % 3 JPEG
    * frames, frame j a [[syntheticJpeg]] of seed*7+j with dims
    * (8 + (seed+j) % 8, 8 + (seed+j) % 5) — geometry survives the
    * lossy codec exactly, so a SQL oracle pins every frame's decoded
    * dims from the seed alone.
    */
  def syntheticFrameContainer(seed: Long): Array[Byte] = {
    val k = (2 + java.lang.Math.floorMod(seed, 3L)).toInt
    val frames = (0 until k).map { j =>
      syntheticJpeg(seed * 7 + j,
        w = (8 + java.lang.Math.floorMod(seed + j, 8L)).toInt,
        h = (8 + java.lang.Math.floorMod(seed + j, 5L)).toInt)
    }
    val total = frames.map(f => 4 + f.length).sum
    val bb = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    frames.foreach { f => bb.putInt(f.length); bb.put(f) }
    bb.array()
  }

  /** Distributed decode: one decoder instance per partition (codecs
    * are expensive to init), rows streamed through it — the Scala
    * analog of `mapInPandas` batch processing. Narrow (no shuffle);
    * repartition upstream to match decoder parallelism to cores.
    */
  def decodeFeatures(media: DataFrame, decoder: Decoder,
      idCol: String = "media_id", payloadCol: String = "payload"): Dataset[DecodedFeatures] = {
    val enc = Encoders.product[DecodedFeatures]
    val idIdx = media.schema.fieldIndex(idCol)
    val payloadIdx = media.schema.fieldIndex(payloadCol)
    media.mapPartitions { rows: Iterator[Row] =>
      rows.map(r => decoder.decode(r.getLong(idIdx), r.getAs[Array[Byte]](payloadIdx)))
    }(enc)
  }

  /** Resize stub: the Spark-side plumbing of an image resize —
    * per-partition batch transform (one resizer instance per
    * partition, same seam as [[decodeFeatures]]), typed output dims,
    * payload replaced by the "resized" bytes. The stub decodes the
    * payload as UTF-8 and keeps the first targetW*targetH CODE
    * POINTS re-encoded (a real codec swaps in scaled pixel data;
    * everything around it — schema, partitioning, batch shape — is
    * what production keeps). Code points, not bytes, so a SQL oracle
    * mirrors it exactly via character substr for any text, multibyte
    * included.
    */
  case class ResizedMedia(
      media_id: Long, width: Int, height: Int, payload: Array[Byte])

  def resizeStub(media: DataFrame, targetW: Int, targetH: Int,
      idCol: String = "media_id", payloadCol: String = "payload"): Dataset[ResizedMedia] = {
    require(targetW > 0 && targetH > 0,
      s"target dims must be positive, got ${targetW}x$targetH")
    val enc = Encoders.product[ResizedMedia]
    val idIdx = media.schema.fieldIndex(idCol)
    val payloadIdx = media.schema.fieldIndex(payloadCol)
    val cap = targetW * targetH
    media.mapPartitions { rows: Iterator[Row] =>
      // per-partition init site (a real resizer allocates here)
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val in = if (bytes == null) Array.emptyByteArray else bytes
        val s = new String(in, java.nio.charset.StandardCharsets.UTF_8)
        val keep = math.min(s.codePointCount(0, s.length), cap)
        val sliced = s.substring(0, s.offsetByCodePoints(0, keep))
        ResizedMedia(
          media_id = r.getLong(idIdx),
          width = targetW,
          height = targetH,
          payload = sliced.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }(enc)
  }

  /** REAL image resize behind the [[resizeStub]] seam: decode
    * (`javax.imageio`), nearest-neighbor resample with the integer
    * mapping src(x * srcW / dstW, y * srcH / dstH), re-encode PNG.
    * The resample is hand-indexed (not an AWT transform op) so its
    * semantics are exactly specified and a SQL oracle can recompute
    * the resized pixels of a [[syntheticPng]] fixture from arithmetic
    * alone (the mm06 gate re-decodes the output and hash-matches the
    * channel sums — proving the full decode -> resample -> encode ->
    * decode round trip, not just the metadata).
    *
    * Same per-partition seam as [[decodeFeatures]]; undecodable
    * payloads quarantine to (0, 0, empty) like the decoder does.
    *
    * `format` picks the RE-ENCODE codec ("png" lossless — the mm06
    * exact-oracle path; "jpg" lossy — the mm08 path, where the
    * resized GEOMETRY stays exact and pixel sums hold only within
    * the lossy tolerance the spec pins). Input payloads decode
    * through ImageIO sniffing either way — a PNG in, JPEG out
    * transcode is the same call.
    */
  def resizeImage(media: DataFrame, targetW: Int, targetH: Int,
      idCol: String = "media_id", payloadCol: String = "payload",
      format: String = "png"): Dataset[ResizedMedia] = {
    require(targetW > 0 && targetH > 0,
      s"target dims must be positive, got ${targetW}x$targetH")
    val enc = Encoders.product[ResizedMedia]
    val idIdx = media.schema.fieldIndex(idCol)
    val payloadIdx = media.schema.fieldIndex(payloadCol)
    media.mapPartitions { rows: Iterator[Row] =>
      javax.imageio.ImageIO.setUseCache(false) // per-partition init site
      rows.map { r =>
        val id = r.getLong(idIdx)
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val src =
          try {
            if (bytes == null || bytes.isEmpty) null
            else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          } catch { case _: java.io.IOException | _: RuntimeException => null }
        if (src == null) ResizedMedia(id, 0, 0, Array.emptyByteArray)
        else {
          val sw = src.getWidth; val sh = src.getHeight
          val dst = new java.awt.image.BufferedImage(targetW, targetH,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < targetH) {
            var x = 0
            while (x < targetW) {
              dst.setRGB(x, y, src.getRGB(x * sw / targetW, y * sh / targetH) & 0xFFFFFF)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(dst, format, bos)
          ResizedMedia(id, targetW, targetH, bos.toByteArray)
        }
      }
    }(enc)
  }

  /** Frame sampling stub for video payloads: byte-range slices stand
    * in for frames (a real demuxer replaces the slicing, the
    * explode-to-frames shape stays).
    */
  def sampleFrames(media: DataFrame, everyNBytes: Int = 64,
      payloadCol: String = "payload"): DataFrame = {
    val n = length(col(payloadCol))
    // integer frame index: Column./ is double division, which sequence()
    // rejects — floor back to int
    val offsets = sequence(lit(0),
      greatest(floor((n - 1) / everyNBytes).cast("int"), lit(0)))
    media
      .withColumn("frame_no", explode(offsets))
      .withColumn("frame_bytes",
        expr(s"substring($payloadCol, frame_no * $everyNBytes + 1, $everyNBytes)"))
  }
}
