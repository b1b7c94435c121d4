package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Stages

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus distributed decode/feature-extract scaffolding.
  *
  * The Spark-side mechanics (schema, partition-sized batching, per-partition
  * decoder amortization) are real and tested, and so is every decode the
  * JDK can express: IMAGES via `javax.imageio` (PNG/JPEG/BMP/GIF — true
  * dimensions + pixel statistics + bilinear resize), AUDIO via
  * `javax.sound.sampled` (WAV/AIFF/AU PCM — true rate/channels/duration +
  * amplitude stats), and VIDEO-style FRAME EXTRACTION for multi-frame
  * containers (`sampleFrames`: animated GIF frames re-encoded as PNGs that
  * feed the image operators downstream). Only codec formats the JDK cannot
  * parse (MP3/OGG, MP4/H.264 — codec libraries absent from this container)
  * fall back to a clearly-marked deterministic fake so the distributed
  * path stays exercised end to end for every modality.
  */
object Multimodal {

  /** One media asset: opaque payload + typed metadata. */
  final case class MediaRecord(
      asset_id: Long,
      media_type: String,       // "image" | "audio" | "video"
      payload: Array[Byte],
      source_path: String)

  final case class MediaFeatures(
      asset_id: Long,
      media_type: String,
      byte_len: Long,
      sha_fingerprint: Long,
      width: Int,               // true pixel width when ImageIO decodes
      height: Int,
      decoded: Boolean,         // true = real decode, false = fallback fake
      feature: Array[Float])    // pixel statistics (real) or hash fake

  /** Media decoder. Images decode for REAL via `javax.imageio` (in-JDK:
    * PNG/JPEG/BMP/GIF/WBMP) — true dimensions + an 8-dim pixel-statistics
    * feature: mean R/G/B, mean+stddev luminance, dark-pixel fraction,
    * aspect ratio, log-area. Pixels are sampled on a bounded grid (≤64×64
    * strided reads) so feature cost is O(1) per image regardless of size.
    *
    * When pixel decode is impossible but the CONTAINER HEADER parses
    * ([[graft.functions.ImageMeta]] — notably WebP, which ImageIO cannot
    * read), the row reports the REAL header dimensions with
    * `decoded=false` and only the feature vector falls back. Payloads
    * with no readable image header (audio/video — no codec libs in this
    * container) take the clearly-marked deterministic FAKE path, which
    * keeps the distributed plumbing testable for those modalities; the
    * fake surface is pixel/sample DECODE alone.
    */
  object MediaCodec {
    final case class Decoded(width: Int, height: Int, decoded: Boolean,
                             feature: Array[Float])

    private def fakeFeature(payload: Array[Byte]): Array[Float] = {
      val h = payload.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
      Array.tabulate(8)(i => math.floorMod(h >> (i * 7), 1000) / 1000.0f)
    }

    private def fake(payload: Array[Byte]): Decoded = {
      val h = payload.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
      val w = 64 + math.floorMod(h, 1024).toInt
      val ht = 64 + math.floorMod(h >> 10, 1024).toInt
      Decoded(w, ht, decoded = false, fakeFeature(payload))
    }

    def decode(payload: Array[Byte]): Decoded = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
        catch { case _: java.io.IOException => null }
      if (img == null) {
        // pixel decode failed — the header kernel may still know the
        // REAL dimensions (WebP lands here); only the feature is fake
        val meta = graft.functions.ImageMeta.imageMeta(payload)
        if (meta.getBoolean(0))
          Decoded(meta.getInt(2), meta.getInt(3), decoded = false,
            fakeFeature(payload))
        else fake(payload)
      }
      else {
        val w = img.getWidth; val h = img.getHeight
        val sx = math.max(1, w / 64); val sy = math.max(1, h / 64)
        var n = 0; var sr = 0.0; var sg = 0.0; var sb = 0.0
        var sl = 0.0; var sl2 = 0.0; var dark = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            val r = (p >> 16) & 0xFF; val g = (p >> 8) & 0xFF; val b = p & 0xFF
            val lum = 0.299 * r + 0.587 * g + 0.114 * b
            sr += r; sg += g; sb += b; sl += lum; sl2 += lum * lum
            if (lum < 32) dark += 1
            n += 1; x += sx
          }
          y += sy
        }
        val meanL = sl / n
        val feat = Array(
          (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat, (sb / n / 255.0).toFloat,
          (meanL / 255.0).toFloat,
          (math.sqrt(math.max(0.0, sl2 / n - meanL * meanL)) / 255.0).toFloat,
          dark.toFloat / n,
          (w.toDouble / h).toFloat,
          (math.log1p(w.toDouble * h) / 20.0).toFloat)
        Decoded(w, h, decoded = true, feat)
      }
    }
  }

  /** Read a directory of media files as MediaRecords — binaryFile scan, the
    * same distributed source the run summaries use.
    */
  def readMediaDir(spark: SparkSession, dir: String, glob: String, mediaType: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(
        xxhash64(col("path")).as("asset_id"),
        lit(mediaType).as("media_type"),
        col("content").as("payload"),
        col("path").as("source_path"))

  /** Distributed decode + feature extraction: mapPartitions so decoder init
    * happens once per partition, rows stream through without materializing
    * the partition (the Scala analogue of `mapInPandas` batch processing).
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here (JNI context, model, ...)
      it.map { r =>
        val d = MediaCodec.decode(r.payload)
        MediaFeatures(r.asset_id, r.media_type, r.payload.length.toLong,
          r.payload.foldLeft(0L)((a, b) => a * 31 + b), d.width, d.height,
          d.decoded, d.feature)
      }
    }
  }

  /** One decoded audio asset: true stream parameters + amplitude stats
    * when `javax.sound.sampled` parses the payload (WAV/AIFF/AU PCM —
    * in-JDK, no codec libraries needed); `decoded=false` marks the
    * deterministic fallback for payloads it cannot parse (MP3/OGG/video —
    * those DO need codec libs absent from this container).
    */
  final case class AudioFeatures(
      asset_id: Long,
      media_type: String,
      byte_len: Long,
      sample_rate: Int,
      channels: Int,
      frames: Long,
      duration_sec: Double,
      rms: Double,              // over samples normalized to [-1, 1]
      peak: Double,
      decoded: Boolean)

  /** REAL audio decoding, in-JDK end to end: `AudioSystem` parses the
    * container, a format conversion normalizes any PCM flavor (8-bit
    * unsigned, big-endian, multi-channel) to 16-bit signed little-endian,
    * and one streaming pass computes RMS + peak amplitude — no codec
    * libraries, the same "real where the JDK reaches, marked fake beyond"
    * contract as [[MediaCodec]].
    */
  object AudioCodec {
    final case class Decoded(sampleRate: Int, channels: Int, frames: Long,
                             durationSec: Double, rms: Double, peak: Double,
                             decoded: Boolean)

    private def fake(payload: Array[Byte]): Decoded = {
      val h = payload.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
      val rate = 8000 + math.floorMod(h, 40000).toInt
      val frames = math.floorMod(h >> 5, 100000)
      // duration stays consistent with (frames, rate) — fake rows mirror
      // the real shape, so frames/rate sanity checks hold on them too
      Decoded(rate, 1 + math.floorMod(h >> 3, 2).toInt,
        frames, frames.toDouble / rate,
        math.floorMod(h >> 7, 1000) / 1000.0, math.floorMod(h >> 11, 1000) / 1000.0,
        decoded = false)
    }

    def decode(payload: Array[Byte]): Decoded = {
      try {
        val pcm = openPcm16(payload)
        val fmt = pcm.getFormat
        var sum2 = 0.0; var peak = 0.0
        val samples = foreachPcmSample(pcm) { s =>
          sum2 += s * s
          val a = math.abs(s); if (a > peak) peak = a
        }
        val channels = fmt.getChannels
        val frames = samples / math.max(1, channels)
        Decoded(fmt.getSampleRate.toInt, channels, frames,
          frames.toDouble / fmt.getSampleRate,
          if (samples == 0) 0.0 else math.sqrt(sum2 / samples), peak,
          decoded = true)
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => fake(payload)
        case _: java.io.IOException                               => fake(payload)
        case _: IllegalArgumentException                          => fake(payload) // unconvertible format
      }
    }
  }

  /** In-memory payload → 16-bit signed little-endian PCM stream, any
    * container/PCM flavor the JDK parses. The conversion stream owns the
    * container stream, so closing the returned stream closes the chain.
    */
  private def openPcm16(payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val in = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    val fmt = in.getFormat
    val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      fmt.getSampleRate, 16, fmt.getChannels, fmt.getChannels * 2,
      fmt.getSampleRate, false)
    AudioSystem.getAudioInputStream(target, in)
  }

  /** One streaming pass over a 16-bit LE PCM stream, O(1) memory,
    * delivering each normalized sample in [-1, 1] to `f`.
    *
    * A `read()` is NOT assumed frame-aligned: an odd return count carries
    * its trailing low byte into the next buffer instead of dropping it —
    * a drop would shift lo/hi pairing for the rest of the stream and
    * desynchronize sample indices between callers' passes. The stream is
    * closed in a finally (conversion streams close their source chain).
    *
    * @return the number of samples delivered
    */
  private def foreachPcmSample(
      pcm: javax.sound.sampled.AudioInputStream)(f: Double => Unit): Long = {
    var samples = 0L
    try {
      val buf = new Array[Byte](8192)
      var carry = Int.MinValue // pending low byte from an odd read, else sentinel
      var read = pcm.read(buf)
      while (read > 0) {
        var i = 0
        if (carry != Int.MinValue) {
          f(((carry & 0xFF) | (buf(0) << 8)).toShort / 32768.0)
          samples += 1; carry = Int.MinValue; i = 1
        }
        while (i + 1 < read) {
          f(((buf(i) & 0xFF) | (buf(i + 1) << 8)).toShort / 32768.0)
          samples += 1; i += 2
        }
        if (i < read) carry = buf(i).toInt
        read = pcm.read(buf)
      }
    } finally pcm.close()
    samples
  }

  /** 64-bit audio ENERGY-hash — the audio member of the perceptual-hash
    * family ([[aHash64]] is the image one): REAL PCM decode
    * (WAV/AIFF/AU via `javax.sound.sampled`) → the sample stream splits
    * into 64 balanced time windows (the exact-cover partition scheme,
    * same as [[graft.operators.Dedup.hammingPairs]]' chunks) → bit j
    * set iff window j's mean-square energy >= the 64-window mean. The
    * threshold is a RATIO of energies, so the hash is invariant under
    * amplitude scaling (gain/volume re-mastering) and stable under
    * re-encode and low-level noise — the audio analogues of the image
    * re-encode/resize robustness. None when the payload doesn't decode
    * (no fake fallback: a fabricated hash would manufacture near-dup
    * pairs) or carries fewer than 64 samples.
    *
    * Two streaming passes over the in-memory payload (count, then
    * window energies) keep memory O(1) per asset regardless of
    * duration; multi-channel audio hashes its interleaved sample
    * stream (windows span channels — sufficient for near-dup identity,
    * documented rather than mixed down).
    */
  def audioHash64(payload: Array[Byte]): Option[Long] = {
    try {
      // pass 1: sample count — foreachPcmSample's leftover-byte carry
      // makes the count exact even when a read() returns an odd byte
      // count, so pass-2 indices line up sample-for-sample with it.
      val n = foreachPcmSample(openPcm16(payload))(_ => ())
      if (n < 64) None
      else {
        // balanced 64-window partition: first n%64 windows one sample wider
        val base = n / 64; val rem = (n % 64).toInt
        val bounds = new Array[Long](65)
        var j = 0
        while (j < 64) {
          bounds(j + 1) = bounds(j) + base + (if (j < rem) 1 else 0); j += 1
        }
        val sum2 = new Array[Double](64)
        val cnt = new Array[Long](64)
        var idx = 0L; var w = 0
        foreachPcmSample(openPcm16(payload)) { s =>
          while (w < 63 && idx >= bounds(w + 1)) w += 1
          sum2(w) += s * s; cnt(w) += 1
          idx += 1
        }
        val e = Array.tabulate(64)(k => if (cnt(k) == 0) 0.0 else sum2(k) / cnt(k))
        val mean = e.sum / 64
        var sig = 0L; var k = 0
        while (k < 64) { if (e(k) >= mean) sig |= (1L << k); k += 1 }
        Some(sig)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Distributed audio perceptual hashes: (id, sig) for every payload
    * that decodes — undecodable rows drop, mirroring [[imageHashes]].
    */
  def audioHashes(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap(r => audioHash64(r.payload).map(sig => (r.asset_id, sig)))
    }.toDF("id", "sig")
  }

  /** AUDIO near-duplicate pairs: energy hash + the shared Hamming
    * pigeonhole core — the third modality (after text SimHash and image
    * aHash) on the ONE dedup idiom.
    */
  def nearDupAudioPairs(media: Dataset[MediaRecord], maxDist: Int = 10): DataFrame =
    graft.operators.Dedup.hammingPairs(audioHashes(media), maxDist)

  /** Distributed audio decode + amplitude stats — the audio analogue of
    * [[extractFeatures]]: `mapPartitions` streams rows through one decoder
    * per partition.
    */
  def extractAudioFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val d = AudioCodec.decode(r.payload)
        AudioFeatures(r.asset_id, r.media_type, r.payload.length.toLong,
          d.sampleRate, d.channels, d.frames, d.durationSec, d.rms, d.peak,
          d.decoded)
      }
    }
  }

  /** One resized asset: payload swapped for the re-encoded image, true
    * output dimensions, `resized=false` marks pass-through rows.
    */
  final case class ResizedMedia(
      asset_id: Long,
      media_type: String,
      payload: Array[Byte],
      width: Int,
      height: Int,
      resized: Boolean)

  /** REAL image resize, in-JDK end to end: ImageIO decode → bilinear
    * `Graphics2D` scale into a `maxDim` bounding box (aspect preserved,
    * never upscaled) → PNG re-encode. Payloads ImageIO cannot parse
    * (audio/video) pass through byte-identical with `resized=false` —
    * the same marked-fallback contract as [[MediaCodec.decode]]. Runs in
    * `mapPartitions` like [[extractFeatures]]: per-partition codec
    * amortization, rows stream through, the shape `mapInPandas` batching
    * takes on a Python stack.
    */
  def resizeImages(media: Dataset[MediaRecord], maxDim: Int): Dataset[ResizedMedia] = {
    require(maxDim > 0, "maxDim must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
          catch { case _: java.io.IOException => null }
        if (img == null)
          ResizedMedia(r.asset_id, r.media_type, r.payload, -1, -1, resized = false)
        else {
          val scale = maxDim.toDouble / math.max(img.getWidth, img.getHeight)
          if (scale >= 1.0)   // already inside the box — keep original bytes
            ResizedMedia(r.asset_id, r.media_type, r.payload,
              img.getWidth, img.getHeight, resized = true)
          else {
            val w = math.max(1, math.rint(img.getWidth * scale).toInt)
            val h = math.max(1, math.rint(img.getHeight * scale).toInt)
            val out = new java.awt.image.BufferedImage(w, h,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, w, h, null)
            } finally g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            ResizedMedia(r.asset_id, r.media_type, bos.toByteArray, w, h, resized = true)
          }
        }
      }
    }
  }

  /** One sampled video frame: re-encoded as PNG so the frame feeds the
    * IMAGE operators downstream (decode -> features -> resize), the
    * composition a real video pipeline runs. `decoded=false` marks the
    * fallback row for payloads the JDK cannot parse.
    */
  final case class FrameRecord(
      asset_id: Long,
      frame_idx: Int,
      n_frames: Int,
      width: Int,
      height: Int,
      decoded: Boolean,
      frame_png: Array[Byte])

  /** REAL frame extraction for MULTI-FRAME images (animated GIF — the one
    * video-like container the JDK decodes natively): `ImageReader`
    * enumerates frames, every `everyNth` is re-encoded as PNG. True
    * per-frame dimensions and count; codec formats (MP4/H.264 — no codec
    * libs in this container) take a single clearly-marked fallback row,
    * mirroring the image/audio contract. `mapPartitions` streams rows
    * through one reader per partition.
    */
  def sampleFrames(media: Dataset[MediaRecord], everyNth: Int): Dataset[FrameRecord] = {
    require(everyNth > 0, "everyNth must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        val frames: Seq[FrameRecord] =
          try {
            val iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(r.payload))
            // null check BEFORE handing the stream to getImageReaders —
            // that call throws (uncaught) on null input.
            if (iis == null) Nil
            else {
              val readers = javax.imageio.ImageIO.getImageReaders(iis)
              if (!readers.hasNext) { iis.close(); Nil }
              else {
                val reader = readers.next()
                try {
                  reader.setInput(iis)
                  val n = reader.getNumImages(true)
                  (0 until n by everyNth).map { i =>
                    val img = reader.read(i)
                    val bos = new java.io.ByteArrayOutputStream()
                    javax.imageio.ImageIO.write(img, "png", bos)
                    FrameRecord(r.asset_id, i, n, img.getWidth, img.getHeight,
                      decoded = true, bos.toByteArray)
                  }
                } finally { reader.dispose(); iis.close() }
              }
            }
            // NonFatal, not just IOException: ImageIO readers throw
            // RuntimeExceptions (e.g. IndexOutOfBounds on corrupt GIF frame
            // tables) — every undecodable payload must take the marked
            // fallback row instead of failing the task, matching the
            // image/audio contract.
          } catch { case scala.util.control.NonFatal(_) => Nil }
        if (frames.nonEmpty) frames
        else {
          // marked deterministic fallback, one row per asset
          val h = r.payload.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
          Seq(FrameRecord(r.asset_id, 0, 0,
            64 + math.floorMod(h, 1024).toInt, 64 + math.floorMod(h >> 10, 1024).toInt,
            decoded = false, Array.empty[Byte]))
        }
      }
    }
  }

  /** 64-bit average-hash (aHash) of an image payload: REAL ImageIO decode
    * → 8×8 grid of cell-center luminance samples → bit j set iff cell j's
    * luminance >= the 64-cell mean. Tolerant of re-encoding, light noise,
    * and resize (the classic perceptual-dedup property exact byte hashes
    * lack); None when the payload doesn't decode (no fake fallback here —
    * a fabricated hash would manufacture near-dup PAIRS, unlike the
    * feature path where a marked fake only fills columns).
    */
  def aHash64(payload: Array[Byte]): Option[Long] = {
    val img =
      // NonFatal, not just IOException: ImageIO readers throw
      // RuntimeExceptions (ArrayIndexOutOfBounds, IllegalArgument,
      // NegativeArraySize) on malformed JPEG/PNG payloads — over a crawled
      // corpus one corrupt image must drop its row (None), not fail the
      // Spark task.
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null || img.getWidth < 1 || img.getHeight < 1) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val lums = new Array[Double](64)
      var i = 0
      while (i < 64) {
        val cx = math.min(w - 1, ((i % 8) * w + w / 2) / 8)
        val cy = math.min(h - 1, ((i / 8) * h + h / 2) / 8)
        val p = img.getRGB(cx, cy)
        lums(i) = 0.299 * ((p >> 16) & 0xFF) + 0.587 * ((p >> 8) & 0xFF) +
          0.114 * (p & 0xFF)
        i += 1
      }
      val mean = lums.sum / 64
      var sig = 0L; var j = 0
      while (j < 64) { if (lums(j) >= mean) sig |= (1L << j); j += 1 }
      Some(sig)
    }
  }

  /** Distributed perceptual hashes: (id, sig) for every payload that
    * decodes — mapPartitions like the other codec paths (decoder init
    * once per partition); undecodable rows drop here rather than
    * fabricating hashes.
    */
  def imageHashes(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap(r => aHash64(r.payload).map(sig => (r.asset_id, sig)))
    }.toDF("id", "sig")
  }

  /** IMAGE near-duplicate pairs: perceptual aHash + the engine's shared
    * Hamming-banding core ([[graft.operators.Dedup.hammingPairs]] —
    * pigeonhole chunk blocking, full recall at `maxDist`, no quadratic
    * join). The same machinery that dedups text (SimHash) and vectors
    * (sign-LSH bands) thus covers the image modality: one dedup idiom
    * across all three. Default distance 10/64 is the common aHash
    * near-dup band (re-encode + light noise land well under it; distinct
    * photos average ~32).
    */
  def nearDupImagePairs(media: Dataset[MediaRecord], maxDist: Int = 10): DataFrame =
    graft.operators.Dedup.hammingPairs(imageHashes(media), maxDist)

  /** Per-frame perceptual hashes for multi-frame assets: REAL frame
    * enumeration ([[sampleFrames]] — animated GIF natively; codec
    * formats take the marked fallback and drop here) → per-frame
    * [[aHash64]] → (id, frame_idx, sig). Frames that fail decode drop
    * their row, mirroring [[imageHashes]].
    */
  def videoFrameHashes(media: Dataset[MediaRecord], everyNth: Int = 1): DataFrame = {
    import media.sparkSession.implicits._
    sampleFrames(media, everyNth)
      .filter(f => f.decoded && f.frame_png.nonEmpty)
      .mapPartitions(_.flatMap(f =>
        aHash64(f.frame_png).map(sig => (f.asset_id, f.frame_idx, sig))))
      .toDF("id", "frame_idx", "sig")
  }

  /** VIDEO near-duplicate pairs: aligned-frame MAJORITY vote over
    * per-frame perceptual hashes — the fourth modality (after text
    * SimHash, image aHash, audio energy hash) on the engine's one
    * Hamming-pigeonhole dedup idiom.
    *
    * Two assets pair iff at least `minFrameFrac` of their common frame
    * span has frame-`i`-to-frame-`i` aHash distance <= `maxDist`:
    * per-frame candidates come from
    * [[graft.operators.Dedup.hammingPairsBy]] keyed on `frame_idx` (the
    * frame index joins the blocking key, so only aligned frames are
    * ever candidates), then one (id_a, id_b) aggregation counts matched
    * frames against `least(n_a, n_b)`. Scale shape: frame hashes are
    * ~16 bytes/frame regardless of payload size; the expensive decode
    * runs ONCE (the hash frame is eagerly localCheckpoint'd, so the
    * count aggregation and the two sides of the blocking self-join all
    * read the materialized blocks instead of re-decoding), and every
    * later stage is a keyed shuffle on frame or pair keys.
    *
    * @return (id_a, id_b, matched_frames, min_frames)
    */
  def nearDupVideoPairs(
      media: Dataset[MediaRecord],
      maxDist: Int = 10,
      everyNth: Int = 1,
      minFrameFrac: Double = 0.5): DataFrame =
    nearDupVideoPairsFromHashes(
      Stages.cut(videoFrameHashes(media, everyNth)), maxDist, minFrameFrac)

  /** 64-bit WHOLE-video signature from a (id, frame_idx, sig) frame-hash
    * frame: bit j set iff a majority of the asset's frame hashes set bit
    * j — the [[graft.operators.Dedup.simhashSignatures]] majority-vote
    * aggregation with frame hashes in place of token hashes. One word
    * per asset, so a video index costs what an image index costs: the
    * INDEX route (band-partitioned stores, streaming near-dup) where
    * [[nearDupVideoPairs]]' aligned-frame vote is the exact route.
    * Frame-count-invariant under uniform subsampling in expectation;
    * pairs found over these signatures should be confirmed with the
    * aligned-frame vote when precision matters (majority folding can in
    * principle collide distinct frame sequences).
    */
  def videoHashes64(frameHashes: DataFrame): DataFrame = {
    val aggs = count(lit(1)).as("__n") +:
      (0 until 64).map(j =>
        sum(shiftright(col("sig"), j).bitwiseAND(lit(1L))).as(s"__b$j"))
    frameHashes.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        (0 until 64).map(j =>
          when(col(s"__b$j") * 2 >= col("__n"), shiftleft(lit(1L), j))
            .otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** [[nearDupVideoPairs]] over an already-computed (id, frame_idx, sig)
    * frame-hash frame — the entry point when hashes are persisted as an
    * index (the streaming-index pattern) or shared across thresholds.
    */
  def nearDupVideoPairsFromHashes(
      frameHashes: DataFrame,
      maxDist: Int = 10,
      minFrameFrac: Double = 0.5): DataFrame = {
    require(minFrameFrac > 0.0 && minFrameFrac <= 1.0,
      s"minFrameFrac in (0, 1], got $minFrameFrac")
    val n = frameHashes.groupBy("id").agg(count(lit(1)).as("n_frames"))
    val matched = graft.operators.Dedup
      .hammingPairsBy(frameHashes, "frame_idx", maxDist)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("matched_frames"))
    matched
      .join(n.select(col("id").as("id_a"), col("n_frames").as("n_a")), Seq("id_a"))
      .join(n.select(col("id").as("id_b"), col("n_frames").as("n_b")), Seq("id_b"))
      .withColumn("min_frames", least(col("n_a"), col("n_b")))
      .where(col("matched_frames") >= ceil(col("min_frames") * lit(minFrameFrac)))
      .select("id_a", "id_b", "matched_frames", "min_frames")
  }

  /** Frame/chunk sampling plumbing: split a payload into fixed-size chunks
    * (byte-level stand-in for containers the JDK cannot parse) — explode
    * keeps it distributed, chunk index is carried for downstream ordering.
    */
  def sampleChunks(media: DataFrame, chunkBytes: Int, everyNth: Int): DataFrame = {
    val nChunks = ceil(length(col("payload")).cast("double") / chunkBytes).cast("int")
    media
      .withColumn("chunk_idx",
        explode(sequence(lit(0), greatest(nChunks - 1, lit(0)), lit(everyNth))))
      .select(col("asset_id"), col("media_type"), col("chunk_idx"),
        col("payload").substr(col("chunk_idx") * chunkBytes + 1, lit(chunkBytes))
          .as("chunk"))
  }

  /** MMC4/OBELICS-style image–text INTERLEAVING by embedding affinity:
    * every image assigns to its single most-similar text chunk (cosine
    * argmax over the chunk embeddings, ties → lowest chunk id — the
    * [[graft.operators.Similarity.knnJoin]] k=1 rule), and each chunk
    * rolls its assigned images into the interleaved-sequence spec a
    * multimodal training example consumes: images in affinity order
    * (ties → lowest image id), plus the assignment strength.
    *
    * Returns one row per chunk that received at least one image:
    * (chunk_id, n_images, img_seq — comma-joined image ids in affinity
    * order, mean_cosine rounded 6dp).
    *
    * Scale shape: the chunk side of a document is small by construction
    * (chunks per doc, not corpus-wide), so the exact knnJoin route's
    * broadcast is the common case; corpus-scale assignment swaps stage 1
    * for IVF-partitioned probes ([[graft.operators.Ivf]]) — the rollup
    * (one chunk-keyed shuffle of image-cardinality rows) is unchanged.
    * Cosines come from the deterministic elementwise `vec_dot` kernel,
    * so affinity ORDER is engine-exact, never a float coin flip.
    */
  def interleaveByAffinity(
      chunks: DataFrame, images: DataFrame,
      embCol: String, chunkIdCol: String, imageIdCol: String): DataFrame = {
    val assigned = graft.operators.Similarity.knnJoin(
        images, chunks, embCol, imageIdCol, chunkIdCol, k = 1)
      .select(col("base_id").as("chunk_id"),
        col("probe_id").as("image_id"), col("cosine"))
    assigned.groupBy("chunk_id")
      .agg(count(lit(1)).as("n_images"),
        concat_ws(",",
          transform(
            array_sort(collect_list(struct(
              (-col("cosine")).as("negCos"), col("image_id").as("img")))),
            e => e.getField("img").cast("string"))).as("img_seq"),
        round(avg(col("cosine")), 6).as("mean_cosine"))
  }
}
