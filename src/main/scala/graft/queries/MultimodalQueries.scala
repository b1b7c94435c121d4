package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.multimodal.Multimodal

/** Driver-visible multimodal queries. The container ships no image
  * corpus, so — following the q71/q97 in-plan injection convention — the
  * corpus is RENDERED deterministically from doc ids, executor-side:
  * every selected doc becomes a 64×64 bimodal block-pattern image whose
  * pattern is a pure function of `doc_id % 8` (its near-dup GROUP) and
  * whose encoding (PNG/JPEG) and pixel-noise vary per doc. The query
  * then runs the REAL pipeline — ImageIO decode → perceptual aHash →
  * Hamming pigeonhole banding ([[Multimodal.nearDupImagePairs]]) — and
  * the DuckDB oracle recomputes the expected pair set from ids alone:
  * same-group, both decodable, a < b. The oracle is exact because the
  * construction guarantees margins on BOTH sides of the distance
  * threshold (within-group ≈ 0–6 bits: PNG hashes equal the pattern
  * exactly, JPEG blocks align with the 8×8 DCT grid so decode error
  * can't cross the mean threshold; cross-group ≥ 25 bits by choice of
  * the splitmix64 pattern family — verified in PerceptualHashSpec).
  * Any break in decode, hashing, or banding changes the emitted pairs
  * and fails the driver's hash compare.
  */
object MultimodalQueries {

  /** splitmix64 finalizer — the group-pattern family. Group `g`'s 64-bit
    * pattern drives which of the 8×8 blocks render bright; the family's
    * min pairwise Hamming distance is 25 (deterministic, spec-pinned),
    * so maxDist=10 separates groups with a 15-bit margin.
    */
  private[graft] def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private[graft] def groupPattern(g: Long): Long =
    mix64(g * 0x5851F42D4C957F2DL + 0x14057B7EF767814FL)

  /** Deterministically render doc `id`'s image asset. `id % 13 == 5`
    * docs get an undecodable payload (exercises the decode-failure drop
    * path end to end — they must appear in NO pair). Otherwise: 64×64
    * RGB, 8×8 blocks at luminance 220/40 from the group pattern's bits,
    * three +4-luminance noise pixels at id-derived positions (perceptual
    * no-ops: they can't move a 40/220 sample across the ~130 mean), and
    * PNG or JPEG encoding alternating on `id / 8` — JPEG blocks align
    * with the DCT grid, so re-encode noise stays within a few
    * luminance steps of the block value.
    */
  private[graft] def renderAsset(id: Long): Multimodal.MediaRecord = {
    if (id % 13 == 5) {
      val junk = Array.tabulate(64)(i => mix64(id * 64 + i).toByte)
      return Multimodal.MediaRecord(id, "image", junk, s"mem://$id.bin")
    }
    val pattern = groupPattern(id % 8)
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val bit = (y / 8) * 8 + (x / 8)
        val v = if (((pattern >>> bit) & 1L) == 1L) 220 else 40
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    var j = 0
    while (j < 3) {
      val h = mix64(id * 3 + j)
      val nx = (h & 63L).toInt; val ny = ((h >>> 6) & 63L).toInt
      val p = img.getRGB(nx, ny)
      val v = math.min(255, ((p >> 16) & 0xFF) + 4)
      img.setRGB(nx, ny, (v << 16) | (v << 8) | v)
      j += 1
    }
    val fmt = if ((id / 8) % 2 == 0) "png" else "jpg"
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    Multimodal.MediaRecord(id, "image", bos.toByteArray, s"mem://$id.$fmt")
  }

  /** Deterministically render doc `id`'s AUDIO asset — the audio twin of
    * [[renderAsset]]: 1 s of 8 kHz mono 16-bit WAV, 64 windows of 125
    * samples each, window j loud (sine amplitude 0.8) iff bit j of the
    * group pattern is set, else quiet (0.05); the whole signal is then
    * amplitude-scaled per doc (0.5–0.9 on `id / 8`) — the energy hash
    * is scale-invariant, so group members hash identically while the
    * payloads differ byte-wise. `id % 13 == 5` docs get undecodable
    * junk (the decode-failure drop path).
    */
  private[graft] def renderAudioAsset(id: Long): Multimodal.MediaRecord = {
    if (id % 13 == 5) {
      val junk = Array.tabulate(64)(i => mix64(id * 64 + i).toByte)
      return Multimodal.MediaRecord(id, "audio", junk, s"mem://$id.bin")
    }
    val pattern = groupPattern(id % 8)
    val scale = 0.5 + math.floorMod(id / 8, 5) * 0.1
    val spw = 125; val n = 64 * spw
    val pcm = new Array[Byte](n * 2)
    var w = 0
    while (w < 64) {
      val amp = (if (((pattern >>> w) & 1L) == 1L) 0.8 else 0.05) * scale
      var i = 0
      while (i < spw) {
        val t = w * spw + i
        val v = (amp * math.sin(2 * math.Pi * 440.0 * t / 8000.0) * 32767).toInt
        pcm(2 * t) = (v & 0xFF).toByte
        pcm(2 * t + 1) = ((v >> 8) & 0xFF).toByte
        i += 1
      }
      w += 1
    }
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    Multimodal.MediaRecord(id, "audio", bos.toByteArray, s"mem://$id.wav")
  }

  /** Deterministically render doc `id`'s VIDEO asset — a 4-frame 64×64
    * animated GIF (the one video-like container the JDK decodes
    * natively). Frame 0's pattern is shared by SUPER-group `(id%8)/2`,
    * frames 1–3 are per-group — so same-group videos match on all 4
    * frames while the two groups of a super-group match on exactly 1 of
    * 4 (below the majority threshold 2): the partial-match leg of the
    * majority vote is exercised by construction, not just all-or-nothing
    * pairs. Three +4-luminance noise pixels per (id, frame) keep
    * same-group payloads byte-distinct (GIF palettes carry the exact
    * gray levels, so the noise stays a perceptual no-op, as in
    * [[renderAsset]]'s PNG case). The full 28-pattern family has min
    * pairwise Hamming distance 20 (spec-pinned) — a 10-bit margin over
    * maxDist=10 on the cross-group side, exact hash equality on the
    * same-group side. `id % 13 == 5` docs get undecodable junk (they
    * must appear in NO pair).
    */
  private[graft] def renderVideoAsset(id: Long): Multimodal.MediaRecord = {
    if (id % 13 == 5) {
      val junk = Array.tabulate(64)(i => mix64(id * 64 + i).toByte)
      return Multimodal.MediaRecord(id, "video", junk, s"mem://$id.bin")
    }
    val g = id % 8
    val frames = (0 until 4).map { k =>
      val pattern =
        if (k == 0) groupPattern(1000L + g / 2) else groupPattern(g * 4 + k)
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 64) {
        var x = 0
        while (x < 64) {
          val bit = (y / 8) * 8 + (x / 8)
          val v = if (((pattern >>> bit) & 1L) == 1L) 220 else 40
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      var j = 0
      while (j < 3) {
        val h = mix64(id * 16 + k * 4 + j)
        val nx = (h & 63L).toInt; val ny = ((h >>> 6) & 63L).toInt
        val p = img.getRGB(nx, ny)
        val v = math.min(255, ((p >> 16) & 0xFF) + 4)
        img.setRGB(nx, ny, (v << 16) | (v << 8) | v)
        j += 1
      }
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(img =>
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null))
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    Multimodal.MediaRecord(id, "video", bos.toByteArray, s"mem://$id.gif")
  }

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Image near-duplicate detection over the rendered corpus: real
    // decode + aHash + pigeonhole Hamming banding; emitted pairs are
    // exactly the same-group decodable pairs (oracle recomputes them
    // from ids).
    "q101_image_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .where(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(renderAsset))
      Multimodal.nearDupImagePairs(media, maxDist = 10)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // Audio near-duplicate detection over the rendered WAV corpus: real
    // javax.sound decode + scale-invariant energy hash + the same
    // Hamming banding; group members differ byte-wise (per-doc gain)
    // but pair up perceptually. Same id-derived oracle construction as
    // q101.
    "q106_audio_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .where(pmod(col("doc_id"), lit(7)) === 3)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(renderAudioAsset))
      Multimodal.nearDupAudioPairs(media, maxDist = 10)
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // Video (frame-sequence) near-duplicate detection over the rendered
    // animated-GIF corpus: real multi-frame decode + per-frame aHash +
    // per-frame-index Hamming blocking + the majority-of-frames vote.
    // The oracle recomputes the pair set from ids (same-group decodable
    // pairs match on all 4 frames; the two groups of a super-group share
    // only frame 0 — 1 of 4 is under the majority threshold, so the
    // partial-match rejection leg is load-bearing in the hash compare).
    "q113_video_neardup" -> ((s, dir) => {
      import s.implicits._
      val media = Tables(s, dir, "documents")
        .where(pmod(col("doc_id"), lit(7)) === 1)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(renderVideoAsset))
      Multimodal.nearDupVideoPairs(media, maxDist = 10, everyNth = 1,
          minFrameFrac = 0.5)
        .select(col("id_a"), col("id_b"), col("matched_frames"))
        .orderBy("id_a", "id_b")
    }),

    // MMC4-style image-text interleaving by embedding affinity: the
    // first 50 embedding rows play text chunks, the rest play images;
    // each image assigns to its cosine-argmax chunk (ties low id) and
    // chunks emit their interleaved image sequence in affinity order.
    // Oracle = the quadratic assignment + ordered string_agg; the
    // sequence ORDER is engine-exact because cosines come from the
    // deterministic elementwise dot kernel on both sides.
    "q145_interleave" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      Multimodal.interleaveByAffinity(
          e.where(col("vec_id") < 50), e.where(col("vec_id") >= 50),
          "embedding", "vec_id", "vec_id")
        .orderBy("chunk_id")
    }),

    // Container-HEADER metadata: per doc a REAL ISO-BMFF (MP4) payload
    // and a REAL MPEG-audio (MP3) payload are assembled in-plan from
    // doc_id-derived parameters (box sizes, mvhd timescale/duration,
    // trak/stsd codec entries; ID3v2 syncsafe tag, MPEG1-Layer-III
    // 128k/44100 frames, a trailing ID3v1 block every third doc, plus a
    // malformed leg per modality), then parsed back by the byte-level
    // kernels (graft.functions.MediaHeaders — no codec library; the
    // multimodal fake now covers ONLY pixel/sample decode). The oracle
    // states every expected field in CLOSED FORM from doc_id — equality
    // proves the parser inverts the constructor exactly, including the
    // frame-hop arithmetic (417-byte frames) and the quarantine
    // posture on malformed payloads.
    "q159_media_headers" -> ((s, dir) => {
      def h8(c: Column) = lpad(hex(c), 8, "0")
      def hx(t: String) =
        t.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          .map(b => f"$b%02x").mkString
      // --- MP4: ftyp + moov[mvhd + 1-2 trak/mdia/minf/stbl/stsd] ---
      val dur = lit(1000L) + pmod(col("doc_id"), lit(7)) * lit(500L)
      val mvhd = concat(
        lit("0000001c" + hx("mvhd") + "00000000" + "00000000" + "00000000" +
          "000003e8"), h8(dur))
      def trak(fcc: String) =
        "00000038" + hx("trak") + "00000030" + hx("mdia") +
          "00000028" + hx("minf") + "00000020" + hx("stbl") +
          "00000018" + hx("stsd") + "00000000" + "00000001" +
          "00000008" + hx(fcc)
      val oneTrack = pmod(col("doc_id"), lit(2)) === 0
      val moov = concat(
        when(oneTrack, lit("0000005c")).otherwise(lit("00000094")),
        lit(hx("moov")), mvhd,
        when(oneTrack, lit(trak("avc1")))
          .otherwise(lit(trak("avc1") + trak("mp4a"))))
      val ftyp = lit("00000010" + hx("ftyp") + hx("isom") + "00000000")
      // --- fragmented MP4 leg (doc_id % 17 == 4): mvhd duration 0 +
      // moov[trak(tkhd id=1, mdhd timescale 600, stsd avc1) + mvex/
      // trex(default_sample_duration 60)] + two moofs: moof1's trun
      // (2 samples, no per-sample durations, no tfhd default) falls
      // through to the TREX default; moof2 (tfdt base 120) carries a
      // tfhd default d = 60 + doc_id%5*30 for 3 samples. The kernel
      // must estimate duration = (120 + 3d) / mdhd's 600 clock ---
      val mvhdFrag =
        lit("0000001c" + hx("mvhd") + "00000000" + "00000000" + "00000000" +
          "000003e8" + "00000000")
      val trakFrag =
        lit("00000068" + hx("trak") +
          "00000018" + hx("tkhd") + "00000000" + "00000000" + "00000000" +
            "00000001" + // track_ID = 1
          "00000048" + hx("mdia") +
            "00000018" + hx("mdhd") + "00000000" + "00000000" + "00000000" +
              "00000258" + // media timescale = 600
            "00000028" + hx("minf") + "00000020" + hx("stbl") +
              "00000018" + hx("stsd") + "00000000" + "00000001" +
              "00000008" + hx("avc1"))
      val mvex =
        lit("00000028" + hx("mvex") + "00000020" + hx("trex") + "00000000" +
          "00000001" + "00000001" + "0000003c" + // default duration 60
          "00000000" + "00000000")
      val fragDefDur = lit(60L) + pmod(col("doc_id"), lit(5)) * lit(30L)
      val moof1 =
        lit("00000040" + hx("moof") + "00000038" + hx("traf") +
          "00000010" + hx("tfhd") + "00000000" + "00000001" +
          "00000010" + hx("tfdt") + "00000000" + "00000000" +
          "00000010" + hx("trun") + "00000000" + "00000002")
      val moof2 = concat(
        lit("00000048" + hx("moof") + "00000040" + hx("traf") +
          "00000014" + hx("tfhd") + "00000008" + "00000001"), h8(fragDefDur),
        lit("00000010" + hx("tfdt") + "00000000" + "00000078" + // base 120
          "00000014" + hx("trun") + "00000001" + "00000003" + "00000000"))
      // moof3 (r17): the FULL trun flag battery — 0xF05 = data-offset +
      // first-sample-flags + per-sample duration/size/flags/cto, so the
      // optional-field offsets and the 16-byte per-sample stride are
      // oracle-load-bearing; tfdt continues exactly where moof2 ended
      // (base 120 + 3·default), two samples d1 = 100 + doc%3·20, d2 = 50
      val fragBase3 = lit(120L) + fragDefDur * lit(3L)
      val fragD1 = lit(100L) + pmod(col("doc_id"), lit(3)) * lit(20L)
      val moof3 = concat(
        lit("00000068" + hx("moof") + "00000060" + hx("traf") +
          "00000010" + hx("tfhd") + "00000000" + "00000001" +
          "00000010" + hx("tfdt") + "00000000"), h8(fragBase3),
        lit("00000038" + hx("trun") + "00000f05" + "00000002" +
          "00000000" + // data_offset
          "00000000"), // first_sample_flags
        h8(fragD1), lit("00000100" + "00000000" + "00000000"),
        lit("00000032" + "00000100" + "00000000" + "00000000")) // d2 = 50
      val moovFrag = concat(lit("000000b4" + hx("moov")), mvhdFrag,
        trakFrag, mvex)
      val mp4Frag = concat(ftyp, moovFrag, moof1, moof2, moof3)
      val mp4 = when(pmod(col("doc_id"), lit(13)) === 3, unhex(lit("0000")))
        .when(pmod(col("doc_id"), lit(17)) === 4, unhex(mp4Frag))
        .otherwise(unhex(concat(ftyp, moov)))
      // --- MP3: [ID3v2(100)] + n × 417-byte MPEG1-L3 frames [+ ID3v1] ---
      val frameHex = "fffb9000" + "00" * 413
      val nFrames = (pmod(col("doc_id"), lit(4)) + 3).cast("int")
      val id3v2 = when(pmod(col("doc_id"), lit(2)) === 0,
        lit("494433" + "0400" + "00" + "00000064" + "00" * 100))
        .otherwise(lit(""))
      val id3v1 = when(pmod(col("doc_id"), lit(3)) === 0,
        lit(hx("TAG") + "00" * 125)).otherwise(lit(""))
      val mp3 = when(pmod(col("doc_id"), lit(11)) === 7,
          unhex(lit("123456")))
        .otherwise(unhex(concat(id3v2,
          call_function("repeat", lit(frameHex), nFrames), id3v1)))
      val m4 = graft.functions.MediaHeaderExpr.mp4Meta(mp4)
      val m3 = graft.functions.MediaHeaderExpr.mp3Meta(mp3)
      Tables(s, dir, "documents")
        .select(col("doc_id"), m4.as("m4"), m3.as("m3"))
        .select(col("doc_id"),
          col("m4.ok").as("mp4_ok"),
          round(col("m4.duration_sec"), 6).as("mp4_duration_sec"),
          col("m4.n_tracks").as("mp4_tracks"),
          col("m4.codecs").as("mp4_codecs"),
          col("m3.ok").as("mp3_ok"),
          col("m3.version").as("mp3_version"),
          col("m3.layer").as("mp3_layer"),
          col("m3.bitrate_kbps").as("mp3_bitrate_kbps"),
          col("m3.sample_rate").as("mp3_sample_rate"),
          col("m3.n_frames").as("mp3_frames"),
          round(col("m3.duration_sec"), 6).as("mp3_duration_sec"),
          col("m3.id3v2_bytes").as("mp3_id3_bytes"))
        .orderBy("doc_id")
    }),

    // OGG container metadata (the q159 pattern for the remaining audio
    // container): per doc a REAL two-page OGG stream — a BOS page
    // carrying the codec identification header (Vorbis id header on
    // even docs, OpusHead on odd) and an EOS page whose LITTLE-ENDIAN
    // granule position encodes a doc_id-derived duration (Vorbis
    // granules = PCM samples at the stream rate; Opus granules = 48 kHz
    // minus the pre-skip). The oracle states codec/channels/rate/pages/
    // duration in closed form from doc_id; a malformed leg quarantines.
    "q161_ogg_headers" -> ((s, dir) => {
      def hx(t: String) =
        t.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          .map(b => f"$b%02x").mkString
      // little-endian hex of the low n bytes of a long column
      def le(c: Column, n: Int): Column = concat((0 until n).map(i =>
        lpad(lower(hex(pmod(shiftright(c, 8 * i), lit(256)))), 2, "0")): _*)
      def page(headerType: String, granuleHex: Column, segTable: String,
               payloadHex: Column, serial: String = "00000000"): Column =
        concat(
          lit(hx("OggS") + "00" + headerType), granuleHex,
          lit(serial + "00" * 8), // serial + sequence + crc (crc unvalidated)
          lit(segTable), payloadHex)
      // Vorbis identification header: 01 "vorbis" ver=0 ch=2 rate=44100
      // + bitrates(12B) + blocksizes + framing = 30 bytes
      val vorbisId = lit("01" + hx("vorbis") + "00000000" + "02" +
        "44ac0000" + "00" * 12 + "b8" + "01")
      // OpusHead: ver=1 ch=2 preskip=312 input_rate=48000 gain mapping
      val opusHead = lit(hx("OpusHead") + "01" + "02" + "3801" +
        "80bb0000" + "0000" + "00")
      val vg = lit(44100L) + pmod(col("doc_id"), lit(5)) * lit(4410L)
      val og = lit(96312L) + pmod(col("doc_id"), lit(3)) * lit(4800L)
      val vorbisHex = concat(
        page("02", lit("0" * 16), "011e", vorbisId),
        page("04", le(vg, 8), "0104", lit("00000000")))
      val opusHex = concat(
        page("02", lit("0" * 16), "0113", opusHead),
        page("04", le(og, 8), "0104", lit("00000000")))
      // CHAINED leg (doc_id % 17 == 4): the normal stream followed by a
      // SECOND logical stream (the other codec, serial 3) whose huge
      // granule must NOT leak into the duration — the kernel reports
      // the FIRST stream + chained=true, n_pages counts all 4
      val secondHex = concat(
        when(pmod(col("doc_id"), lit(2)) === 0,
            page("02", lit("0" * 16), "0113", opusHead, serial = "03000000"))
          .otherwise(
            page("02", lit("0" * 16), "011e", vorbisId, serial = "03000000")),
        page("04", le(lit(999999999L), 8), "0104", lit("00000000"),
          serial = "03000000"))
      val chainedHex = concat(
        when(pmod(col("doc_id"), lit(2)) === 0, vorbisHex).otherwise(opusHex),
        secondHex)
      // MULTIPLEXED leg (doc_id % 19 == 6): a skeleton stream's BOS page
      // (unrecognized "fishead" payload, serial 1) precedes the codec
      // stream's BOS, and the skeleton's EOS granule (huge) arrives
      // last — the kernel must lock the codec stream by SERIAL, not
      // page position, and ignore foreign granules; chained=false
      val muxHex = concat(
        page("02", lit("0" * 16), "0107", lit(hx("fishead")),
          serial = "01000000"),
        when(pmod(col("doc_id"), lit(2)) === 0,
            concat(
              page("02", lit("0" * 16), "011e", vorbisId, serial = "02000000"),
              page("04", le(vg, 8), "0104", lit("00000000"),
                serial = "02000000")))
          .otherwise(concat(
            page("02", lit("0" * 16), "0113", opusHead, serial = "02000000"),
            page("04", le(og, 8), "0104", lit("00000000"),
              serial = "02000000"))),
        page("04", le(lit(888888888L), 8), "0104", lit("00000000"),
          serial = "01000000"))
      val ogg = when(pmod(col("doc_id"), lit(13)) === 6,
          unhex(lit(hx("Ogg"))))
        .when(pmod(col("doc_id"), lit(17)) === 4, unhex(chainedHex))
        .when(pmod(col("doc_id"), lit(19)) === 6, unhex(muxHex))
        .otherwise(unhex(
          when(pmod(col("doc_id"), lit(2)) === 0, vorbisHex)
            .otherwise(opusHex)))
      val m = graft.functions.MediaHeaderExpr.oggMeta(ogg)
      Tables(s, dir, "documents")
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"),
          col("m.ok").as("ogg_ok"),
          col("m.codec").as("codec"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.n_pages").as("n_pages"),
          round(col("m.duration_sec"), 6).as("duration_sec"),
          col("m.chained").as("chained"),
          // per-stream durations (r17): the chained leg's SECOND
          // logical stream reads out on its own codec clock; null
          // everywhere a second recognized stream does not exist
          size(col("m.stream_durations")).as("n_streams"),
          // try_: a 1-stream array must read NULL, not an ANSI index error
          round(try_element_at(col("m.stream_durations"), lit(2)), 6).as("dur2"))
        .orderBy("doc_id")
    }),

    // Image-container metadata (the q159 pattern for the IMAGE side,
    // WebP first — the format javax.imageio cannot read): per doc a
    // REAL container is assembled in-plan from doc_id-derived
    // dimensions, rotating all three WebP flavors (VP8 lossy start-code
    // + 14-bit LE dims; VP8L signature + PACKED 14-bit fields built
    // with in-plan bit arithmetic; VP8X extended canvas + animation
    // flag + ANMF frame chunks), PNG (with an APNG acTL leg), JPEG
    // (SOFn big-endian dims behind an APP0 decoy), and GIF (block walk
    // counting image descriptors through extension sub-blocks), plus
    // BMP, AVIF/ISO-BMFF (meta-fullbox / iprp / ipco walk taking the
    // MAX-AREA ispe over a planted thumbnail; avis brand = animated
    // sequence), ICO (largest-entry dims, entry count) and a
    // truncated-WebP malformed leg. Parsed back by
    // graft.functions.ImageMeta — no ImageIO attempt anywhere; the
    // oracle states every field in CLOSED FORM from doc_id, so parser
    // and constructor must invert each other exactly.
    "q167_image_headers" -> ((s, dir) => {
      def hx(t: String) =
        t.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          .map(b => f"$b%02x").mkString
      // little-endian hex of the low n bytes of a long column
      def le(c: Column, n: Int): Column = concat((0 until n).map(i =>
        lpad(lower(hex(pmod(shiftright(c, 8 * i), lit(256)))), 2, "0")): _*)
      def be16(c: Column): Column = lpad(lower(hex(c)), 4, "0")
      def be32(c: Column): Column = lpad(lower(hex(c)), 8, "0")
      val w = lit(16L) + pmod(col("doc_id"), lit(9))
      val h = lit(8L) + pmod(col("doc_id"), lit(5))
      // --- WebP / VP8 lossy: RIFF(22) WEBP "VP8 "(10) tag+9D012A+dims
      val vp8 = concat(
        lit(hx("RIFF")), le(lit(22L), 4), lit(hx("WEBP") + hx("VP8 ")),
        le(lit(10L), 4), lit("000000" + "9d012a"), le(w, 2), le(h, 2))
      // --- WebP / VP8L lossless: 0x2F + 14-bit w-1/h-1 packed LE
      val wm = w - 1; val hm = h - 1
      val b1 = pmod(wm, lit(256))
      val b2 = shiftright(wm, 8).bitwiseAND(lit(0x3fL))
        .bitwiseOR(shiftleft(hm.bitwiseAND(lit(0x3L)), 6))
      val b3 = pmod(shiftright(hm, 2), lit(256))
      val b4 = shiftright(hm, 10).bitwiseAND(lit(0x0fL))
      val vp8l = concat(
        lit(hx("RIFF")), le(lit(18L), 4), lit(hx("WEBP") + hx("VP8L")),
        le(lit(5L), 4), lit("2f"),
        le(b1, 1), le(b2, 1), le(b3, 1), le(b4, 1), lit("00")) // pad to even
      // --- WebP / VP8X animated: canvas w-1/h-1 u24le + n ANMF chunks
      val nAnim = lit(2L) + pmod(col("doc_id"), lit(3))
      val anmf = call_function("repeat",
        concat(lit(hx("ANMF")), le(lit(16L), 4), lit("00" * 16)),
        nAnim.cast("int"))
      val vp8x = concat(
        lit(hx("RIFF")), le(lit(22L) + nAnim * lit(24L), 4),
        lit(hx("WEBP") + hx("VP8X")), le(lit(10L), 4),
        lit("02" + "000000"), le(wm, 3), le(hm, 3), anmf)
      // --- PNG: IHDR(13) [+ acTL on even docs] + empty IDAT
      val nApng = lit(2L) + pmod(col("doc_id"), lit(5))
      val png = concat(
        lit("89504e470d0a1a0a" + "0000000d" + hx("IHDR")),
        be32(w), be32(h), lit("0806000000" + "00000000"),
        // %6=3 rows are all odd, so the APNG split keys on %4 (1 vs 3)
        when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("00000008" + hx("acTL")), be32(nApng),
            lit("00000000" + "00000000"))).otherwise(lit("")),
        lit("00000000" + hx("IDAT") + "00000000"))
      // --- JPEG: APP0 decoy then SOF0 (height BEFORE width, big-endian)
      val jpeg = concat(
        lit("ffd8" + "ffe0" + "0010" + "00" * 14 + "ffc0" + "0011" + "08"),
        be16(h), be16(w), lit("03" + "00" * 9))
      // --- GIF: screen descriptor + n image descriptors + trailer
      val nGif = lit(1L) + pmod(col("doc_id"), lit(3))
      val gifFrame = call_function("repeat",
        lit("2c" + "00" * 8 + "00" + "02" + "01aa" + "00"),
        nGif.cast("int"))
      val gif = concat(
        lit(hx("GIF89a")), le(w, 2), le(h, 2), lit("000000"),
        gifFrame, lit("3b"))
      // --- BMP: BITMAPINFOHEADER little-endian dims
      val bmp = concat(
        lit(hx("BM")), le(lit(54L), 4), lit("00000000"), le(lit(54L), 4),
        le(lit(40L), 4), le(w, 4), le(h, 4), lit("00" * 28))
      // --- AVIF (ISO-BMFF): ftyp (avis brand on even docs = animated
      // sequence) + meta fullbox / iprp / ipco with TWO ispe properties
      // — the 8×4 thumbnail's must lose to the primary's by max-area
      val ispe = concat(lit("00000014" + hx("ispe") + "00000000"),
        be32(w), be32(h))
      val ispeThumb = lit("00000014" + hx("ispe") + "00000000" +
        "00000008" + "00000004")
      val avif = concat(
        lit("00000010" + hx("ftyp")),
        when(pmod(col("doc_id"), lit(2)) === 0, lit(hx("avis")))
          .otherwise(lit(hx("avif"))),
        lit("00000000"),
        lit("00000044" + hx("meta") + "00000000" +
          "00000038" + hx("iprp") + "00000030" + hx("ipco")),
        ispe, ispeThumb)
      // --- ICO: two directory entries; the largest (w, h) wins, the
      // 4×4 variant rides along; entry data extents must fit
      val ico = concat(
        lit("00000100" + "0200"),
        le(w, 1), le(h, 1), lit("0000" + "0000" + "0000"),
        le(lit(4L), 4), le(lit(38L), 4),
        lit("0404" + "0000" + "0000" + "0000"),
        le(lit(4L), 4), le(lit(42L), 4),
        lit("00" * 8))
      // --- truncated WebP: declared chunk size overruns the capture
      val badWebp = concat(
        lit(hx("RIFF")), le(lit(100L), 4), lit(hx("WEBP") + hx("VP8 ")),
        le(lit(50L), 4), lit("00000000"))
      val payload = when(pmod(col("doc_id"), lit(13)) === 3, unhex(badWebp))
        .when(pmod(col("doc_id"), lit(17)) === 4, unhex(bmp))
        .when(pmod(col("doc_id"), lit(19)) === 7, unhex(avif))
        .when(pmod(col("doc_id"), lit(23)) === 8, unhex(ico))
        .otherwise(unhex(
          when(pmod(col("doc_id"), lit(6)) === 0, vp8)
            .when(pmod(col("doc_id"), lit(6)) === 1, vp8l)
            .when(pmod(col("doc_id"), lit(6)) === 2, vp8x)
            .when(pmod(col("doc_id"), lit(6)) === 3, png)
            .when(pmod(col("doc_id"), lit(6)) === 4, jpeg)
            .otherwise(gif)))
      val m = graft.functions.ImageMetaExpr.imageMeta(payload)
      Tables(s, dir, "documents")
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"),
          col("m.ok").as("img_ok"),
          col("m.format").as("format"),
          col("m.width").as("width"),
          col("m.height").as("height"),
          col("m.animated").as("animated"),
          col("m.n_frames").as("n_frames"))
        .orderBy("doc_id")
    }),

    // FLAC + WAV header metadata (r17 — completing the audio container
    // family beside mp3/ogg/mp4): even docs carry a REAL FLAC whose
    // STREAMINFO packs the 20-bit rate / 3-bit channels-1 / 5-bit
    // bps-1 / 36-bit total-samples fields with in-plan bit arithmetic;
    // odd docs a RIFF/WAVE whose data chunk is DECLARED but absent —
    // the WARC-truncated-capture contract: duration is the header's
    // claim (data size / byte rate), parsed without the payload.
    // Closed-form oracle; a truncated-block malformed leg quarantines.
    "q169_audio_headers" -> ((s, dir) => {
      def hx(t: String) =
        t.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          .map(b => f"$b%02x").mkString
      def le(c: Column, n: Int): Column = concat((0 until n).map(i =>
        lpad(lower(hex(pmod(shiftright(c, 8 * i), lit(256)))), 2, "0")): _*)
      def be(c: Column, n: Int): Column =
        lpad(lower(hex(c)), 2 * n, "0")
      val ch = lit(1L) + pmod(col("doc_id"), lit(3))
      // --- FLAC: rate 32/40/48k, 16-bit, total = rate × (1 + id%4) ---
      val fRate = lit(32000L) + pmod(col("doc_id"), lit(3)) * lit(8000L)
      val fTotal = fRate * (lit(1L) + pmod(col("doc_id"), lit(4)))
      val b10 = be(shiftright(fRate, 12), 1)
      val b11 = be(pmod(shiftright(fRate, 4), lit(256)), 1)
      val b12 = be(shiftleft(fRate.bitwiseAND(lit(0xfL)), 4)
        .bitwiseOR(shiftleft(ch - 1, 1)), 1)
      val flac = concat(
        lit(hx("fLaC") + "80" + "000022" + // last block, STREAMINFO, 34
          "1000" + "1000" + "000000" + "000000"),
        b10, b11, b12, lit("f0"), be(fTotal, 4), lit("00" * 16))
      // --- WAV: fmt + a data chunk declared but not present ---
      val wRate = lit(8000L) + pmod(col("doc_id"), lit(5)) * lit(8000L)
      val byteRate = wRate * ch * lit(2L)
      val dataSize = byteRate * (lit(1L) + pmod(col("doc_id"), lit(3)))
      val wavHex = concat(
        lit(hx("RIFF")), le(lit(36L), 4), lit(hx("WAVE") + hx("fmt ")),
        le(lit(16L), 4), le(lit(1L), 2), le(ch, 2), le(wRate, 4),
        le(byteRate, 4), le(ch * 2, 2), le(lit(16L), 2),
        lit(hx("data")), le(dataSize, 4))
      val payload = when(pmod(col("doc_id"), lit(13)) === 5,
          unhex(lit(hx("fLaC") + "00" + "000022" + "00000000")))
        .otherwise(unhex(
          when(pmod(col("doc_id"), lit(2)) === 0, flac).otherwise(wavHex)))
      val m = graft.functions.MediaHeaderExpr.audioMeta(payload)
      Tables(s, dir, "documents")
        .select(col("doc_id"), m.as("m"))
        .select(col("doc_id"),
          col("m.ok").as("audio_ok"),
          col("m.codec").as("codec"),
          col("m.channels").as("channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits_per_sample").as("bits_per_sample"),
          round(col("m.duration_sec"), 6).as("duration_sec"))
        .orderBy("doc_id")
    })
  )

  def oracles: Map[String, String] = Map(
    // every field in closed form from doc_id: the Spark side BUILDS the
    // container bytes from these same parameters and must parse them
    // back exactly (frame count 3 + doc_id%4 of 417-byte frames at
    // 1152 samples / 44100 Hz; mvhd duration (1000 + doc_id%7*500)
    // over timescale 1000; malformed legs → the quarantine row)
    "q159_media_headers" ->
      """SELECT doc_id,
        | (doc_id % 13 <> 3) AS mp4_ok,
        | round(CASE WHEN doc_id % 13 = 3 THEN 0.0
        |   WHEN doc_id % 17 = 4
        |     THEN (120 + 3 * (60 + (doc_id % 5) * 30)
        |           + 100 + (doc_id % 3) * 20 + 50) / 600.0
        |   ELSE (1000 + (doc_id % 7) * 500) / 1000.0 END, 6) AS mp4_duration_sec,
        | CAST(CASE WHEN doc_id % 13 = 3 THEN 0
        |   WHEN doc_id % 17 = 4 THEN 1
        |   WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS INT) AS mp4_tracks,
        | CASE WHEN doc_id % 13 = 3 THEN ''
        |   WHEN doc_id % 17 = 4 THEN 'avc1'
        |   WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'avc1,mp4a' END AS mp4_codecs,
        | (doc_id % 11 <> 7) AS mp3_ok,
        | CASE WHEN doc_id % 11 = 7 THEN '' ELSE 'MPEG1' END AS mp3_version,
        | CAST(CASE WHEN doc_id % 11 = 7 THEN 0 ELSE 3 END AS INT) AS mp3_layer,
        | CAST(CASE WHEN doc_id % 11 = 7 THEN 0 ELSE 128 END AS INT) AS mp3_bitrate_kbps,
        | CAST(CASE WHEN doc_id % 11 = 7 THEN 0 ELSE 44100 END AS INT) AS mp3_sample_rate,
        | CAST(CASE WHEN doc_id % 11 = 7 THEN 0 ELSE 3 + doc_id % 4 END AS INT) AS mp3_frames,
        | round(CASE WHEN doc_id % 11 = 7 THEN 0.0
        |   ELSE (3 + doc_id % 4) * 1152.0 / 44100 END, 6) AS mp3_duration_sec,
        | CAST(CASE WHEN doc_id % 11 = 7 THEN 0
        |   WHEN doc_id % 2 = 0 THEN 110 ELSE 0 END AS INT) AS mp3_id3_bytes
        | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // closed form from doc_id (the q159 convention): Vorbis duration =
    // granule/rate = 1.0 + (doc_id%5)·0.1; Opus = (granule−preskip)/48k
    // = 2.0 + (doc_id%3)·0.1; both sides round 6 dp so binary-inexact
    // 0.1 steps and the kernel's division agree
    // the chained (%17=4) and multiplexed (%19=6) legs keep the FIRST /
    // LOCKED stream's codec+duration (the foreign streams' huge granules
    // must never leak) and differ only in n_pages and the chained flag
    "q161_ogg_headers" ->
      """SELECT doc_id,
        | (doc_id % 13 <> 6) AS ogg_ok,
        | CASE WHEN doc_id % 13 = 6 THEN ''
        |   WHEN doc_id % 2 = 0 THEN 'vorbis' ELSE 'opus' END AS codec,
        | CAST(CASE WHEN doc_id % 13 = 6 THEN 0 ELSE 2 END AS INT) AS channels,
        | CAST(CASE WHEN doc_id % 13 = 6 THEN 0
        |   WHEN doc_id % 2 = 0 THEN 44100 ELSE 48000 END AS INT) AS sample_rate,
        | CAST(CASE WHEN doc_id % 13 = 6 THEN 0
        |   WHEN doc_id % 17 = 4 OR doc_id % 19 = 6 THEN 4
        |   ELSE 2 END AS INT) AS n_pages,
        | round(CAST(CASE WHEN doc_id % 13 = 6 THEN 0.0
        |   WHEN doc_id % 2 = 0 THEN 1.0 + (doc_id % 5) * 0.1
        |   ELSE 2.0 + (doc_id % 3) * 0.1 END AS DOUBLE), 6) AS duration_sec,
        | (doc_id % 13 <> 6 AND doc_id % 17 = 4) AS chained,
        | CAST(CASE WHEN doc_id % 13 = 6 THEN 0
        |   WHEN doc_id % 17 = 4 THEN 2 ELSE 1 END AS INT) AS n_streams,
        | round(CASE WHEN doc_id % 13 <> 6 AND doc_id % 17 = 4 THEN
        |     CASE WHEN doc_id % 2 = 0
        |       THEN (999999999 - 312) / 48000.0
        |       ELSE 999999999 / 44100.0 END
        |   ELSE NULL END, 6) AS dur2
        | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // closed form from doc_id (the q159 convention): dims w=16+id%9,
    // h=8+id%5 whatever the container; the format/animation/frame
    // fields depend only on the id%6 rotation and the override legs
    // (%13=3 truncated WebP → quarantine row; %17=4 BMP). The WebP VP8L
    // leg proves the packed 14-bit bit arithmetic inverts; the APNG leg
    // proves acTL-before-IDAT wins over the still-PNG default; the GIF
    // frame count proves the sub-block walk lands exactly.
    "q167_image_headers" ->
      """SELECT doc_id,
        | (doc_id % 13 <> 3) AS img_ok,
        | CASE WHEN doc_id % 13 = 3 THEN ''
        |   WHEN doc_id % 17 = 4 THEN 'bmp'
        |   WHEN doc_id % 19 = 7 THEN 'avif'
        |   WHEN doc_id % 23 = 8 THEN 'ico'
        |   WHEN doc_id % 6 IN (0, 1, 2) THEN 'webp'
        |   WHEN doc_id % 6 = 3 THEN 'png'
        |   WHEN doc_id % 6 = 4 THEN 'jpeg'
        |   ELSE 'gif' END AS format,
        | CAST(CASE WHEN doc_id % 13 = 3 THEN 0
        |   ELSE 16 + doc_id % 9 END AS INT) AS width,
        | CAST(CASE WHEN doc_id % 13 = 3 THEN 0
        |   ELSE 8 + doc_id % 5 END AS INT) AS height,
        | (doc_id % 13 <> 3 AND doc_id % 17 <> 4 AND
        |   ((doc_id % 19 = 7 AND doc_id % 2 = 0) OR
        |    (doc_id % 19 <> 7 AND doc_id % 23 <> 8 AND
        |     (doc_id % 6 = 2 OR (doc_id % 6 = 3 AND doc_id % 4 = 1) OR
        |      (doc_id % 6 = 5 AND doc_id % 3 > 0))))) AS animated,
        | CAST(CASE WHEN doc_id % 13 = 3 THEN 0
        |   WHEN doc_id % 17 = 4 THEN 1
        |   WHEN doc_id % 19 = 7 THEN
        |     CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END
        |   WHEN doc_id % 23 = 8 THEN 2
        |   WHEN doc_id % 6 = 2 THEN 2 + doc_id % 3
        |   WHEN doc_id % 6 = 3 AND doc_id % 4 = 1 THEN 2 + doc_id % 5
        |   WHEN doc_id % 6 = 5 THEN 1 + doc_id % 3
        |   ELSE 1 END AS INT) AS n_frames
        | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // closed form from doc_id: FLAC on even docs (rate 32/40/48k by
    // id%3, duration 1+id%4 whole seconds — total samples = rate×secs
    // makes the division exact), WAV on odd (rate 8–40k by id%5,
    // duration 1+id%3 from the DECLARED data size over the byte rate —
    // the payload is absent, pinning the header-claim contract);
    // channels 1+id%3 on both, 16-bit everywhere, %13=5 quarantines
    "q169_audio_headers" ->
      """SELECT doc_id,
        | (doc_id % 13 <> 5) AS audio_ok,
        | CASE WHEN doc_id % 13 = 5 THEN ''
        |   WHEN doc_id % 2 = 0 THEN 'flac' ELSE 'pcm' END AS codec,
        | CAST(CASE WHEN doc_id % 13 = 5 THEN 0
        |   ELSE 1 + doc_id % 3 END AS INT) AS channels,
        | CAST(CASE WHEN doc_id % 13 = 5 THEN 0
        |   WHEN doc_id % 2 = 0 THEN 32000 + (doc_id % 3) * 8000
        |   ELSE 8000 + (doc_id % 5) * 8000 END AS INT) AS sample_rate,
        | CAST(CASE WHEN doc_id % 13 = 5 THEN 0
        |   ELSE 16 END AS INT) AS bits_per_sample,
        | round(CAST(CASE WHEN doc_id % 13 = 5 THEN 0.0
        |   WHEN doc_id % 2 = 0 THEN 1 + doc_id % 4
        |   ELSE 1 + doc_id % 3 END AS DOUBLE), 6) AS duration_sec
        | FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q101_image_neardup" ->
      """WITH sel AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 7 = 3 AND doc_id % 13 <> 5)
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sel a JOIN sel b
        |   ON a.doc_id % 8 = b.doc_id % 8 AND a.doc_id < b.doc_id
        | ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " "),
    "q106_audio_neardup" ->
      """WITH sel AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 7 = 3 AND doc_id % 13 <> 5)
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM sel a JOIN sel b
        |   ON a.doc_id % 8 = b.doc_id % 8 AND a.doc_id < b.doc_id
        | ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " "),
    // Same-group videos match on all 4 rendered frames, so
    // matched_frames is exactly 4 for every emitted pair — the literal
    // is part of the check: an off-by-one in the frame count or a frame
    // failing to match breaks the hash compare.
    "q113_video_neardup" ->
      """WITH sel AS (
        |  SELECT doc_id FROM documents
        |  WHERE doc_id % 7 = 1 AND doc_id % 13 <> 5)
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |   CAST(4 AS BIGINT) AS matched_frames
        | FROM sel a JOIN sel b
        |   ON a.doc_id % 8 = b.doc_id % 8 AND a.doc_id < b.doc_id
        | ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " "),
    "q145_interleave" ->
      """WITH sc AS (
        | SELECT i.vec_id AS image_id, c.vec_id AS chunk_id,
        |  list_dot_product(CAST(i.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) /
        |  (sqrt(list_dot_product(CAST(i.embedding AS DOUBLE[]), CAST(i.embedding AS DOUBLE[]))) *
        |   sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))) AS cosine
        | FROM embeddings i JOIN embeddings c ON i.vec_id >= 50 AND c.vec_id < 50),
        | a AS (SELECT image_id, chunk_id, cosine FROM (
        |  SELECT image_id, chunk_id, cosine,
        |   row_number() OVER (PARTITION BY image_id ORDER BY cosine DESC, chunk_id) AS rn
        |  FROM sc) WHERE rn = 1)
        | SELECT chunk_id, count(*) AS n_images,
        |  string_agg(CAST(image_id AS VARCHAR), ',' ORDER BY cosine DESC, image_id) AS img_seq,
        |  round(avg(cosine), 6) AS mean_cosine
        | FROM a GROUP BY chunk_id ORDER BY chunk_id""".stripMargin
        .replaceAll("\n", " ")
  )
}
