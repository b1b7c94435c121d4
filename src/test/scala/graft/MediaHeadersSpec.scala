package graft

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.ISO_8859_1

import graft.functions.MediaHeaders

/** [[MediaHeaders]] kernels on hand-assembled containers: ISO-BMFF box
  * forms (32-bit, 64-bit `size==1`, mvhd v0/v1), codec extraction via
  * the trak descent, MP3 frame-hop arithmetic (CBR + VBR, padding),
  * ID3v2 skip, leading-junk sync scan, ID3v1 stop, and every
  * quarantine posture (truncation, overrun, missing boxes).
  */
class MediaHeadersSpec extends SparkSuite {

  // --- assembly helpers -------------------------------------------------
  private def u32(v: Long): Array[Byte] =
    ByteBuffer.allocate(4).putInt(v.toInt).array()
  private def u64(v: Long): Array[Byte] =
    ByteBuffer.allocate(8).putLong(v).array()
  private def fcc(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val p = payload.flatten.toArray
    u32(p.length + 8L) ++ fcc(typ) ++ p
  }
  /** The 64-bit `size==1` box form. */
  private def box64(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val p = payload.flatten.toArray
    u32(1L) ++ fcc(typ) ++ u64(p.length + 16L) ++ p
  }
  private def mvhdV0(timescale: Long, duration: Long): Array[Byte] =
    box("mvhd", u32(0), u32(0), u32(0), u32(timescale), u32(duration))
  private def mvhdV1(timescale: Long, duration: Long): Array[Byte] =
    box("mvhd", Array(1.toByte, 0, 0, 0), u64(0), u64(0), u32(timescale),
      u64(duration))
  private def trak(codec: String): Array[Byte] =
    box("trak", box("mdia", box("minf", box("stbl",
      box("stsd", u32(0), u32(1), u32(8), fcc(codec))))))
  private val ftyp = box("ftyp", fcc("isom"), u32(0))

  private def mp4(r: org.apache.spark.sql.catalyst.InternalRow) =
    (r.getBoolean(0), r.getDouble(1), r.getInt(2), r.getLong(3),
      r.getInt(4), r.getUTF8String(5).toString)
  private def mp3(r: org.apache.spark.sql.catalyst.InternalRow) =
    (r.getBoolean(0), r.getUTF8String(1).toString, r.getInt(2), r.getInt(3),
      r.getInt(4), r.getInt(5), r.getDouble(6), r.getInt(7))

  /** One MPEG1 Layer III frame: 0x90 = 128 kbps @ 44100, pad bit via
    * arg. frame length = 144·128000/44100 (+pad) = 417 (+pad).
    */
  private def l3Frame(pad: Boolean = false, brIdx: Int = 9): Array[Byte] = {
    val b2 = ((brIdx << 4) | (if (pad) 2 else 0)).toByte
    val br = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)(brIdx)
    val len = 144 * br * 1000 / 44100 + (if (pad) 1 else 0)
    Array(0xff.toByte, 0xfb.toByte, b2, 0.toByte) ++
      Array.fill(len - 4)(0.toByte)
  }
  private def id3v2(tagBytes: Int): Array[Byte] = {
    require(tagBytes < 128)
    fcc("ID3") ++ Array[Byte](4, 0, 0) ++
      Array[Byte](0, 0, 0, tagBytes.toByte) ++ Array.fill(tagBytes)(0.toByte)
  }

  // --- MP4 ---------------------------------------------------------------

  test("mp4: mvhd v0 duration, two tracks, codec fourccs in track order") {
    val b = ftyp ++ box("moov", mvhdV0(1000, 2500), trak("avc1"), trak("mp4a"))
    assert(mp4(MediaHeaders.mp4Meta(b)) ===
      ((true, 2.5, 1000, 2500L, 2, "avc1,mp4a")))
  }

  test("mp4: mvhd v1 (64-bit duration) and a 64-bit moov box size") {
    val b = ftyp ++ box64("moov", mvhdV1(90000, 450000), trak("hvc1"))
    assert(mp4(MediaHeaders.mp4Meta(b)) ===
      ((true, 5.0, 90000, 450000L, 1, "hvc1")))
  }

  test("mp4 quarantine: truncation, size overrun, missing moov/mvhd, zero timescale") {
    val good = ftyp ++ box("moov", mvhdV0(1000, 2500), trak("avc1"))
    // corrupt the moov SIZE to overrun the payload end
    val overrun = good.clone()
    overrun(ftyp.length + 3) = 0x7f.toByte
    for (bad <- Seq(
        good.dropRight(5),                       // truncated final box
        overrun,                                 // box size past the end
        ftyp,                                    // no moov at all
        ftyp ++ box("moov", trak("avc1")),       // moov without mvhd
        ftyp ++ box("moov", mvhdV0(0, 2500), trak("avc1")), // timescale 0
        Array[Byte](0, 0)))
      assert(mp4(MediaHeaders.mp4Meta(bad))._1 === false, bad.length.toString)
  }

  // --- MP3 ---------------------------------------------------------------

  test("mp3: CBR frame hop — count, duration, first-frame parameters") {
    val b = l3Frame() ++ l3Frame() ++ l3Frame() ++ l3Frame()
    val (ok, ver, layer, br, rate, n, dur, id3) = mp3(MediaHeaders.mp3Meta(b))
    assert((ok, ver, layer, br, rate, n, id3) ===
      ((true, "MPEG1", 3, 128, 44100, 4, 0)))
    assert(math.abs(dur - 4 * 1152.0 / 44100) < 1e-12)
  }

  test("mp3: VBR frames (mixed bitrate + padding) accumulate exact per-frame durations") {
    val b = l3Frame(brIdx = 9) ++ l3Frame(brIdx = 11, pad = true) ++
      l3Frame(brIdx = 5)
    val (ok, _, _, br, _, n, dur, _) = mp3(MediaHeaders.mp3Meta(b))
    assert(ok && n === 3 && br === 128) // first-frame bitrate reported
    assert(math.abs(dur - 3 * 1152.0 / 44100) < 1e-12)
  }

  test("mp3: ID3v2 skip, leading junk scan, ID3v1 stop, truncated final frame") {
    val frames = l3Frame() ++ l3Frame()
    // ID3v2 then frames
    val (ok1, _, _, _, _, n1, _, tag1) =
      mp3(MediaHeaders.mp3Meta(id3v2(57) ++ frames))
    assert(ok1 && n1 === 2 && tag1 === 67)
    // junk before the first sync still finds it (ripper posture)
    val (ok2, _, _, _, _, n2, _, _) =
      mp3(MediaHeaders.mp3Meta(Array[Byte](1, 2, 3, 4, 5) ++ frames))
    assert(ok2 && n2 === 2)
    // trailing ID3v1 'TAG' block terminates the hop cleanly
    val v1 = fcc("TAG") ++ Array.fill(125)(0.toByte)
    val (ok3, _, _, _, _, n3, _, _) =
      mp3(MediaHeaders.mp3Meta(frames ++ v1))
    assert(ok3 && n3 === 2)
    // a truncated final frame is not counted
    val (ok4, _, _, _, _, n4, _, _) =
      mp3(MediaHeaders.mp3Meta(frames ++ l3Frame().dropRight(10)))
    assert(ok4 && n4 === 2)
  }

  test("mp3 quarantine: no sync anywhere / reserved version bits") {
    assert(mp3(MediaHeaders.mp3Meta(Array[Byte](0x12, 0x34, 0x56)))._1 === false)
    // 0xE8 = sync tail + version RESERVED (01) + layer III: invalid
    val reserved = Array(0xff.toByte, 0xea.toByte, 0x90.toByte, 0.toByte) ++
      Array.fill(413)(0.toByte)
    assert(mp3(MediaHeaders.mp3Meta(reserved))._1 === false)
    // ID3v2-only payload (no frames): malformed but reports the tag size
    val r = mp3(MediaHeaders.mp3Meta(id3v2(20)))
    assert(r._1 === false && r._8 === 30)
  }

  // --- OGG ---------------------------------------------------------------

  private def leBytes(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * i)) & 0xff).toByte)
  private def oggPage(headerType: Int, granule: Long,
                      payload: Array[Byte], serial: Long = 0L): Array[Byte] = {
    require(payload.length < 255)
    fcc("OggS") ++ Array[Byte](0, headerType.toByte) ++ leBytes(granule, 8) ++
      leBytes(serial, 4) ++
      Array.fill(8)(0.toByte) ++ // seq + crc (not validated)
      Array[Byte](1, payload.length.toByte) ++ payload
  }
  private def vorbisId(channels: Int, rate: Int): Array[Byte] =
    Array[Byte](1) ++ fcc("vorbis") ++ leBytes(0, 4) ++
      Array(channels.toByte) ++ leBytes(rate.toLong, 4) ++
      Array.fill(12)(0.toByte) ++ Array[Byte](0xb8.toByte, 1)
  private def opusHead(channels: Int, preskip: Int): Array[Byte] =
    fcc("OpusHead") ++ Array[Byte](1, channels.toByte) ++
      leBytes(preskip.toLong, 2) ++ leBytes(48000L, 4) ++
      Array.fill(3)(0.toByte)
  private def ogg(r: org.apache.spark.sql.catalyst.InternalRow) =
    (r.getBoolean(0), r.getUTF8String(1).toString, r.getInt(2), r.getInt(3),
      r.getInt(4), r.getDouble(5))
  import graft.functions.MediaHeadersOgg

  test("ogg: vorbis pages — codec/channels/rate, duration from the last granule") {
    val b = oggPage(2, 0, vorbisId(2, 44100)) ++
      oggPage(0, 22050, Array.fill(10)(0.toByte)) ++
      oggPage(4, 88200, Array.fill(4)(0.toByte))
    assert(ogg(MediaHeadersOgg.oggMeta(b)) ===
      ((true, "vorbis", 2, 44100, 3, 2.0)))
  }

  test("ogg: opus pre-skip — duration on the 48 kHz granule clock; -1 granules skipped") {
    val b = oggPage(2, 0, opusHead(1, 312)) ++
      oggPage(0, -1L, Array.fill(6)(0.toByte)) ++ // continued page: no granule
      oggPage(4, 48312, Array.fill(4)(0.toByte))
    val (ok, codec, ch, rate, n, dur) = ogg(MediaHeadersOgg.oggMeta(b))
    assert((ok, codec, ch, rate, n) === ((true, "opus", 1, 48000, 3)))
    assert(math.abs(dur - 1.0) < 1e-12)
  }

  test("ogg: truncated final page and trailing junk both stop the walk cleanly") {
    val good = oggPage(2, 0, vorbisId(2, 8000)) ++
      oggPage(4, 16000, Array.fill(4)(0.toByte))
    val truncated = good.dropRight(3) // cuts the EOS payload
    val (ok1, _, _, _, n1, dur1) = ogg(MediaHeadersOgg.oggMeta(truncated))
    assert(ok1 && n1 === 1 && dur1 === 0.0) // only the BOS page completed
    val junkTail = good ++ Array[Byte](9, 9, 9)
    assert(ogg(MediaHeadersOgg.oggMeta(junkTail)) ===
      ((true, "vorbis", 2, 8000, 2, 2.0)))
  }

  // --- fragmented MP4 ----------------------------------------------------

  private def tkhd(trackId: Long): Array[Byte] =
    box("tkhd", u32(0), u32(0), u32(0), u32(trackId))
  private def mdhd(ts: Long): Array[Byte] =
    box("mdhd", u32(0), u32(0), u32(0), u32(ts))
  private def trakF(codec: String, trackId: Long, ts: Long): Array[Byte] =
    box("trak", tkhd(trackId), box("mdia", mdhd(ts), box("minf", box("stbl",
      box("stsd", u32(0), u32(1), u32(8), fcc(codec))))))
  private def mvex(trackId: Long, defDur: Long): Array[Byte] =
    box("mvex", box("trex", u32(0), u32(trackId), u32(1), u32(defDur),
      u32(0), u32(0)))
  private def tfhd(trackId: Long, defDur: Option[Long] = None): Array[Byte] =
    defDur match {
      case Some(d) => box("tfhd", u32(8), u32(trackId), u32(d))
      case None => box("tfhd", u32(0), u32(trackId))
    }
  private def tfdt(base: Long): Array[Byte] = box("tfdt", u32(0), u32(base))

  test("fragmented mp4: mvhd duration 0 estimates from moof/traf — per-sample trun, tfhd default, trex fallback, all on the mdhd clock") {
    val moov = box("moov", mvhdV0(1000, 0), trakF("avc1", 1, 600), mvex(1, 50))
    // moof1: per-sample durations (flag 0x100): 100 + 150 → end 250
    val moof1 = box("moof", box("traf", tfhd(1), tfdt(0),
      box("trun", u32(0x100), u32(2), u32(100), u32(150))))
    // moof2: tfhd default 75 × 4 samples (trun has only a data_offset)
    val moof2 = box("moof", box("traf", tfhd(1, Some(75L)), tfdt(250),
      box("trun", u32(1), u32(4), u32(0))))
    // moof3: neither trun nor tfhd carry durations → trex default 50 × 2
    val moof3 = box("moof", box("traf", tfhd(1), tfdt(550),
      box("trun", u32(0), u32(2))))
    val got = mp4(MediaHeaders.mp4Meta(ftyp ++ moov ++ moof1 ++ moof2 ++ moof3))
    assert(got === ((true, 650.0 / 600, 1000, 0L, 1, "avc1")))
  }

  test("fragmented mp4: malformed fragment boxes degrade to the parsed portion, never throw") {
    val moov = box("moov", mvhdV0(1000, 0), trakF("avc1", 1, 600), mvex(1, 50))
    // trun claims 1000 samples but carries none → contributes 0
    val short = box("moof", box("traf", tfhd(1), tfdt(300),
      box("trun", u32(0x100), u32(1000))))
    // tfhd too short for a track id → whole traf skipped
    val headless = box("moof", box("traf", box("tfhd", u32(0)), tfdt(900)))
    val got = mp4(MediaHeaders.mp4Meta(ftyp ++ moov ++ short ++ headless))
    assert(got === ((true, 300.0 / 600, 1000, 0L, 1, "avc1")))
  }

  test("mp4: an unsigned mvhd timescale above Int.MaxValue reads as malformed, not a negative column") {
    val b = ftyp ++ box("moov", mvhdV0(0x90000000L, 500), trak("avc1"))
    assert(mp4(MediaHeaders.mp4Meta(b))._1 === false)
  }

  // --- multi-stream OGG ----------------------------------------------------

  test("ogg: chained streams — first stream's codec+duration, chained flag, foreign granules never leak") {
    val b = oggPage(2, 0, vorbisId(2, 44100), serial = 7) ++
      oggPage(4, 88200, Array.fill(4)(0.toByte), serial = 7) ++
      oggPage(2, 0, opusHead(1, 312), serial = 9) ++
      oggPage(4, 999999999L, Array.fill(4)(0.toByte), serial = 9)
    val r = MediaHeadersOgg.oggMeta(b)
    assert(ogg(r) === ((true, "vorbis", 2, 44100, 4, 2.0)))
    assert(r.getBoolean(6) === true, "chained flag")
  }

  test("ogg: multiplexed skeleton-first — id header keyed on the BOS flag + serial lock, not page position") {
    val b = oggPage(2, 0, fcc("fishead"), serial = 1) ++ // unrecognized BOS
      oggPage(2, 0, vorbisId(2, 44100), serial = 2) ++
      oggPage(4, 44100, Array.fill(4)(0.toByte), serial = 2) ++
      oggPage(4, 888888888L, Array.fill(4)(0.toByte), serial = 1) // skel EOS
    val r = MediaHeadersOgg.oggMeta(b)
    assert(ogg(r) === ((true, "vorbis", 2, 44100, 4, 1.0)))
    assert(r.getBoolean(6) === false, "a multiplexed file is not chained")
  }

  test("ogg: stream_durations — one entry per recognized stream on its own codec clock") {
    // chained vorbis→opus: [first stream, second stream]
    val chainedB = oggPage(2, 0, vorbisId(2, 44100), serial = 7) ++
      oggPage(4, 88200, Array.fill(4)(0.toByte), serial = 7) ++
      oggPage(2, 0, opusHead(1, 312), serial = 9) ++
      oggPage(4, 48312 + 312, Array.fill(4)(0.toByte), serial = 9)
    val rc = MediaHeadersOgg.oggMeta(chainedB)
    val dursC = rc.getArray(7).toDoubleArray()
    assert(dursC.toSeq === Seq(2.0, (48312.0 + 312 - 312) / 48000))
    assert(dursC(0) === rc.getDouble(5), "element 0 equals duration_sec")
    // multiplexed skeleton: the unrecognized stream never registers
    val muxB = oggPage(2, 0, fcc("fishead"), serial = 1) ++
      oggPage(2, 0, vorbisId(2, 44100), serial = 2) ++
      oggPage(4, 44100, Array.fill(4)(0.toByte), serial = 2) ++
      oggPage(4, 888888888L, Array.fill(4)(0.toByte), serial = 1)
    assert(MediaHeadersOgg.oggMeta(muxB).getArray(7).toDoubleArray().toSeq
      === Seq(1.0))
    // genuinely multiplexed dual-codec (interleaved, no chaining): both
    // register in BOS order, primary stays the FIRST, chained stays false
    val dualB = oggPage(2, 0, opusHead(1, 0), serial = 3) ++
      oggPage(2, 0, vorbisId(2, 8000), serial = 4) ++
      oggPage(4, 96000, Array.fill(4)(0.toByte), serial = 3) ++
      oggPage(4, 16000, Array.fill(4)(0.toByte), serial = 4)
    val rd = MediaHeadersOgg.oggMeta(dualB)
    assert(ogg(rd) === ((true, "opus", 1, 48000, 4, 2.0)))
    assert(rd.getBoolean(6) === false)
    assert(rd.getArray(7).toDoubleArray().toSeq === Seq(2.0, 2.0))
  }

  test("fragmented mp4: the FULL trun flag battery (0xF05) — optional fields and the per-sample stride land exactly") {
    val moov = box("moov", mvhdV0(1000, 0), trakF("avc1", 1, 600), mvex(1, 50))
    // data_offset + first_sample_flags + per-sample duration/size/flags/cto
    val moof = box("moof", box("traf", tfhd(1), tfdt(0),
      box("trun", u32(0xF05), u32(2), u32(0), u32(0),
        u32(100), u32(4096), u32(0), u32(0),
        u32(150), u32(2048), u32(0), u32(0))))
    val got = mp4(MediaHeaders.mp4Meta(ftyp ++ moov ++ moof))
    assert(got === ((true, 250.0 / 600, 1000, 0L, 1, "avc1")))
    // duration+cto only (0x900): stride is 8, sizes/flags absent
    val moof2 = box("moof", box("traf", tfhd(1), tfdt(0),
      box("trun", u32(0x900), u32(2),
        u32(70), u32(0), u32(30), u32(0))))
    val got2 = mp4(MediaHeaders.mp4Meta(ftyp ++ moov ++ moof2))
    assert(got2 === ((true, 100.0 / 600, 1000, 0L, 1, "avc1")))
    // truncated per-sample rows degrade to the parsed portion, no throw
    val moofT = box("moof", box("traf", tfhd(1), tfdt(0),
      box("trun", u32(0xF05), u32(5), u32(0), u32(0),
        u32(100), u32(4096), u32(0), u32(0))))
    val gotT = mp4(MediaHeaders.mp4Meta(ftyp ++ moov ++ moofT))
    assert(gotT === ((true, 100.0 / 600, 1000, 0L, 1, "avc1")))
  }

  private def aud(r: org.apache.spark.sql.catalyst.InternalRow) =
    (r.getBoolean(0), r.getUTF8String(1).toString, r.getInt(2), r.getInt(3),
      r.getInt(4), r.getDouble(5))
  import graft.functions.MediaHeadersAudio

  private def streaminfo(rate: Int, ch: Int, bps: Int, total: Long,
                         last: Boolean = true): Array[Byte] = {
    val body = leBytes(0x1000, 2).reverse ++ leBytes(0x1000, 2).reverse ++
      new Array[Byte](6) ++
      Array[Byte](
        (rate >> 12).toByte, ((rate >> 4) & 0xff).toByte,
        (((rate & 0xf) << 4) | ((ch - 1) << 1) | ((bps - 1) >> 4)).toByte,
        ((((bps - 1) & 0xf) << 4) | ((total >> 32) & 0xf).toInt).toByte) ++
      Array.tabulate(4)(i => ((total >> (8 * (3 - i))) & 0xff).toByte) ++
      new Array[Byte](16)
    Array[Byte]((if (last) 0x80 else 0x00).toByte, 0, 0, body.length.toByte) ++ body
  }

  test("audio_meta FLAC: packed STREAMINFO fields unpack exactly, incl. >32-bit totals and a leading padding block") {
    val b = fcc("fLaC") ++ streaminfo(44100, 2, 16, 88200)
    assert(aud(MediaHeadersAudio.audioMeta(b)) ===
      ((true, "flac", 2, 44100, 16, 2.0)))
    // 36-bit total: 5 × 2^32 samples at 96 kHz
    val big = (5L << 32)
    val b2 = fcc("fLaC") ++ streaminfo(96000, 8, 24, big)
    val (ok, c, ch, r, bps, d) = aud(MediaHeadersAudio.audioMeta(b2))
    assert((ok, c, ch, r, bps) === ((true, "flac", 8, 96000, 24)))
    assert(math.abs(d - big.toDouble / 96000) < 1e-9)
    // STREAMINFO behind a padding block (type 1) still found
    val pad = Array[Byte](0x01, 0, 0, 4) ++ new Array[Byte](4)
    val b3 = fcc("fLaC") ++ pad ++ streaminfo(32000, 1, 16, 32000)
    assert(aud(MediaHeadersAudio.audioMeta(b3)) ===
      ((true, "flac", 1, 32000, 16, 1.0)))
    // total 0 = unknown duration, still ok
    assert(aud(MediaHeadersAudio.audioMeta(
      fcc("fLaC") ++ streaminfo(48000, 2, 16, 0))) ===
      ((true, "flac", 2, 48000, 16, 0.0)))
  }

  test("audio_meta WAV: duration is the data chunk's DECLARED claim; extra chunks skip; float format labels") {
    def le2(v: Int) = leBytes(v.toLong, 2)
    def le4(v: Long) = leBytes(v, 4)
    def wav(fmtCode: Int, ch: Int, rate: Int, dataSize: Long,
            extraChunk: Boolean = false, dataBytes: Int = 0): Array[Byte] = {
      val byteRate = rate.toLong * ch * 2
      val fmt = fcc("fmt ") ++ le4(16) ++ le2(fmtCode) ++ le2(ch) ++
        le4(rate.toLong) ++ le4(byteRate) ++ le2(ch * 2) ++ le2(16)
      val extra = if (extraChunk)
        fcc("LIST") ++ le4(4) ++ "INFO".getBytes(ISO_8859_1)
      else Array.emptyByteArray
      fcc("RIFF") ++ le4(36) ++ fcc("WAVE") ++ extra ++ fmt ++
        fcc("data") ++ le4(dataSize) ++ new Array[Byte](dataBytes)
    }
    // declared 4 seconds, payload ABSENT (WARC truncation): the claim
    assert(aud(MediaHeadersAudio.audioMeta(wav(1, 2, 44100, 44100L * 2 * 2 * 4)))
      === ((true, "pcm", 2, 44100, 16, 4.0)))
    // a LIST chunk before fmt; data present and word-padded
    assert(aud(MediaHeadersAudio.audioMeta(
      wav(1, 1, 8000, 16000, extraChunk = true, dataBytes = 16000)))
      === ((true, "pcm", 1, 8000, 16, 1.0)))
    // IEEE float format code labels as wav-3
    assert(aud(MediaHeadersAudio.audioMeta(wav(3, 2, 48000, 48000L * 2 * 2)))._2
      === "wav-3")
  }

  test("audio_meta quarantine: unknown magic, truncated STREAMINFO, zero-rate fmt, missing data") {
    assert(aud(MediaHeadersAudio.audioMeta("not audio at all".getBytes(ISO_8859_1)))._1 === false)
    // FLAC block header claims 34 bytes that are not there
    assert(aud(MediaHeadersAudio.audioMeta(
      fcc("fLaC") ++ Array[Byte](0x00, 0, 0, 34) ++ new Array[Byte](4)))._1 === false)
    // zero sample rate in STREAMINFO
    assert(aud(MediaHeadersAudio.audioMeta(
      fcc("fLaC") ++ streaminfo(0, 2, 16, 100)))._1 === false)
    // WAV with fmt but no data chunk
    def le2(v: Int) = leBytes(v.toLong, 2); def le4(v: Long) = leBytes(v, 4)
    val noData = fcc("RIFF") ++ le4(36) ++ fcc("WAVE") ++
      fcc("fmt ") ++ le4(16) ++ le2(1) ++ le2(2) ++ le4(44100) ++
      le4(176400) ++ le2(4) ++ le2(16)
    assert(aud(MediaHeadersAudio.audioMeta(noData))._1 === false)
    // fmt shorter than the PCM minimum
    val shortFmt = fcc("RIFF") ++ le4(36) ++ fcc("WAVE") ++
      fcc("fmt ") ++ le4(8) ++ new Array[Byte](8)
    assert(aud(MediaHeadersAudio.audioMeta(shortFmt))._1 === false)
  }

  test("ogg quarantine: no magic, unknown codec, zero rate") {
    assert(ogg(MediaHeadersOgg.oggMeta("Ogg".getBytes(ISO_8859_1)))._1 === false)
    val unknown = oggPage(2, 0, fcc("SomeCodecHeaderXYZ"))
    assert(ogg(MediaHeadersOgg.oggMeta(unknown))._1 === false)
    val zeroRate = oggPage(2, 0, vorbisId(2, 0))
    assert(ogg(MediaHeadersOgg.oggMeta(zeroRate))._1 === false)
  }

  test("expressions run inside whole-stage codegen over a binary column") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val b = ftyp ++ box("moov", mvhdV0(1000, 3000), trak("avc1"))
    val m = l3Frame() ++ l3Frame() ++ l3Frame()
    val df = Seq((1L, b, m)).toDF("id", "v", "a")
      .repartition(1) // break ConvertToLocalRelation: the kernel must run in codegen
      .select(col("id"),
        graft.functions.MediaHeaderExpr.mp4Meta(col("v")).as("m4"),
        graft.functions.MediaHeaderExpr.mp3Meta(col("a")).as("m3"))
      .select(col("m4.duration_sec"), col("m4.codecs"), col("m3.n_frames"))
    val row = df.collect().head // execute → AQE finalizes; codegen span visible below
    assert(df.queryExecution.executedPlan.toString.contains(") Project"),
      df.queryExecution.executedPlan.toString)
    assert(row.getDouble(0) === 3.0 && row.getString(1) === "avc1" &&
      row.getInt(2) === 3)
  }
}
