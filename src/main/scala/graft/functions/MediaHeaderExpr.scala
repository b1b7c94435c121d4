package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Container-HEADER metadata for MP4 and MP3 payloads — pure byte
  * parsing, no codec library: the ISO-BMFF box grammar and the MPEG
  * audio frame grammar are plain big-endian structures, so duration,
  * track/stream parameters and codec identity come out of a map-side
  * kernel even though pixel/sample DECODE (which does need codecs this
  * container lacks) stays behind [[graft.multimodal.Multimodal]]'s
  * clearly-marked fake. This shrinks the fake-fallback surface to the
  * decode step alone: a crawl pipeline can route/filter/deduplicate
  * media by REAL duration/bitrate/codec columns at any scale.
  *
  * `mp4_meta(binary)` — walks top-level ISO-BMFF boxes (32-bit,
  * 64-bit `size==1`, and to-end `size==0` forms), reads
  * `moov/mvhd` (version 0 and 1) for timescale+duration, counts
  * `trak` boxes, and descends `trak/mdia/minf/stbl/stsd` for each
  * track's first sample-entry fourcc (the codec id). Malformed input
  * (truncated box, overrunning size, missing moov/mvhd, zero
  * timescale) → `ok=false` with zeroed fields, never an error.
  *
  * `mp3_meta(binary)` — skips an ID3v2 tag (syncsafe size), scans to
  * the first valid frame sync, then hops frame to frame using the
  * header's bitrate/samplerate/padding tables (MPEG1 layers I-III,
  * MPEG2/2.5 layer III), accumulating an exact per-frame duration sum
  * (VBR-safe). Stops cleanly at a trailing ID3v1 `TAG` block or a
  * truncated final frame; `ok=false` when no valid frame exists.
  *
  * `ogg_meta(binary)` ([[MediaHeadersOgg]]) — walks OGG pages
  * (RFC 3533), reads the Vorbis identification header or OpusHead from
  * the BOS page, and derives the duration from the last page's granule
  * position (Opus granules run on the 48 kHz clock minus pre-skip).
  *
  * All run inside whole-stage codegen as a single static call.
  */
object MediaHeaders {

  val mp4Type: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("duration_sec", DoubleType, nullable = false),
    StructField("timescale", IntegerType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false),
    StructField("codecs", StringType, nullable = false)))

  val mp3Type: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("version", StringType, nullable = false),
    StructField("layer", IntegerType, nullable = false),
    StructField("bitrate_kbps", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("duration_sec", DoubleType, nullable = false),
    StructField("id3v2_bytes", IntegerType, nullable = false)))

  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def u64(b: Array[Byte], o: Int): Long =
    (u32(b, o) << 32) | u32(b, o + 4)

  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, StandardCharsets.ISO_8859_1)

  /** Walk the boxes in [start, end); `f(type, payloadStart, payloadEnd)`
    * per box. Returns false on any malformed framing (size below the
    * header, size overrunning `end`, trailing partial header) — the
    * strict posture: a truncated capture must read as malformed, not as
    * a shorter file.
    */
  private def walkBoxes(b: Array[Byte], start: Int, end: Int)(
      f: (String, Int, Int) => Unit): Boolean = {
    var o = start
    while (o + 8 <= end) {
      val sz0 = u32(b, o)
      var hdr = 8
      val size: Long =
        if (sz0 == 1L) {
          if (o + 16 > end) return false
          hdr = 16; u64(b, o + 8)
        } else if (sz0 == 0L) (end - o).toLong
        else sz0
      if (size < hdr || size > (end - o).toLong) return false
      f(fourcc(b, o + 4), o + hdr, o + size.toInt)
      o += size.toInt
    }
    o == end
  }

  /** First box of `typ` directly inside [start, end), as
    * (payloadStart, payloadEnd); -1s when absent or malformed.
    */
  private def findBox(b: Array[Byte], start: Int, end: Int,
                      typ: String): (Int, Int) = {
    var ps = -1; var pe = -1
    val clean = walkBoxes(b, start, end) { (t, s, e) =>
      if (t == typ && ps < 0) { ps = s; pe = e }
    }
    if (clean || ps >= 0) (ps, pe) else (-1, -1)
  }

  private val emptyMp4 =
    InternalRow(false, 0.0, 0, 0L, 0, UTF8String.fromString(""))

  def mp4Meta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 8) return emptyMp4.copy()
    var moovS = -1; var moovE = -1
    val clean = walkBoxes(b, 0, b.length) { (t, s, e) =>
      if (t == "moov" && moovS < 0) { moovS = s; moovE = e }
    }
    if (!clean || moovS < 0) return emptyMp4.copy()
    var timescale = 0L; var duration = 0L; var haveMvhd = false
    var nTracks = 0
    val codecs = new StringBuilder
    // per-track media timescale (trak/tkhd track_ID → trak/mdia/mdhd
    // timescale) — the clock fragment decode times run on
    val trackScale = scala.collection.mutable.Map[Long, Long]()
    val moovClean = walkBoxes(b, moovS, moovE) { (t, s, e) =>
      if (t == "mvhd" && !haveMvhd && e - s >= 4) {
        val v = b(s) & 0xff
        if (v == 0 && e - s >= 20) {
          timescale = u32(b, s + 12); duration = u32(b, s + 16)
          haveMvhd = true
        } else if (v == 1 && e - s >= 32) {
          timescale = u32(b, s + 20); duration = u64(b, s + 24)
          haveMvhd = true
        }
      } else if (t == "trak") {
        nTracks += 1
        // trak/tkhd → track_ID (v0: +12, v1: +20)
        var trackId = -1L
        val (tkS, tkE) = findBox(b, s, e, "tkhd")
        if (tkS >= 0 && tkE - tkS >= 4) {
          val v = b(tkS) & 0xff
          if (v == 0 && tkE - tkS >= 16) trackId = u32(b, tkS + 12)
          else if (v == 1 && tkE - tkS >= 24) trackId = u32(b, tkS + 20)
        }
        // trak/mdia/minf/stbl/stsd → first sample entry's fourcc
        val (mdS, mdE) = findBox(b, s, e, "mdia")
        val (mnS, mnE) = if (mdS >= 0) findBox(b, mdS, mdE, "minf") else (-1, -1)
        val (sbS, sbE) = if (mnS >= 0) findBox(b, mnS, mnE, "stbl") else (-1, -1)
        val (sdS, sdE) = if (sbS >= 0) findBox(b, sbS, sbE, "stsd") else (-1, -1)
        // stsd payload: 4 version/flags + 4 entry_count + first entry
        // header [size u32][format fourcc]
        if (sdS >= 0 && sdE - sdS >= 16 && u32(b, sdS + 4) > 0) {
          if (codecs.nonEmpty) codecs.append(',')
          codecs.append(fourcc(b, sdS + 12))
        }
        // trak/mdia/mdhd → media timescale (v0: +12, v1: +20)
        val (mhS, mhE) = if (mdS >= 0) findBox(b, mdS, mdE, "mdhd") else (-1, -1)
        if (trackId >= 0 && mhS >= 0 && mhE - mhS >= 4) {
          val v = b(mhS) & 0xff
          if (v == 0 && mhE - mhS >= 16) trackScale(trackId) = u32(b, mhS + 12)
          else if (v == 1 && mhE - mhS >= 24) trackScale(trackId) = u32(b, mhS + 20)
        }
      }
    }
    // an unsigned timescale above Int.MaxValue would wrap negative in
    // the INT output column — treat it as malformed like timescale <= 0
    // (no real mvhd ticks-per-second clock sits above 2^31)
    if (!moovClean || !haveMvhd || timescale <= 0L ||
      timescale > Int.MaxValue) return emptyMp4.copy()
    // FRAGMENTED MP4: an mvhd duration of 0 with moof fragments present
    // means the movie box carries no duration — estimate it from the
    // fragment run metadata: per traf, tfdt base decode time + the trun
    // sample-duration sum (per-sample durations when flag 0x100 is set,
    // else tfhd's default 0x8, else mvex/trex's track default), maxed
    // per track and converted on the TRACK's mdhd clock. Malformed
    // fragment boxes degrade to the portion parsed — duration is an
    // ESTIMATE here, never a correctness gate; `duration`/`timescale`
    // still report the mvhd values (0 / movie clock).
    var fragSec = 0.0
    if (duration == 0L) {
      // mvex/trex defaults: track_ID (+4) → default_sample_duration (+12)
      val trexDur = scala.collection.mutable.Map[Long, Long]()
      val (mxS, mxE) = findBox(b, moovS, moovE, "mvex")
      // trex payload: ver/flags, track_ID(+4), default_sample_
      // description_index(+8), default_sample_duration(+12), ...
      if (mxS >= 0) walkBoxes(b, mxS, mxE) { (t, s, e) =>
        if (t == "trex" && e - s >= 16)
          trexDur(u32(b, s + 4)) = u32(b, s + 12)
      }
      val trackEnd = scala.collection.mutable.Map[Long, Long]()
      walkBoxes(b, 0, b.length) { (t, mfS, mfE) =>
        if (t == "moof") walkBoxes(b, mfS, mfE) { (t2, tfS, tfE) =>
          if (t2 == "traf") {
            var trackId = -1L; var defDur = 0L
            var base = 0L; var runDur = 0L
            walkBoxes(b, tfS, tfE) { (t3, s, e) =>
              if (t3 == "tfhd" && e - s >= 8) {
                val flags = u32(b, s) & 0xffffffL
                trackId = u32(b, s + 4)
                // optional fields, in spec order, before the default
                var o2 = s + 8
                if ((flags & 0x1L) != 0) o2 += 8  // base_data_offset
                if ((flags & 0x2L) != 0) o2 += 4  // sample_description_index
                if ((flags & 0x8L) != 0 && o2 + 4 <= e) defDur = u32(b, o2)
                else defDur = trexDur.getOrElse(trackId, 0L)
              } else if (t3 == "tfdt" && e - s >= 8) {
                val v = b(s) & 0xff
                base = if (v == 1 && e - s >= 12) u64(b, s + 4) else u32(b, s + 4)
              } else if (t3 == "trun" && e - s >= 8) {
                val flags = u32(b, s) & 0xffffffL
                val n = u32(b, s + 4)
                var o2 = s + 8
                if ((flags & 0x1L) != 0) o2 += 4   // data_offset
                if ((flags & 0x4L) != 0) o2 += 4   // first_sample_flags
                if ((flags & 0x100L) != 0) {       // per-sample durations
                  var perSample = 4
                  if ((flags & 0x200L) != 0) perSample += 4
                  if ((flags & 0x400L) != 0) perSample += 4
                  if ((flags & 0x800L) != 0) perSample += 4
                  var i = 0L
                  while (i < n && o2 + 4 <= e) {
                    runDur += u32(b, o2); o2 += perSample; i += 1
                  }
                } else runDur += defDur * n
              }
            }
            if (trackId >= 0) {
              val end = base + runDur
              if (end > trackEnd.getOrElse(trackId, 0L))
                trackEnd(trackId) = end
            }
          }
        }
      }
      for ((tid, end) <- trackEnd) {
        val scale = trackScale.getOrElse(tid, timescale)
        if (scale > 0 && end.toDouble / scale > fragSec)
          fragSec = end.toDouble / scale
      }
    }
    InternalRow(true,
      if (duration == 0L) fragSec else duration.toDouble / timescale,
      timescale.toInt, duration, nTracks,
      UTF8String.fromString(codecs.toString))
  }

  // MPEG audio tables: bitrate (kbps) by [table][index 1..14], sample
  // rate by [versionId][index 0..2]
  private val brV1L1 = Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
  private val brV1L2 = Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
  private val brV1L3 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val brV2L3 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val rateV1 = Array(44100, 48000, 32000)
  private val rateV2 = Array(22050, 24000, 16000)
  private val rateV25 = Array(11025, 12000, 8000)

  /** Parsed frame: (frameBytes, samples, rate, bitrateKbps, versionStr,
    * layerNum); null when the 4 header bytes are not a valid frame
    * header this kernel supports (free-form bitrate included — its
    * frame length is undefined without parsing the next sync).
    */
  private def frameInfo(b: Array[Byte], o: Int):
      (Int, Int, Int, Int, String, Int) = {
    if (o + 4 > b.length) return null
    if ((b(o) & 0xff) != 0xff || (b(o + 1) & 0xe0) != 0xe0) return null
    val verId = (b(o + 1) >> 3) & 3   // 0=2.5, 1=reserved, 2=V2, 3=V1
    val layerId = (b(o + 1) >> 1) & 3 // 1=III, 2=II, 3=I, 0=reserved
    if (verId == 1 || layerId == 0) return null
    val brIdx = (b(o + 2) >> 4) & 0xf
    val rIdx = (b(o + 2) >> 2) & 3
    val pad = (b(o + 2) >> 1) & 1
    if (brIdx == 0 || brIdx == 15 || rIdx == 3) return null
    val layer = 4 - layerId // 1, 2, 3
    val v1 = verId == 3
    if (!v1 && layer != 3) return null // V2/V2.5 layer I/II unsupported
    val br = (if (v1) { if (layer == 1) brV1L1 else if (layer == 2) brV1L2 else brV1L3 }
              else brV2L3)(brIdx)
    val rate = (if (v1) rateV1 else if (verId == 2) rateV2 else rateV25)(rIdx)
    val (len, samples) =
      if (layer == 1) ((12 * br * 1000 / rate + pad) * 4, 384)
      else if (layer == 2) (144 * br * 1000 / rate + pad, 1152)
      else if (v1) (144 * br * 1000 / rate + pad, 1152)
      else (72 * br * 1000 / rate + pad, 576)
    val ver = if (v1) "MPEG1" else if (verId == 2) "MPEG2" else "MPEG2.5"
    (len, samples, rate, br, ver, layer)
  }

  private def emptyMp3(id3: Int) = InternalRow(false,
    UTF8String.fromString(""), 0, 0, 0, 0, 0.0, id3)

  def mp3Meta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return emptyMp3(0)
    var o = 0
    var id3 = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val sz = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      id3 = 10 + sz
      o = math.min(id3, b.length)
    }
    // scan to the first valid sync (rippers tolerate leading junk)
    var first: (Int, Int, Int, Int, String, Int) = null
    while (first == null && o + 4 <= b.length) {
      first = frameInfo(b, o)
      if (first == null) o += 1
    }
    if (first == null) return emptyMp3(id3)
    var n = 0
    var dur = 0.0
    var cur = first
    while (cur != null && o + cur._1 <= b.length) {
      n += 1
      dur += cur._2.toDouble / cur._3
      o += cur._1
      // clean terminators: end of payload, or a trailing ID3v1 block
      cur =
        if (o + 4 > b.length) null
        else if (o + 3 <= b.length && b(o) == 'T' && b(o + 1) == 'A' &&
          b(o + 2) == 'G') null
        else frameInfo(b, o) // junk after frames: stop counting
    }
    InternalRow(true, UTF8String.fromString(first._5), first._6, first._4,
      first._3, n, dur, id3)
  }
}

object MediaHeadersOgg {

  val oggType: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("n_pages", IntegerType, nullable = false),
    StructField("duration_sec", DoubleType, nullable = false),
    StructField("chained", BooleanType, nullable = false),
    StructField("stream_durations", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def u64le(b: Array[Byte], o: Int): Long =
    u32le(b, o) | (u32le(b, o + 4) << 32)
  private def matches(b: Array[Byte], o: Int, s: String): Boolean = {
    if (o + s.length > b.length) return false
    var i = 0
    while (i < s.length) { if (b(o + i) != s.charAt(i).toByte) return false; i += 1 }
    true
  }

  private def empty = InternalRow(false,
    org.apache.spark.unsafe.types.UTF8String.fromString(""), 0, 0, 0, 0.0,
    false,
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Double]))

  /** OGG container metadata — the page grammar (RFC 3533) plus the
    * Vorbis identification header / OpusHead parse: codec, channels,
    * rate, page count, and the DURATION from the last granule position
    * OF THE REPORTED STREAM (Vorbis granules are PCM samples at the
    * stream rate; Opus granules are always 48 kHz, less the pre-skip).
    *
    * Multi-stream scope: identification headers are keyed on the BOS
    * header-type flag (0x02) — NOT on page position — and the reported
    * stream is the FIRST BOS page carrying a recognized codec, locked
    * by its serial number. A multiplexed file whose leading BOS belongs
    * to a skeleton/secondary stream therefore still reports the codec
    * stream, and other logical streams' granules never leak into the
    * duration. A CHAINED file (a new BOS after the reported stream's
    * EOS page, RFC 3533 §4) reports the FIRST stream's codec/duration
    * and raises the `chained` flag; `n_pages` counts every page of the
    * whole physical stream. `stream_durations` (r17) reports ONE entry
    * per recognized logical stream in BOS order, each on its own codec
    * clock — element 0 equals `duration_sec`, and a chained file's
    * secondary streams are readable without a second parse. Truncated
    * pages / trailing junk stop the walk (the ripper posture shared
    * with [[MediaHeaders.mp3Meta]]); ok requires at least one complete
    * BOS page opening a recognized codec.
    */
  def oggMeta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 27) return empty
    var o = 0
    var nPages = 0
    var chained = false
    var stop = false
    // EVERY recognized logical stream registers, in BOS order — the
    // scalar fields report stream 0 (the locked-stream contract), and
    // `stream_durations` carries one entry per recognized stream on its
    // OWN codec clock (chained files get their secondary durations
    // without a second parse; unrecognized streams — skeleton — never
    // register, so foreign granules still cannot leak anywhere).
    val sSerial = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sCodec = scala.collection.mutable.ArrayBuffer.empty[String]
    val sChannels = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sRate = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sPreskip = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sGranule = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sEos = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    while (!stop && o + 27 <= b.length && matches(b, o, "OggS")) {
      val htype = b(o + 5) & 0xff
      val granule = u64le(b, o + 6)
      val serial = u32le(b, o + 14)
      val nsegs = b(o + 26) & 0xff
      if (o + 27 + nsegs > b.length) stop = true
      else {
        var plen = 0; var i = 0
        while (i < nsegs) { plen += b(o + 27 + i) & 0xff; i += 1 }
        val pstart = o + 27 + nsegs
        if (pstart + plen > b.length) stop = true
        else {
          nPages += 1
          if ((htype & 0x02) != 0) { // BOS: an id header may open here
            if (sEos.nonEmpty && sEos(0)) chained = true
            if (plen >= 16 && b(pstart) == 1 && matches(b, pstart + 1, "vorbis")) {
              sSerial += serial; sCodec += "vorbis"
              sChannels += (b(pstart + 11) & 0xff)
              sRate += u32le(b, pstart + 12).toInt
              sPreskip += 0; sGranule += -1L; sEos += false
            } else if (plen >= 19 && matches(b, pstart, "OpusHead")) {
              sSerial += serial; sCodec += "opus"
              sChannels += (b(pstart + 9) & 0xff)
              sRate += 48000 // Opus granule clock, whatever the input rate
              sPreskip += u16le(b, pstart + 10)
              sGranule += -1L; sEos += false
            } // unrecognized BOS (skeleton etc.): keep scanning
          }
          val si = sSerial.indexOf(serial)
          if (si >= 0) {
            if (granule != -1L && !sEos(si)) sGranule(si) = granule
            if ((htype & 0x04) != 0) sEos(si) = true
          }
          o = pstart + plen
        }
      }
    }
    if (nPages == 0 || sCodec.isEmpty || sRate(0) <= 0) return empty
    def durOf(i: Int): Double =
      if (sGranule(i) < 0) 0.0
      else if (sCodec(i) == "opus")
        math.max(0L, sGranule(i) - sPreskip(i)).toDouble / 48000.0
      else if (sRate(i) > 0) sGranule(i).toDouble / sRate(i)
      else 0.0
    InternalRow(true,
      org.apache.spark.unsafe.types.UTF8String.fromString(sCodec(0)),
      sChannels(0), sRate(0), nPages, durOf(0), chained,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.tabulate(sCodec.length)(durOf)))
  }
}

/** `audio_meta(payload)` — FLAC and WAV header metadata (r17),
  * completing the audio-container family beside mp3/ogg/mp4: codec,
  * channels, sample rate, bits per sample and duration from pure byte
  * walks, no codec library.
  *
  *  - **FLAC**: `fLaC` magic, then metadata blocks (1-byte
  *    last-flag|type + 24-bit BE length); STREAMINFO (type 0, length
  *    34) carries the packed 20-bit sample rate, 3-bit channels-1,
  *    5-bit bps-1 and 36-bit total-samples fields — duration =
  *    total/rate (total 0 = unknown → 0.0, still ok).
  *  - **WAV**: `RIFF…WAVE` chunk walk to `fmt ` (PCM fields) and
  *    `data`; duration = declared data size / byte rate. The data
  *    payload itself need not be present — a WARC-truncated capture
  *    still reports the header's claim (the mp3 ripper posture), but
  *    a malformed `fmt ` (zero rate/channels, size < 16) quarantines.
  *
  * Malformed → `ok=false` zeroed row, never an error.
  */
object MediaHeadersAudio {

  val audioType: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("codec", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("duration_sec", DoubleType, nullable = false)))

  private def empty = InternalRow(false,
    UTF8String.fromString(""), 0, 0, 0, 0.0)

  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def u24be(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 16) | ((b(o + 1) & 0xff) << 8) | (b(o + 2) & 0xff)

  def audioMeta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return empty
    if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')
      return flac(b)
    if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E')
      return wav(b)
    empty
  }

  private def flac(b: Array[Byte]): InternalRow = {
    var o = 4
    var last = false
    while (!last && o + 4 <= b.length) {
      val hdr = b(o) & 0xff
      last = (hdr & 0x80) != 0
      val typ = hdr & 0x7f
      val len = u24be(b, o + 1)
      val s = o + 4
      if (len > b.length - s) return empty // truncated block
      if (typ == 0) { // STREAMINFO
        if (len < 34) return empty
        val rate = ((b(s + 10) & 0xff) << 12) | ((b(s + 11) & 0xff) << 4) |
          ((b(s + 12) & 0xff) >> 4)
        val channels = ((b(s + 12) >> 1) & 0x07) + 1
        val bps = (((b(s + 12) & 0x01) << 4) | ((b(s + 13) & 0xff) >> 4)) + 1
        val total = ((b(s + 13) & 0x0fL) << 32) |
          ((b(s + 14) & 0xffL) << 24) | ((b(s + 15) & 0xffL) << 16) |
          ((b(s + 16) & 0xffL) << 8) | (b(s + 17) & 0xffL)
        if (rate <= 0) return empty
        return InternalRow(true, UTF8String.fromString("flac"),
          channels, rate, bps, total.toDouble / rate)
      }
      o = s + len
    }
    empty // no STREAMINFO before the last block / truncation
  }

  private def wav(b: Array[Byte]): InternalRow = {
    var o = 12
    var channels = 0; var rate = 0L; var byteRate = 0L; var bps = 0
    var fmtCode = -1
    var dataSize = -1L
    while (o + 8 <= b.length && (fmtCode < 0 || dataSize < 0)) {
      val id = new String(b, o, 4, StandardCharsets.ISO_8859_1)
      val len = u32le(b, o + 4)
      val s = o + 8
      if (id == "fmt ") {
        if (len < 16 || s + 16 > b.length) return empty
        fmtCode = u16le(b, s)
        channels = u16le(b, s + 2)
        rate = u32le(b, s + 4)
        byteRate = u32le(b, s + 8)
        bps = u16le(b, s + 14)
      } else if (id == "data") {
        dataSize = len // header claim; payload may be truncated away
      }
      // chunks are word-aligned; the data chunk may legally overrun a
      // truncated capture — advance past the DECLARED extent and let
      // the loop's bounds check end the walk
      o = s + ((len + 1L) & ~1L).toInt.max(0)
      if (o <= s && len > 0) return empty // overflow guard
    }
    if (fmtCode < 0 || dataSize < 0 || channels <= 0 || rate <= 0 ||
      byteRate <= 0) return empty
    InternalRow(true,
      UTF8String.fromString(if (fmtCode == 1) "pcm" else s"wav-$fmtCode"),
      channels, rate.toInt, bps, dataSize.toDouble / byteRate)
  }
}

case class AudioMetaExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("audio_meta(payload BINARY) expected")
  override def dataType: DataType = MediaHeadersAudio.audioType
  override def nullSafeEval(input: Any): Any =
    MediaHeadersAudio.audioMeta(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MediaHeadersAudio.audioMeta($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "audio_meta"
}

case class OggMetaExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("ogg_meta(payload BINARY) expected")
  override def dataType: DataType = MediaHeadersOgg.oggType
  override def nullSafeEval(input: Any): Any =
    MediaHeadersOgg.oggMeta(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MediaHeadersOgg.oggMeta($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "ogg_meta"
}

case class Mp4MetaExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("mp4_meta(payload BINARY) expected")
  override def dataType: DataType = MediaHeaders.mp4Type
  override def nullSafeEval(input: Any): Any =
    MediaHeaders.mp4Meta(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MediaHeaders.mp4Meta($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "mp4_meta"
}

case class Mp3MetaExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("mp3_meta(payload BINARY) expected")
  override def dataType: DataType = MediaHeaders.mp3Type
  override def nullSafeEval(input: Any): Any =
    MediaHeaders.mp3Meta(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MediaHeaders.mp3Meta($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "mp3_meta"
}

object MediaHeaderExpr {
  def mp4Meta(payload: Column): Column = call_function("mp4_meta", payload)
  def mp3Meta(payload: Column): Column = call_function("mp3_meta", payload)
  def oggMeta(payload: Column): Column = call_function("ogg_meta", payload)
  def audioMeta(payload: Column): Column = call_function("audio_meta", payload)
}
