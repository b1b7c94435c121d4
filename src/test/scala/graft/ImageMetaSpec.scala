package graft

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.functions._

import graft.functions.{ImageMeta, ImageMetaExpr}
import graft.multimodal.Multimodal

/** [[ImageMeta]] / `image_meta`: header-only dimensions/animation for
  * WebP (all three flavors), PNG/APNG, JPEG, GIF and BMP — the
  * JDK-encodable formats are CROSS-VALIDATED against real ImageIO
  * output (a genuine encoder, not our own constructor), WebP against
  * hand-assembled grammar vectors; the malformed battery pins the
  * strict quarantine posture (truncation reads as malformed, never as
  * a smaller image); and the MediaCodec integration shows WebP
  * dimensions going REAL while only pixel decode stays fake.
  */
class ImageMetaSpec extends SparkSuite {
  import spark.implicits._

  private def meta(b: Array[Byte]) = {
    val r = ImageMeta.imageMeta(b)
    (r.getBoolean(0), r.getUTF8String(1).toString, r.getInt(2), r.getInt(3),
      r.getBoolean(4), r.getInt(5))
  }

  private def encoded(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val out = new ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, out), s"ImageIO lacks $fmt")
    out.toByteArray
  }

  test("real ImageIO-encoded PNG/JPEG/GIF/BMP parse to their true dimensions") {
    assert(meta(encoded("png", 37, 21)) === ((true, "png", 37, 21, false, 1)))
    assert(meta(encoded("jpg", 64, 48)) === ((true, "jpeg", 64, 48, false, 1)))
    assert(meta(encoded("gif", 13, 9)) === ((true, "gif", 13, 9, false, 1)))
    assert(meta(encoded("bmp", 25, 17)) === ((true, "bmp", 25, 17, false, 1)))
  }

  // WebP grammar vectors (ImageIO cannot encode WebP; these are the
  // container spec's own byte layout)
  private def le(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * i)) & 0xff).toByte)

  private def cc(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  private def riff(chunks: Array[Byte]): Array[Byte] =
    cc("RIFF") ++ le(4 + chunks.length, 4) ++ cc("WEBP") ++ chunks

  test("WebP VP8 (lossy): keyframe start code + 14-bit LE dimensions") {
    val payload = Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a) ++
      le(320, 2) ++ le(240, 2)
    val b = riff(cc("VP8 ") ++ le(payload.length, 4) ++ payload)
    assert(meta(b) === ((true, "webp", 320, 240, false, 1)))
    // upper 2 bits of the 16-bit fields are scaling hints, masked off
    val scaled = Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a) ++
      le(320 | 0xc000, 2) ++ le(240 | 0x4000, 2)
    assert(meta(riff(cc("VP8 ") ++ le(scaled.length, 4) ++ scaled))
      === ((true, "webp", 320, 240, false, 1)))
  }

  test("WebP VP8L (lossless): 0x2F signature + packed 14-bit fields") {
    def vp8l(w: Int, h: Int): Array[Byte] = {
      val wm = w - 1; val hm = h - 1
      val p = Array[Byte](0x2f,
        (wm & 0xff).toByte,
        (((wm >> 8) & 0x3f) | ((hm & 0x3) << 6)).toByte,
        ((hm >> 2) & 0xff).toByte,
        ((hm >> 10) & 0x0f).toByte)
      riff(cc("VP8L") ++ le(p.length, 4) ++ p ++ Array[Byte](0)) // even pad
    }
    assert(meta(vp8l(1, 1)) === ((true, "webp", 1, 1, false, 1)))
    assert(meta(vp8l(16383, 16383)) ===
      ((true, "webp", 16383, 16383, false, 1)))
    assert(meta(vp8l(1920, 1080)) === ((true, "webp", 1920, 1080, false, 1)))
  }

  test("WebP VP8X: canvas dims, animation flag, ANMF frame count") {
    def vp8x(w: Int, h: Int, anim: Boolean, frames: Int): Array[Byte] = {
      val head = Array[Byte]((if (anim) 0x02 else 0x00).toByte, 0, 0, 0) ++
        le(w - 1L, 3) ++ le(h - 1L, 3)
      val anmf = Array.fill(frames)(
        cc("ANMF") ++ le(16, 4) ++ new Array[Byte](16)).flatten
      riff(cc("VP8X") ++ le(head.length, 4) ++ head ++ anmf)
    }
    assert(meta(vp8x(800, 600, anim = false, 0)) ===
      ((true, "webp", 800, 600, false, 1)))
    assert(meta(vp8x(100, 50, anim = true, 3)) ===
      ((true, "webp", 100, 50, true, 3)))
    // ANIM flag with no ANMF chunk: malformed, not a 0-frame animation
    assert(meta(vp8x(100, 50, anim = true, 0))._1 === false)
  }

  test("APNG: acTL before IDAT animates; a still PNG stays frames=1") {
    val still = encoded("png", 10, 10)
    assert(meta(still) === ((true, "png", 10, 10, false, 1)))
    // splice an acTL chunk right after IHDR (offset 8 + 8+13+4 = 33)
    def be32(v: Long): Array[Byte] =
      Array.tabulate(4)(i => ((v >> (8 * (3 - i))) & 0xff).toByte)
    val acTL = be32(8) ++ cc("acTL") ++ be32(7) ++ be32(0) ++ be32(0)
    val apng = still.take(33) ++ acTL ++ still.drop(33)
    assert(meta(apng) === ((true, "png", 10, 10, true, 7)))
  }

  test("animated GIF: image descriptors counted through extension sub-blocks") {
    val frame = Array[Byte](0x2c) ++ new Array[Byte](8) ++
      Array[Byte](0, 2, 1, 0xaa.toByte, 0)
    val gce = Array[Byte](0x21, 0xf9.toByte, 4, 0, 0, 0, 0, 0) // GCE ext
    val gif = cc("GIF89a") ++ le(40, 2) ++ le(30, 2) ++
      Array[Byte](0, 0, 0) ++
      gce ++ frame ++ gce ++ frame ++ frame ++ Array[Byte](0x3b)
    assert(meta(gif) === ((true, "gif", 40, 30, true, 3)))
  }

  private def be(v: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((v >> (8 * (n - 1 - i))) & 0xff).toByte)

  private def bmffBox(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val p = payload.flatten.toArray
    be(8 + p.length, 4) ++ cc(typ) ++ p
  }

  test("AVIF/HEIC: brand from ftyp, dims from the MAX-AREA ispe, sequence brands animate") {
    def ispe(w: Long, h: Long) =
      bmffBox("ispe", be(0, 4), be(w, 4), be(h, 4))
    def f(major: String, compat: Seq[String], ispes: Array[Byte]*) =
      bmffBox("ftyp", cc(major), be(0, 4), compat.flatMap(cc(_)).toArray) ++
        bmffBox("meta", be(0, 4),
          bmffBox("iprp", bmffBox("ipco", ispes.flatten.toArray)))
    // still AVIF: primary 1200×800 beats the 160×90 thumbnail
    assert(meta(f("avif", Nil, ispe(160, 90), ispe(1200, 800))) ===
      ((true, "avif", 1200, 800, false, 1)))
    // animated sequence: frame count lives in the track table → 0
    assert(meta(f("avis", Nil, ispe(640, 360))) ===
      ((true, "avif", 640, 360, true, 0)))
    // HEIC major; and an mif1 major resolving through the compat list
    assert(meta(f("heic", Nil, ispe(4032, 3024))) ===
      ((true, "heic", 4032, 3024, false, 1)))
    assert(meta(f("mif1", Seq("miaf", "avif"), ispe(32, 16))) ===
      ((true, "avif", 32, 16, false, 1)))
    // unknown brand set: not an image container we know
    assert(meta(f("mp41", Nil, ispe(10, 10)))._1 === false)
    // no ispe anywhere: malformed (dims are the point)
    assert(meta(f("avif", Nil))._1 === false)
    // a child box overrunning meta: malformed, not a smaller answer
    val broken = bmffBox("ftyp", cc("avif"), be(0, 4)) ++
      bmffBox("meta", be(0, 4), be(64, 4) ++ cc("iprp"))
    assert(meta(broken)._1 === false)
  }

  test("ICO: largest directory entry wins, 0 size byte means 256, extents validated") {
    def entry(w: Int, h: Int, size: Long, off: Long) =
      Array[Byte](w.toByte, h.toByte, 0, 0, 0, 0, 0, 0) ++
        le(size, 4) ++ le(off, 4)
    val ico = Array[Byte](0, 0, 1, 0, 2, 0) ++
      entry(16, 16, 4, 38) ++ entry(0, 0, 4, 42) ++ new Array[Byte](8)
    // the 0-byte entry is 256×256 — the largest
    assert(meta(ico) === ((true, "ico", 256, 256, false, 2)))
    // an entry whose data extent overruns the capture: malformed
    val bad = Array[Byte](0, 0, 1, 0, 1, 0) ++ entry(16, 16, 400, 22)
    assert(meta(bad)._1 === false)
    // cursor type (2) is not an icon
    assert(meta(Array[Byte](0, 0, 2, 0, 1, 0) ++ entry(4, 4, 4, 22)
      ++ new Array[Byte](4))._1 === false)
  }

  test("malformed battery: truncation and overruns read as malformed, never as smaller images") {
    // truncated PNG: cut before IDAT
    val png = encoded("png", 10, 10)
    assert(meta(png.take(33))._1 === false)
    // PNG chunk length overrunning the buffer
    assert(meta(png.take(20))._1 === false)
    // JPEG cut before its SOF marker
    val jpg = encoded("jpg", 10, 10)
    val sof = jpg.indexOfSlice(Array(0xff.toByte, 0xc0.toByte))
    assert(sof > 0 && meta(jpg.take(sof + 3))._1 === false)
    // GIF missing its trailer
    val gif = encoded("gif", 10, 10)
    assert(meta(gif.dropRight(1))._1 === false)
    // WebP: declared chunk size overruns the capture
    assert(meta(riff(cc("VP8 ") ++ le(50, 4) ++ new Array[Byte](4)))._1 === false)
    // WebP VP8 without the keyframe start code
    assert(meta(riff(cc("VP8 ") ++ le(10, 4) ++ new Array[Byte](10)))._1 === false)
    // unknown first chunk
    assert(meta(riff(cc("XXXX") ++ le(4, 4) ++ new Array[Byte](4)))._1 === false)
    // not an image at all / too short / empty
    assert(meta("plain text, no magic".getBytes)._1 === false)
    assert(meta(Array[Byte](0x89.toByte))._1 === false)
    assert(meta(Array.emptyByteArray)._1 === false)
    // zero dimension: ok=false even with clean framing (GIF 0×h screen)
    val zgif = cc("GIF89a") ++ le(0, 2) ++ le(30, 2) ++ Array[Byte](0, 0, 0) ++
      Array[Byte](0x2c) ++ new Array[Byte](8) ++
      Array[Byte](0, 2, 1, 0xaa.toByte, 0) ++ Array[Byte](0x3b)
    assert(meta(zgif)._1 === false)
  }

  test("expression: codegen plan, null-safe, struct fields project") {
    val vp8 = riff(cc("VP8 ") ++ le(10, 4) ++
      (Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a) ++ le(33, 2) ++ le(44, 2)))
    val df = Seq((1L, vp8), (2L, "junk".getBytes),
        (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
      .select(col("id"), ImageMetaExpr.imageMeta(col("payload")).as("m"))
      .select(col("id"), col("m.ok"), col("m.format"), col("m.width"))
      .as[(Long, Option[Boolean], Option[String], Option[Int])]
    assert(df.collect().sortBy(_._1) === Array(
      (1L, Some(true), Some("webp"), Some(33)),
      (2L, Some(false), Some(""), Some(0)),
      (3L, None, None, None)))
    val plan = spark.range(2)
      .select(ImageMetaExpr.imageMeta(encode(col("id").cast("string"), "UTF-8")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("MediaCodec: WebP dimensions go REAL via the header kernel; only pixel decode stays fake") {
    val vp8 = riff(cc("VP8 ") ++ le(10, 4) ++
      (Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a) ++ le(640, 2) ++ le(360, 2)))
    val d = Multimodal.MediaCodec.decode(vp8)
    assert(!d.decoded && d.width === 640 && d.height === 360)
    // a headerless payload still takes the full deterministic fake
    val junk = "no image header here".getBytes
    val f = Multimodal.MediaCodec.decode(junk)
    assert(!f.decoded && f.width >= 64 && f.height >= 64)
    // and a JDK-decodable format still decodes for real
    val png = encoded("png", 12, 7)
    val r = Multimodal.MediaCodec.decode(png)
    assert(r.decoded && r.width === 12 && r.height === 7)
  }
}
