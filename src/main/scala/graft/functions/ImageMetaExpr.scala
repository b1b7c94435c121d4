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

/** `image_meta(payload BINARY)` — image-container HEADER metadata from
  * a pure byte walk, the image sibling of [[MediaHeaders]]' MP4/MP3/OGG
  * kernels: format identity, pixel dimensions, animation flag and frame
  * count WITHOUT any decode attempt. WebP first — the most common image
  * format on the modern web and exactly the one `javax.imageio` cannot
  * read, so before this kernel it fell through to
  * [[graft.multimodal.Multimodal]]'s clearly-marked fake — plus
  * PNG/APNG, JPEG, GIF and BMP from the same walk, so routing /
  * filtering / per-format stats never pay an ImageIO decode and the
  * fake surface shrinks to pixel DECODE alone.
  *
  * Formats and their load-bearing grammar:
  *
  *  - **WebP** (RIFF): `RIFF <size> WEBP` then even-padded chunks.
  *    `VP8 ` (lossy) dims come from the keyframe start code `9D 01 2A`
  *    + 14-bit LE fields; `VP8L` (lossless) from the `2F` signature +
  *    packed 14-bit fields; `VP8X` (extended) from the 24-bit canvas
  *    fields, with the animation flag (bit 1) and an `ANMF` chunk count
  *    as the frame count.
  *  - **PNG / APNG**: IHDR big-endian dims; an `acTL` chunk before
  *    `IDAT` marks animation and carries the frame count (the APNG
  *    grammar requires it before `IDAT`, so the walk stops there).
  *  - **JPEG**: segment walk to the first SOFn marker (C0–CF minus
  *    DHT/JPG/DAC), big-endian height then width.
  *  - **GIF**: LE dims from the logical screen descriptor, then a full
  *    block walk (extensions' sub-blocks, local color tables) counting
  *    image descriptors — `animated` = more than one, exactly what a
  *    crawl filter needs to split stickers from photos.
  *  - **BMP**: `BM` + BITMAPINFOHEADER (or the ancient CORE header) LE
  *    dims; top-down bitmaps (negative height) report |height|.
  *  - **AVIF / HEIC** (ISO-BMFF): brand from `ftyp`, dimensions from
  *    the max-area `meta/iprp/ipco/ispe` property (thumbnails and
  *    alpha items carry their own); sequence brands flag `animated`.
  *  - **ICO** (favicons — ubiquitous in crawls): largest directory
  *    entry's dims (0 size byte = 256), entry count as `n_frames`.
  *
  * Malformed posture (the [[MediaHeaders]] contract): unrecognized
  * magic, truncated or overrunning framing, a zero dimension — all
  * yield `ok=false` with zeroed fields and empty format, never an
  * error; a truncated capture reads as malformed, not as a smaller
  * image. Map-side, single static call inside whole-stage codegen.
  */
object ImageMeta {

  val imageType: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("animated", BooleanType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false)))

  private val empty: InternalRow =
    InternalRow(false, UTF8String.fromString(""), 0, 0, false, 0)

  private def row(format: String, w: Int, h: Int,
                  animated: Boolean, frames: Int): InternalRow =
    if (w <= 0 || h <= 0) empty
    else InternalRow(true, UTF8String.fromString(format), w, h,
      animated, frames)

  private def u16be(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  private def u32be(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def u24le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16)

  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def i32le(b: Array[Byte], o: Int): Int = u32le(b, o).toInt

  private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, StandardCharsets.ISO_8859_1)

  def imageMeta(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 4) return empty
    if (b.length >= 12 && fourcc(b, 0) == "RIFF" && fourcc(b, 8) == "WEBP")
      return webp(b)
    if (b.length >= 8 && u32be(b, 0) == 0x89504e47L && u32be(b, 4) == 0x0d0a1a0aL)
      return png(b)
    if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8)
      return jpeg(b)
    if (b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      return gif(b)
    if (b(0) == 'B' && b(1) == 'M')
      return bmp(b)
    if (b.length >= 12 && fourcc(b, 4) == "ftyp")
      return isoBmff(b)
    if (b.length >= 6 && b(0) == 0 && b(1) == 0 && b(2) == 1 && b(3) == 0)
      return ico(b)
    empty
  }

  /** ISO-BMFF image brands — AVIF/HEIC (r17): the [[MediaHeaders]] box
    * grammar applied to still images. Brand from ftyp (major, falling
    * back to the compatible list for `mif1`-major files); dimensions
    * from `meta/iprp/ipco`'s `ispe` property boxes — the MAX-area one,
    * since thumbnails and alpha items carry their own ispe. `meta` is a
    * FULLBOX (4 version/flags bytes before its children — the classic
    * off-by-four of this walk). An `avis`/`hevs` sequence brand sets
    * `animated` with n_frames 0: the frame count lives in the track
    * sample table, out of header-walk scope — documented, not guessed.
    */
  private def isoBmff(b: Array[Byte]): InternalRow = {
    var o = 0
    val len = b.length
    // walk top-level boxes: 32-bit sizes only (image files in practice;
    // size==0 means to-end per the spec)
    def boxSize(at: Int): Long = {
      val s = u32be(b, at)
      if (s == 0L) (len - at).toLong else s
    }
    if (boxSize(0) < 16) return empty
    val ftypEnd = math.min(boxSize(0), (len - 0).toLong).toInt
    val major = fourcc(b, 8)
    var brand = major match {
      case "avif" | "avis" => "avif"
      case "heic" | "heix" | "hevc" | "hevx" | "hevs" => "heic"
      case _ => ""
    }
    if (brand.isEmpty) {
      // mif1/msf1 majors: scan the compatible-brand list
      var p = 16
      while (brand.isEmpty && p + 4 <= ftypEnd) {
        fourcc(b, p) match {
          case "avif" | "avis" => brand = "avif"
          case "heic" | "heix" | "hevc" | "hevx" => brand = "heic"
          case _ => ()
        }
        p += 4
      }
    }
    if (brand.isEmpty) return empty
    val animated = major == "avis" || major == "hevs"
    // find meta (fullbox), then iprp, then ipco, then the max-area ispe
    var w = 0; var h = 0
    def walk(start: Int, end: Int)(f: (String, Int, Int) => Unit): Boolean = {
      var p = start
      while (p + 8 <= end) {
        val sz = boxSize(p)
        if (sz < 8 || sz > end - p) return false
        f(fourcc(b, p + 4), p + 8, p + sz.toInt)
        p += sz.toInt
      }
      p == end
    }
    var ok = true
    val topClean = walk(0, len) { (t, s, e) =>
      if (t == "meta" && e - s >= 4) {
        // fullbox: children start after the 4 version/flags bytes
        val metaClean = walk(s + 4, e) { (t2, s2, e2) =>
          if (t2 == "iprp") {
            val iprpClean = walk(s2, e2) { (t3, s3, e3) =>
              if (t3 == "ipco") {
                val ipcoClean = walk(s3, e3) { (t4, s4, e4) =>
                  if (t4 == "ispe" && e4 - s4 >= 12) {
                    val iw = u32be(b, s4 + 4).toInt
                    val ih = u32be(b, s4 + 8).toInt
                    if (iw.toLong * ih > w.toLong * h) { w = iw; h = ih }
                  }
                }
                if (!ipcoClean) ok = false
              }
            }
            if (!iprpClean) ok = false
          }
        }
        if (!metaClean) ok = false
      }
    }
    if (!topClean || !ok) return empty
    row(brand, w, h, animated,
      frames = if (animated) 0 else 1)
  }

  /** ICO (favicon — ubiquitous in any web crawl): LE directory of
    * sub-images; dimensions report the LARGEST entry (a 0 size byte
    * means 256, the format's famous quirk), `n_frames` the directory
    * entry count (resolution variants, not animation). Strict: the
    * directory and every entry's declared data extent must fit the
    * capture.
    */
  private def ico(b: Array[Byte]): InternalRow = {
    val count = u16le(b, 4)
    if (count <= 0 || 6 + 16 * count > b.length) return empty
    var w = 0; var h = 0
    var i = 0
    while (i < count) {
      val e = 6 + 16 * i
      val ew = if ((b(e) & 0xff) == 0) 256 else b(e) & 0xff
      val eh = if ((b(e + 1) & 0xff) == 0) 256 else b(e + 1) & 0xff
      val size = u32le(b, e + 8)
      val off = u32le(b, e + 12)
      if (off < 6 + 16L * count || off + size > b.length) return empty
      if (ew.toLong * eh > w.toLong * h) { w = ew; h = eh }
      i += 1
    }
    row("ico", w, h, animated = false, frames = count)
  }

  /** RIFF/WebP: the first chunk decides the flavor; size fields must
    * frame cleanly inside min(file, RIFF-declared extent).
    */
  private def webp(b: Array[Byte]): InternalRow = {
    val declared = 8L + u32le(b, 4)
    val end = math.min(b.length.toLong, declared).toInt
    var o = 12
    if (o + 8 > end) return empty
    val first = fourcc(b, o)
    val firstSize = u32le(b, o + 4)
    val p = o + 8 // first chunk payload
    if (firstSize > end - p) return empty // overrun: truncated capture
    first match {
      case "VP8 " =>
        // keyframe: 3-byte frame tag, start code 9D 01 2A, 14-bit dims
        if (firstSize < 10 || (b(p + 3) & 0xff) != 0x9d ||
            (b(p + 4) & 0xff) != 0x01 || (b(p + 5) & 0xff) != 0x2a) return empty
        row("webp", u16le(b, p + 6) & 0x3fff, u16le(b, p + 8) & 0x3fff,
          animated = false, frames = 1)
      case "VP8L" =>
        if (firstSize < 5 || (b(p) & 0xff) != 0x2f) return empty
        val b1 = b(p + 1) & 0xff; val b2 = b(p + 2) & 0xff
        val b3 = b(p + 3) & 0xff; val b4 = b(p + 4) & 0xff
        val w = 1 + (((b2 & 0x3f) << 8) | b1)
        val h = 1 + (((b4 & 0x0f) << 10) | (b3 << 2) | (b2 >> 6))
        row("webp", w, h, animated = false, frames = 1)
      case "VP8X" =>
        if (firstSize < 10) return empty
        val flags = b(p) & 0xff
        val animated = (flags & 0x02) != 0
        val w = 1 + u24le(b, p + 4)
        val h = 1 + u24le(b, p + 7)
        if (!animated) return row("webp", w, h, animated = false, frames = 1)
        // count ANMF chunks; the walk must frame cleanly to the end
        var frames = 0
        o = p + ((firstSize + 1) & ~1L).toInt
        while (o < end) {
          if (o + 8 > end) return empty
          val size = u32le(b, o + 4)
          val payload = o + 8
          if (size > end - payload) return empty
          if (fourcc(b, o) == "ANMF") frames += 1
          o = payload + ((size + 1) & ~1L).toInt
        }
        if (frames == 0) return empty // ANIM flag with no frames
        row("webp", w, h, animated = true, frames = frames)
      case _ => empty
    }
  }

  /** PNG chunk walk: IHDR first (per spec), `acTL` before `IDAT` marks
    * APNG; the walk stops at IDAT — reaching it is what `ok` means.
    */
  private def png(b: Array[Byte]): InternalRow = {
    var o = 8
    var w = 0; var h = 0
    var frames = 1; var animated = false
    var sawIhdr = false
    while (o + 8 <= b.length) {
      val len = u32be(b, o)
      if (len > b.length - o - 12L) return empty // data+CRC overrun
      val typ = fourcc(b, o + 4)
      val data = o + 8
      if (!sawIhdr) {
        if (typ != "IHDR" || len < 13) return empty
        w = u32be(b, data).toInt; h = u32be(b, data + 4).toInt
        sawIhdr = true
      } else typ match {
        case "acTL" if len >= 8 =>
          animated = true; frames = u32be(b, data).toInt
        case "IDAT" => return row("png", w, h, animated, frames)
        case _ => ()
      }
      o = data + len.toInt + 4
    }
    empty // ran out before IDAT: truncated, not a smaller image
  }

  /** JPEG segment walk to the first SOFn. DHT (C4), JPG (C8) and DAC
    * (CC) share the Cx range but are not frame headers.
    */
  private def jpeg(b: Array[Byte]): InternalRow = {
    var o = 2
    while (o + 4 <= b.length) {
      if ((b(o) & 0xff) != 0xff) return empty
      var m = b(o + 1) & 0xff
      while (m == 0xff && o + 2 < b.length) { o += 1; m = b(o + 1) & 0xff }
      if (m == 0xd9 || m == 0xda) return empty // EOI/SOS before any SOF
      if (o + 4 > b.length) return empty
      val len = u16be(b, o + 2)
      if (len < 2 || o + 2 + len > b.length) return empty
      val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
      if (isSof) {
        if (len < 7) return empty
        return row("jpeg", u16be(b, o + 7), u16be(b, o + 5),
          animated = false, frames = 1)
      }
      o += 2 + len
    }
    empty
  }

  /** GIF: LE screen dims, then the full block walk counting image
    * descriptors — extension sub-blocks and color tables skip exactly.
    */
  private def gif(b: Array[Byte]): InternalRow = {
    if (b.length < 13) return empty
    val w = u16le(b, 6); val h = u16le(b, 8)
    val flags = b(10) & 0xff
    var o = 13
    if ((flags & 0x80) != 0) o += 3 * (1 << ((flags & 0x07) + 1))
    var frames = 0
    def skipSubBlocks(): Boolean = {
      while (o < b.length && b(o) != 0) {
        o += 1 + (b(o) & 0xff)
      }
      if (o >= b.length) false else { o += 1; true } // the 0 terminator
    }
    while (o < b.length) {
      (b(o) & 0xff) match {
        case 0x3b => // trailer: clean end
          if (frames == 0) return empty
          return row("gif", w, h, animated = frames > 1, frames = frames)
        case 0x21 => // extension: label byte + sub-blocks
          o += 2
          if (!skipSubBlocks()) return empty
        case 0x2c => // image descriptor
          if (o + 10 > b.length) return empty
          val lf = b(o + 9) & 0xff
          o += 10
          if ((lf & 0x80) != 0) o += 3 * (1 << ((lf & 0x07) + 1))
          o += 1 // LZW minimum code size
          if (o > b.length || !skipSubBlocks()) return empty
          frames += 1
        case _ => return empty
      }
    }
    empty // no trailer: truncated
  }

  private def bmp(b: Array[Byte]): InternalRow = {
    if (b.length < 26) return empty
    val dib = u32le(b, 14)
    if (dib == 12L) // BITMAPCOREHEADER: 16-bit dims
      row("bmp", u16le(b, 18), u16le(b, 20), animated = false, frames = 1)
    else if (dib >= 40L && b.length >= 26)
      row("bmp", i32le(b, 18), math.abs(i32le(b, 22)),
        animated = false, frames = 1)
    else empty
  }
}

case class ImageMetaExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("image_meta(payload BINARY) expected")
  override def dataType: DataType = ImageMeta.imageType
  override def nullSafeEval(input: Any): Any =
    ImageMeta.imageMeta(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ImageMeta.imageMeta($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "image_meta"
}

object ImageMetaExpr {
  def imageMeta(payload: Column): Column = call_function("image_meta", payload)
}
