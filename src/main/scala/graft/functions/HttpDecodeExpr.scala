package graft.functions

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `decode_http_body(body BINARY, content_type STRING)` — charset-aware
  * decode of a fetched HTTP body: real crawls are a charset zoo
  * (windows-1252 and Latin-1 dominate the long tail; Shift-JIS / EUC /
  * GBK are common regionally), and decoding everything as UTF-8 turns
  * every one of those pages into replacement-char soup before any text
  * stage sees it. This is the declaration-driven decode CCNet-class
  * pipelines run between the HTTP split and HTML extraction.
  *
  * Charset resolution, in browser priority order:
  *
  *  1. a byte-order mark (UTF-8 / UTF-16LE / UTF-16BE) — authoritative,
  *     and the BOM itself is not part of the document;
  *  2. `charset=` parameter of the Content-Type header value (the
  *     second argument — pass "" when the header is absent);
  *  3. an HTML `<meta charset=..>` / `<meta http-equiv .. charset=..>`
  *     sniff over the first 4 KiB (ASCII-compatible scan, the WHATWG
  *     prescan);
  *  4. UTF-8.
  *
  * Quarantine posture (crawl input is untrusted and must never abort a
  * task): an unknown/illegal charset name falls back to UTF-8, and the
  * decode itself REPLACEs malformed/unmappable sequences (U+FFFD) —
  * the function is total.
  *
  * Map-side codegen'd kernel; zero shuffle at any corpus size.
  */
object HttpDecodeKernel {

  private val MetaScanBytes = 4096

  // charset=... inside a content-type value or a <meta> tag head;
  // group(1) = the name, optionally quoted
  private val CharsetParam =
    java.util.regex.Pattern.compile(
      """charset\s*=\s*["']?\s*([A-Za-z0-9][A-Za-z0-9._:\-]*)""",
      java.util.regex.Pattern.CASE_INSENSITIVE)

  def decode(body: Array[Byte], contentType: UTF8String): UTF8String = {
    // 1. BOM. UTF-32 sniffs FIRST: its LE BOM (FF FE 00 00) has the
    // UTF-16LE BOM as a prefix, and its BE BOM (00 00 FE FF) would
    // otherwise fall through to the declaration path — either way a
    // UTF-32 body misread as UTF-16/declared charset is replacement soup
    if (body.length >= 4 && body(0) == 0xFF.toByte && body(1) == 0xFE.toByte &&
        body(2) == 0 && body(3) == 0)
      return decodeWith(body, 4, Charset.forName("UTF-32LE"))
    if (body.length >= 4 && body(0) == 0 && body(1) == 0 &&
        body(2) == 0xFE.toByte && body(3) == 0xFF.toByte)
      return decodeWith(body, 4, Charset.forName("UTF-32BE"))
    if (body.length >= 3 && body(0) == 0xEF.toByte && body(1) == 0xBB.toByte &&
        body(2) == 0xBF.toByte)
      return decodeWith(body, 3, StandardCharsets.UTF_8)
    if (body.length >= 2 && body(0) == 0xFF.toByte && body(1) == 0xFE.toByte)
      return decodeWith(body, 2, StandardCharsets.UTF_16LE)
    if (body.length >= 2 && body(0) == 0xFE.toByte && body(1) == 0xFF.toByte)
      return decodeWith(body, 2, StandardCharsets.UTF_16BE)
    // 2. header charset
    fromDeclaration(contentType.toString) match {
      case Some(cs) => return decodeWith(body, 0, cs)
      case None => ()
    }
    // 3. <meta> prescan: the head of the body read byte-transparently
    val n = math.min(body.length, MetaScanBytes)
    val head = new String(body, 0, n, StandardCharsets.ISO_8859_1)
    val meta = metaCharset(head)
    decodeWith(body, 0, meta.getOrElse(StandardCharsets.UTF_8))
  }

  /** Charset named in a Content-Type-shaped declaration, if it parses
    * AND the JVM supports it (unknown names are NO declaration —
    * quarantine, not abort).
    */
  def fromDeclaration(decl: String): Option[Charset] = {
    if (decl == null || decl.isEmpty) return None
    val m = CharsetParam.matcher(decl)
    if (!m.find()) return None
    lookup(m.group(1))
  }

  /** First `<meta ... charset=...>` declaration in the prescanned head
    * — covers both `<meta charset=utf-8>` and the http-equiv form
    * (whose `content` value embeds the same `charset=` parameter).
    * Only matches inside a meta tag, so a page that merely MENTIONS
    * "charset=" in text does not hijack the decode. A meta-declared
    * UTF-16 variant maps to UTF-8 (the WHATWG prescan rule: a document
    * whose in-body declaration was ASCII-readable cannot actually be
    * UTF-16 — honoring the label would shred the real bytes).
    */
  def metaCharset(head: String): Option[Charset] = {
    var from = 0
    val lower = head.toLowerCase(java.util.Locale.ROOT)
    while (from >= 0 && from < lower.length) {
      val tag = lower.indexOf("<meta", from)
      if (tag < 0) return None
      val end = lower.indexOf('>', tag)
      val stop = if (end < 0) lower.length else end
      val m = CharsetParam.matcher(lower.substring(tag, stop))
      if (m.find()) {
        val cs = lookup(m.group(1)).map { c =>
          val n = c.name().toUpperCase(java.util.Locale.ROOT)
          if (n.startsWith("UTF-16") || n.startsWith("UTF-32"))
            StandardCharsets.UTF_8
          else c
        }
        if (cs.isDefined) return cs
      }
      from = stop + 1
    }
    None
  }

  private def lookup(name: String): Option[Charset] =
    try Some(Charset.forName(name))
    catch { case _: Exception => None }

  private def decodeWith(body: Array[Byte], offset: Int, cs: Charset): UTF8String = {
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val out = dec.decode(
      java.nio.ByteBuffer.wrap(body, offset, body.length - offset)).toString
    UTF8String.fromString(out)
  }

  // a chunk-size line is a bounded hex number (+ optional extensions):
  // anything longer is not chunked framing
  private val MaxChunkSizeLine = 256

  /** Reassemble a `Transfer-Encoding: chunked` body (RFC 9112 §7.1):
    * hex-size line (chunk extensions after `;` ignored) CRLF, data CRLF,
    * …, `0` CRLF, optional trailer fields — dropped; they are framing,
    * not content. No-op unless `chunked` is the FINAL listed transfer
    * coding. Quarantine posture (crawl bytes are untrusted, the
    * function is total):
    *
    *  - the FIRST size line doesn't parse → the body was never chunked
    *    framing despite the header (servers lie): returned UNCHANGED;
    *  - framing breaks after valid chunks (bad mid-stream size line,
    *    missing data CRLF) → the successfully reassembled prefix;
    *  - a chunk's data runs past the record end (truncated capture) →
    *    whatever bytes are present (honest truncation).
    */
  def dechunk(body: Array[Byte], transferEncoding: UTF8String): Array[Byte] = {
    val te = if (transferEncoding == null) "" else transferEncoding.toString
    val isChunked = te.toLowerCase(java.util.Locale.ROOT)
      .split(",").map(_.trim).lastOption.contains("chunked")
    if (!isChunked || body.length == 0) return body
    val out = new java.io.ByteArrayOutputStream(body.length)
    var pos = 0
    var first = true
    def salvage(): Array[Byte] =
      if (first) body else out.toByteArray
    while (pos < body.length) {
      // the size line: bytes up to CRLF, bounded
      val lim = math.min(body.length - 1, pos + MaxChunkSizeLine)
      var eol = -1
      var i = pos
      while (eol < 0 && i < lim) {
        if (body(i) == '\r' && body(i + 1) == '\n') eol = i
        i += 1
      }
      if (eol < 0) return salvage()
      var hexEnd = pos
      while (hexEnd < eol && body(hexEnd) != ';' && body(hexEnd) != ' ')
        hexEnd = hexEnd + 1
      if (hexEnd == pos) return salvage()
      var size = 0L
      var j = pos
      while (j < hexEnd) {
        val d = Character.digit(body(j).toChar, 16)
        if (d < 0) return salvage()
        size = size * 16 + d
        if (size > Int.MaxValue) return salvage()
        j += 1
      }
      pos = eol + 2
      if (size == 0) return out.toByteArray // trailers are framing, done
      if (pos + size > body.length) { // truncated capture
        if (pos < body.length) out.write(body, pos, body.length - pos)
        return out.toByteArray
      }
      out.write(body, pos, size.toInt)
      pos += size.toInt
      first = false
      // data must be followed by CRLF; anything else is broken framing
      if (pos + 2 <= body.length && body(pos) == '\r' && body(pos + 1) == '\n')
        pos += 2
      else return out.toByteArray
    }
    out.toByteArray // ran off the end without a 0-chunk: keep the prefix
  }

  /** Decompressed-output ceiling per HTTP body. One page, not one file —
    * far tighter than [[graft.sources.Warc.MaxDecompressedBytes]]: 32
    * concurrent tasks each buffering a body mean the per-body cap is a
    * direct heap multiplier, and no real page needs more. A decompression
    * bomb pays at most this much heap, then truncates like any other
    * broken capture.
    */
  val MaxDecompressedBodyBytes: Int = 64 * 1024 * 1024

  /** Remove `Content-Encoding` codings (RFC 9110 §8.4) from a fetched
    * body: gzip / x-gzip and deflate (both zlib-wrapped and the
    * raw-deflate form servers mislabel as "deflate") are decoded;
    * `identity` is a no-op; any OTHER coding (br, zstd, …) stops the
    * walk and passes the current bytes through — downstream stages see
    * exactly what we could honestly produce. Codings listed in
    * application order decode right-to-left. Runs AFTER
    * [[dechunk]] (Transfer-Encoding wraps Content-Encoding on the wire)
    * and BEFORE [[decode]] — without this stage a `Content-Encoding:
    * gzip` capture reaches the charset decode as compressed bytes and
    * extracts as mojibake.
    *
    * Quarantine posture, the [[dechunk]] three-way contract:
    *
    *  - labeled gzip but no gzip magic (servers lie): UNCHANGED;
    *  - stream breaks after some output (truncated capture, CRC slice
    *    cut off): the successfully decompressed PREFIX — that is real
    *    page content and WARC truncates mid-body constantly;
    *  - nothing decodable at all (magic then immediate corruption):
    *    NULL — unlike dechunk there is no readable raw fallback, the
    *    bytes are known-compressed garbage.
    *
    * Salvage is WHY this does not reuse the WARC member kernel
    * ([[graft.sources.Warc]] `gzMember`): record framing needs exact
    * member extents so a broken member must quarantine whole, while a
    * body decode wants every byte the stream yielded before it broke.
    */
  def decompress(body: Array[Byte], contentEncoding: UTF8String): Array[Byte] = {
    val ce = if (contentEncoding == null) "" else contentEncoding.toString
    val codings = ce.toLowerCase(java.util.Locale.ROOT)
      .split(",").map(_.trim).filter(_.nonEmpty)
    var cur = body
    var i = codings.length - 1
    while (i >= 0 && cur != null) {
      codings(i) match {
        case "identity" => ()
        case "gzip" | "x-gzip" => cur = gunzipBody(cur)
        case "deflate" => cur = inflateBody(cur)
        case _ => return cur // undecodable coding: stop, pass through
      }
      i -= 1
    }
    cur
  }

  /** The writer half of [[decompress]]: APPLY the codings of a
    * `Content-Encoding` value, left to right (wire apply order), for
    * in-plan fixture assembly and re-serialization — gzip / x-gzip
    * (deterministic: Java's gzip header carries MTIME 0), deflate
    * (zlib-wrapped, the spec form), `identity` a no-op. Unlike the
    * reader this REJECTS an unknown coding loudly: the reader meets
    * untrusted bytes, the writer meets a caller's own coding list, and
    * silently emitting unencoded bytes under a `br` label would forge a
    * lying header.
    */
  def compress(body: Array[Byte], contentEncoding: UTF8String): Array[Byte] = {
    val ce = if (contentEncoding == null) "" else contentEncoding.toString
    var cur = body
    ce.toLowerCase(java.util.Locale.ROOT)
      .split(",").map(_.trim).filter(_.nonEmpty).foreach {
        case "identity" => ()
        case "gzip" | "x-gzip" =>
          val out = new java.io.ByteArrayOutputStream()
          val gz = new java.util.zip.GZIPOutputStream(out)
          gz.write(cur); gz.finish(); gz.close()
          cur = out.toByteArray
        case "deflate" =>
          val out = new java.io.ByteArrayOutputStream()
          val df = new java.util.zip.DeflaterOutputStream(out)
          df.write(cur); df.finish(); df.close()
          cur = out.toByteArray
        case other => throw new IllegalArgumentException(
          s"compress_http_body: unsupported content coding '$other'")
      }
    cur
  }

  /** Capped, salvaging gunzip of a whole body (GZIPInputStream handles
    * concatenated members; trailing non-member garbage reads as EOF).
    */
  private def gunzipBody(body: Array[Byte]): Array[Byte] = {
    if (body.length < 2 || body(0) != 0x1f.toByte || body(1) != 0x8b.toByte)
      return body // the header lied; these bytes were never gzip
    val out = new java.io.ByteArrayOutputStream(math.min(body.length * 3, 1 << 16))
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(body))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) {
        if (out.size().toLong + n > MaxDecompressedBodyBytes)
          return out.toByteArray // bomb guard: truncate at the cap
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } catch {
      case _: java.io.IOException => // ZipException / EOF mid-stream
        if (out.size() > 0) out.toByteArray else null
    }
  }

  /** Capped, salvaging inflate. `deflate` formally means zlib (RFC
    * 1950), but raw deflate (RFC 1951) is a famous server bug — sniff
    * the zlib header (low CMF nibble 8, 16-bit header % 31 == 0), try
    * the indicated variant, and fall back to the other before giving up.
    */
  private def inflateBody(body: Array[Byte]): Array[Byte] = {
    if (body.isEmpty) return body
    val looksZlib = body.length >= 2 && (body(0) & 0x0f) == 8 &&
      ((((body(0) & 0xff) << 8) | (body(1) & 0xff)) % 31 == 0)
    val first = inflateWith(body, raw = !looksZlib)
    if (first != null) first else inflateWith(body, raw = looksZlib)
  }

  private def inflateWith(body: Array[Byte], raw: Boolean): Array[Byte] = {
    val inf = new java.util.zip.Inflater(raw)
    val out = new java.io.ByteArrayOutputStream(math.min(body.length * 3, 1 << 16))
    try {
      inf.setInput(body)
      val buf = new Array[Byte](64 * 1024)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n > 0) {
          if (out.size().toLong + n > MaxDecompressedBodyBytes)
            return out.toByteArray // bomb guard: truncate at the cap
          out.write(buf, 0, n)
        } else if (!inf.finished()) // truncated: salvage the prefix
          return if (out.size() > 0) out.toByteArray else null
      }
      out.toByteArray
    } catch {
      // mid-stream corruption salvages like truncation; a WRONG-VARIANT
      // attempt still falls through to the fallback because it errors at
      // the first block header, before any output exists (a zlib header
      // read as raw deflate hits reserved BTYPE=3 immediately, and the
      // zlib path checks its 16-bit header before inflating)
      case _: java.util.zip.DataFormatException =>
        if (out.size() > 0) out.toByteArray else null
    } finally inf.end()
  }
}

/** `dechunk_http_body(body BINARY, transfer_encoding STRING) → BINARY`:
  * [[HttpDecodeKernel.dechunk]] as a codegen'd expression — runs between
  * the HTTP envelope split (which carries the header) and the charset
  * decode, the last byte-level gap to raw crawl captures.
  */
case class DechunkHttpBodyExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "dechunk_http_body(body BINARY, transfer_encoding STRING) expected")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(body: Any, te: Any): Any =
    HttpDecodeKernel.dechunk(
      body.asInstanceOf[Array[Byte]], te.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, t) => s"graft.functions.HttpDecodeKernel.dechunk($b, $t)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dechunk_http_body"
}

/** `decompress_http_body(body BINARY, content_encoding STRING) → BINARY`:
  * [[HttpDecodeKernel.decompress]] as a codegen'd expression — the
  * Content-Encoding stage between [[DechunkHttpBodyExpr]] and
  * [[DecodeHttpBodyExpr]]. NULLABLE by contract: known-compressed but
  * undecodable bytes yield null (see the kernel's quarantine posture).
  */
case class DecompressHttpBodyExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "decompress_http_body(body BINARY, content_encoding STRING) expected")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def nullSafeEval(body: Any, ce: Any): Any =
    HttpDecodeKernel.decompress(
      body.asInstanceOf[Array[Byte]], ce.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, c) => s"""
      ${ev.value} = graft.functions.HttpDecodeKernel.decompress($b, $c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "decompress_http_body"
}

/** `compress_http_body(body BINARY, content_encoding STRING) → BINARY`:
  * [[HttpDecodeKernel.compress]] — the writer twin of
  * [[DecompressHttpBodyExpr]], for in-plan fixture assembly and
  * re-serializing a decoded crawl.
  */
case class CompressHttpBodyExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "compress_http_body(body BINARY, content_encoding STRING) expected")
  override def dataType: DataType = BinaryType
  override def nullSafeEval(body: Any, ce: Any): Any =
    HttpDecodeKernel.compress(
      body.asInstanceOf[Array[Byte]], ce.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, c) => s"graft.functions.HttpDecodeKernel.compress($b, $c)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "compress_http_body"
}

case class DecodeHttpBodyExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "decode_http_body(body BINARY, content_type STRING) expected")
  override def dataType: DataType = StringType
  override def nullSafeEval(body: Any, ct: Any): Any =
    HttpDecodeKernel.decode(
      body.asInstanceOf[Array[Byte]], ct.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, c) => s"graft.functions.HttpDecodeKernel.decode($b, $c)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "decode_http_body"
}

object HttpDecodeExpr {
  def decodeHttpBody(body: Column, contentType: Column): Column =
    call_function("decode_http_body", body, contentType)

  def dechunkHttpBody(body: Column, transferEncoding: Column): Column =
    call_function("dechunk_http_body", body, transferEncoding)

  def decompressHttpBody(body: Column, contentEncoding: Column): Column =
    call_function("decompress_http_body", body, contentEncoding)

  def compressHttpBody(body: Column, contentEncoding: Column): Column =
    call_function("compress_http_body", body, contentEncoding)
}
