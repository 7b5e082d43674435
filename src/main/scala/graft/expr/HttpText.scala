package graft.expr

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTTP payload split + CHARSET-AWARE body decode — the byte-level
  * upgrade of the WARC response path, which previously cast the whole
  * payload binary→string (Spark's cast assumes UTF-8 with
  * replacement, silently mangling the latin-1/cp1252 long tail a real
  * crawl carries). One pass over the bytes:
  *
  *  1. find the CRLFCRLF header/body boundary IN BYTES (headers are
  *     ASCII by RFC, so they decode safely regardless of the body's
  *     encoding); no boundary → empty body, headers parsed from the
  *     whole payload (truncated-response triage);
  *  2. parse the status line (`HTTP/x.y NNN`) and the Content-Type
  *     value (up to `;`, trimmed) plus its `charset=` parameter;
  *  3. resolve the body charset by the standard precedence:
  *     BOM (UTF-8 / UTF-16LE / UTF-16BE) > the header's charset
  *     parameter (utf-8, iso-8859-1/latin-1, windows-1252/cp1252,
  *     us-ascii, utf-16/le/be — unknown names fall through) >
  *     strict UTF-8 validation > windows-1252 (the web's de-facto
  *     fallback; a superset of latin-1 mapping 0x80–0x9F to
  *     punctuation instead of C1 controls);
  *  4. decode with REPLACE (malformed bytes become U+FFFD, never an
  *     error) and report the charset actually used.
  *
  * Returns struct(http_status, content_type, charset, text) — text is
  * the RAW decoded body; callers strip markup with the shared
  * HtmlToText chain. A payload without an HTTP status line keeps NULL
  * status and empty content_type (the record may still carry a
  * decodable body). Pure per-row projection; the payload blob
  * projects away immediately after.
  */
case class HttpText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = HttpText.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${HttpText.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    HttpText.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.HttpText.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HttpText =
    copy(child = newChild)
}

object HttpText {
  val FunctionName = "graft_http_text"

  val Schema: StructType = StructType(Seq(
    StructField("http_status", IntegerType, nullable = true),
    StructField("content_type", StringType, nullable = false),
    StructField("charset", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private val Cp1252: Charset = Charset.forName("windows-1252")

  private def decode(b: Array[Byte], from: Int, cs: Charset): String = {
    val dec = cs.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    dec.decode(java.nio.ByteBuffer.wrap(b, from, b.length - from)).toString
  }

  /** Strict UTF-8 validity scan (no allocation): multi-byte sequences
    * must be well-formed and non-overlong enough for the sniff's
    * purpose — a latin-1 byte stream with any accented letter fails
    * here and falls to cp1252.
    */
  private def validUtf8(b: Array[Byte], from: Int): Boolean = {
    var i = from
    while (i < b.length) {
      val c = b(i) & 0xFF
      if (c < 0x80) i += 1
      else {
        val n =
          if (c >= 0xC2 && c <= 0xDF) 1
          else if (c >= 0xE0 && c <= 0xEF) 2
          else if (c >= 0xF0 && c <= 0xF4) 3
          else return false
        if (i + n >= b.length) return false
        var k = 1
        while (k <= n) {
          if ((b(i + k) & 0xC0) != 0x80) return false
          k += 1
        }
        i += n + 1
      }
    }
    true
  }

  private def charsetFor(name: String): Charset = name match {
    case "utf-8" | "utf8" => StandardCharsets.UTF_8
    case "iso-8859-1" | "latin-1" | "latin1" | "iso8859-1" =>
      StandardCharsets.ISO_8859_1
    case "windows-1252" | "cp1252" => Cp1252
    case "us-ascii" | "ascii" => StandardCharsets.US_ASCII
    case "utf-16" | "utf-16be" => StandardCharsets.UTF_16BE
    case "utf-16le" => StandardCharsets.UTF_16LE
    case _ => null // unknown label: fall through to the sniff
  }

  /** Shared header parse: (status or null, content_type, raw
    * Content-Type value, body offset) — the byte-level split
    * [[HttpBody]] reuses for binary payloads.
    */
  private[expr] def headerInfo(b: Array[Byte]): (Any, String, String, Int) = {
    // header/body boundary in BYTES
    var sep = -1
    var i = 0
    while (sep < 0 && i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' &&
        b(i + 3) == '\n') sep = i
      i += 1
    }
    val headEnd = if (sep >= 0) sep else b.length
    val head = new String(b, 0, headEnd, StandardCharsets.ISO_8859_1)
    val bodyFrom = if (sep >= 0) sep + 4 else b.length
    // status line + content-type header (case-insensitive)
    val statusM = "^HTTP/[0-9.]+ ([0-9]{3})".r.findFirstMatchIn(head)
    val status: Any = statusM.map(m => m.group(1).toInt).orNull
    val ctM = "(?im)^content-type:\\s*([^\r\n]*)".r.findFirstMatchIn(head)
    val ctRaw = ctM.map(_.group(1)).getOrElse("")
    val contentType = ctRaw.split(';').headOption.getOrElse("").trim
    (status, contentType, ctRaw, bodyFrom)
  }

  /** `Transfer-Encoding: chunked` framing removal. LENIENT: malformed
    * framing returns the input unchanged (a body mislabeled chunked
    * should still extract), a torn tail keeps the chunks already
    * assembled — the same never-an-error posture as the charset
    * decode. Chunk extensions (`;…`) and trailers are ignored.
    */
  private[expr] def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    while (p < b.length) {
      var size = 0L
      var digits = 0
      var q = p
      while (q < b.length && Character.digit(b(q).toChar, 16) >= 0 &&
          digits <= 8) {
        size = size * 16 + Character.digit(b(q).toChar, 16)
        digits += 1
        q += 1
      }
      if (digits == 0 || digits > 8) return b // not chunked framing
      while (q < b.length && b(q) != '\r' && b(q) != '\n') q += 1 // ext
      if (q + 1 >= b.length || b(q) != '\r' || b(q + 1) != '\n')
        return if (size == 0) out.toByteArray else b
      q += 2
      if (size == 0) return out.toByteArray // trailers ignored
      if (q + size > b.length) { // torn tail: keep assembled + rest
        out.write(b, q, b.length - q)
        return out.toByteArray
      }
      out.write(b, q, size.toInt)
      p = (q + size).toInt
      if (p + 1 < b.length && b(p) == '\r' && b(p + 1) == '\n') p += 2
      else if (p >= b.length) return out.toByteArray
      else return b // data where CRLF must be: not chunked framing
    }
    out.toByteArray
  }

  private def inflateBody(b: Array[Byte], raw: Boolean): Array[Byte] = {
    val inf = new java.util.zip.Inflater(raw)
    inf.setInput(b)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 << 10)
    try {
      while (!inf.finished() && !inf.needsInput()) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return out.toByteArray
        out.write(buf, 0, n)
        if (out.size() > Decompress.MaxOutBytes) return null
      }
      out.toByteArray
    } catch {
      case _: Exception => null
    } finally inf.end()
  }

  /** Shared body extraction: the raw tail after the header boundary,
    * de-chunked when `Transfer-Encoding: chunked`, then decompressed
    * per `Content-Encoding` (gzip / deflate incl. the raw-deflate
    * servers / bzip2 / xz / zstd). Unknown or failed encodings keep
    * the raw bytes — the downstream extractor triages; br (brotli)
    * stays raw by the clean-room bar (its static dictionary is
    * tabulated spec data).
    */
  private[expr] def decodedBody(b: Array[Byte], bodyFrom: Int): Array[Byte] = {
    var body: Array[Byte] =
      if (bodyFrom >= b.length) Array.emptyByteArray
      else java.util.Arrays.copyOfRange(b, bodyFrom, b.length)
    if (body.isEmpty) return body
    val head = new String(b, 0, math.min(bodyFrom, b.length),
      StandardCharsets.ISO_8859_1)
    val te = "(?im)^transfer-encoding:\\s*([^\r\n]*)".r
      .findFirstMatchIn(head).map(_.group(1).toLowerCase).getOrElse("")
    if (te.contains("chunked")) body = dechunk(body)
    val ce = "(?im)^content-encoding:\\s*([^\r\n]*)".r
      .findFirstMatchIn(head).map(_.group(1).trim.toLowerCase)
      .getOrElse("")
    val dec = ce match {
      case "" | "identity" => body
      case "gzip" | "x-gzip" => Decompress.gunzip(body)
      case "deflate" =>
        val zlib = inflateBody(body, raw = false)
        if (zlib != null && zlib.nonEmpty) zlib
        else inflateBody(body, raw = true)
      case "bzip2" => Bzip2.decode(body)
      case "xz" => Xz.decode(body)
      case "zstd" => Zstd.decode(body)
      case _ => body // br/unknown: kept raw
    }
    if (dec == null) body else dec
  }

  /** bytes → (status, content_type, charset, text) InternalRow, or
    * null on null/empty input. Static for codegen.
    */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length == 0) return null
    val (status, contentType, ctRaw, bodyFrom) = headerInfo(b)
    val hinted = "(?i)charset=\"?([A-Za-z0-9_.:-]+)".r
      .findFirstMatchIn(ctRaw).map(_.group(1).toLowerCase).orNull

    val body = decodedBody(b, bodyFrom)
    // charset precedence: BOM > header hint > utf-8 sniff > cp1252
    val remaining = body.length
    val (csName, cs, skip) =
      if (remaining >= 3 && (body(0) & 0xFF) == 0xEF &&
        (body(1) & 0xFF) == 0xBB && (body(2) & 0xFF) == 0xBF)
        ("utf-8", StandardCharsets.UTF_8, 3)
      else if (remaining >= 2 && (body(0) & 0xFF) == 0xFF &&
        (body(1) & 0xFF) == 0xFE)
        ("utf-16le", StandardCharsets.UTF_16LE, 2)
      else if (remaining >= 2 && (body(0) & 0xFF) == 0xFE &&
        (body(1) & 0xFF) == 0xFF)
        ("utf-16be", StandardCharsets.UTF_16BE, 2)
      else {
        val h = if (hinted == null) null else charsetFor(hinted)
        if (h != null) (hinted, h, 0)
        else if (validUtf8(body, 0)) ("utf-8", StandardCharsets.UTF_8, 0)
        else ("windows-1252", Cp1252, 0)
      }
    val text = if (skip >= body.length) "" else decode(body, skip, cs)

    new GenericInternalRow(Array[Any](status,
      UTF8String.fromString(contentType),
      UTF8String.fromString(csName),
      UTF8String.fromString(text)))
  }
}
