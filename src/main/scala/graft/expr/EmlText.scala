package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Email text extraction — `graft_eml_text(content)` over RFC-5322
  * messages and `graft_mbox_messages(content[, max])` over mbox
  * archives, the mail tier next to the document extractors (mailing
  * lists and mail dumps are a standing training-data source):
  *
  *  - headers unfold (continuation lines), RFC 2047 encoded-words
  *    decode in Subject/From (B = base64, Q = quoted-printable with
  *    `_` as space; utf-8 / iso-8859-1 / windows-1252 / us-ascii);
  *  - the MIME tree walks recursively (multipart/mixed, nested
  *    multiparts; multipart/alternative takes the best single
  *    alternative — text/plain preferred over text/html);
  *  - leaf parts decode their Content-Transfer-Encoding
  *    (quoted-printable with soft line breaks, base64 via the MIME
  *    decoder, 7bit/8bit identity) then their charset; text/html
  *    flattens through the shared HTML→text chain; non-text leaves
  *    (attachments) contribute nothing;
  *  - output: the decoded Subject line, a blank line, then the text
  *    parts in document order — one deterministic form for oracles.
  *
  * mbox splits on the `From ` envelope line at message boundaries
  * (preceded by a blank line or file start) and un-escapes the
  * classic `>From ` body quoting. Not a message / no headers →
  * NULL, never an error; both are pure per-row projections.
  */
case class EmlTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${EmlText.FunctionName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    EmlText.parse(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.EmlText.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      EmlTextExpr = copy(child = newChild)
}

case class MboxMessages(child: Expression, maxMessages: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${EmlText.MboxName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxMessages < 1 || maxMessages > 65536)
      TypeCheckResult.TypeCheckFailure(
        s"${EmlText.MboxName} max must be in [1, 65536]: $maxMessages")
    else TypeCheckResult.TypeCheckSuccess
  override def nullSafeEval(v: Any): Any =
    EmlText.mbox(v.asInstanceOf[Array[Byte]], maxMessages)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.EmlText.mbox($c, $maxMessages);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      MboxMessages = copy(child = newChild)
}

/** `graft_eml_attachments(content[, max])` — the attachments a
  * message carries, as `array<struct<name, mime, content>>`: MIME
  * leaves marked attachment (or carrying a filename, or any
  * non-text media type), Content-Transfer-Encoding decoded; nested
  * `message/rfc822` messages contribute THEIR attachments; valid
  * uuencoded blocks inside inline text bodies (the pre-MIME
  * mailing-list convention) decode and surface under the name on
  * their `begin` line. Not a message / nothing attached → NULL.
  */
case class EmlAttachments(child: Expression, maxAttachments: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(EmlText.AttachmentSchema, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${EmlText.AttachmentsName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxAttachments < 1 || maxAttachments > 4096)
      TypeCheckResult.TypeCheckFailure(
        s"${EmlText.AttachmentsName} max must be in [1, 4096]: " +
          s"$maxAttachments")
    else TypeCheckResult.TypeCheckSuccess
  override def nullSafeEval(v: Any): Any =
    EmlText.attachments(v.asInstanceOf[Array[Byte]], maxAttachments)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.EmlText.attachments($c, $maxAttachments);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      EmlAttachments = copy(child = newChild)
}

object EmlText {
  val FunctionName = "graft_eml_text"
  val MboxName = "graft_mbox_messages"
  val AttachmentsName = "graft_eml_attachments"

  val AttachmentSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("content", BinaryType, nullable = false)))

  val MaxTextChars: Int = 16 << 20
  private val MaxDepth = 8

  private def charsetOf(name: String): java.nio.charset.Charset = {
    val n = name.trim.toLowerCase(java.util.Locale.ROOT)
    try n match {
      case "utf-8" | "utf8" => java.nio.charset.StandardCharsets.UTF_8
      case "us-ascii" | "ascii" => java.nio.charset.StandardCharsets.US_ASCII
      case "iso-8859-1" | "latin1" =>
        java.nio.charset.StandardCharsets.ISO_8859_1
      case "" => java.nio.charset.StandardCharsets.ISO_8859_1
      case other => java.nio.charset.Charset.forName(other)
    } catch {
      case _: Exception => java.nio.charset.StandardCharsets.ISO_8859_1
    }
  }

  /** Header block split + unfold: returns (lowername → value) in
    * first-wins order plus the body offset, or null when no header
    * terminator exists (not a message).
    */
  private def headers(b: Array[Byte], from: Int):
      (java.util.LinkedHashMap[String, String], Int) = {
    var end = -1
    var i = from
    while (end < 0 && i + 1 < b.length) {
      if (b(i) == '\n' &&
          (i + 1 < b.length && b(i + 1) == '\n')) end = i + 2
      else if (b(i) == '\n' && i + 2 < b.length && b(i + 1) == '\r' &&
          b(i + 2) == '\n') end = i + 3
      i += 1
    }
    if (end < 0) return null
    val block = new String(b, from, end - from,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val unfolded = block.replace("\r\n", "\n")
      .replaceAll("\n[ \t]+", " ")
    val out = new java.util.LinkedHashMap[String, String]()
    unfolded.split('\n').foreach { line =>
      val c = line.indexOf(':')
      if (c > 0) {
        val k = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
        if (!out.containsKey(k)) out.put(k, line.substring(c + 1).trim)
      }
    }
    (out, end)
  }

  /** RFC 2047 encoded-words in a header value; whitespace BETWEEN
    * adjacent encoded words is transparent per the RFC.
    */
  private[graft] def decodeHeader(v0: String): String = {
    val v = v0.replaceAll("(\\?=)[ \\t]+(=\\?)", "$1$2")
    val m = java.util.regex.Pattern.compile(
      "=\\?([^?]+)\\?([bBqQ])\\?([^?]*)\\?=").matcher(v)
    val sb = new StringBuffer
    while (m.find()) {
      val cs = charsetOf(m.group(1))
      val decoded =
        try {
          if (m.group(2).equalsIgnoreCase("b"))
            new String(java.util.Base64.getMimeDecoder.decode(m.group(3)),
              cs)
          else { // Q: like quoted-printable, underscore = space
            val raw = m.group(3).replace('_', ' ')
            new String(qpDecode(raw.getBytes(
              java.nio.charset.StandardCharsets.ISO_8859_1), soft = false),
              cs)
          }
        } catch { case _: Exception => m.group(0) }
      m.appendReplacement(sb,
        java.util.regex.Matcher.quoteReplacement(decoded))
    }
    m.appendTail(sb)
    sb.toString
  }

  /** Quoted-printable: =XX hex escapes; `soft` also removes =\n soft
    * line breaks (body form — header Q-encoding has none).
    */
  private def qpDecode(b: Array[Byte], soft: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var i = 0
    def hexAt(k: Int): Int = {
      val c = b(k) & 0xff
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else -1
    }
    while (i < b.length) {
      val c = b(i) & 0xff
      if (c == '=' && soft && i + 1 < b.length &&
          (b(i + 1) == '\n' ||
            (b(i + 1) == '\r' && i + 2 < b.length && b(i + 2) == '\n'))) {
        i += (if (b(i + 1) == '\n') 2 else 3) // soft break vanishes
      } else if (c == '=' && i + 2 < b.length && hexAt(i + 1) >= 0 &&
          hexAt(i + 2) >= 0) {
        out.write((hexAt(i + 1) << 4) | hexAt(i + 2))
        i += 3
      } else { out.write(c); i += 1 }
    }
    out.toByteArray
  }

  private def param(headerValue: String, name: String): String = {
    val m = java.util.regex.Pattern.compile(
      "(?i)" + name + "\\s*=\\s*(\"([^\"]*)\"|[^;\\s]+)")
      .matcher(headerValue)
    if (!m.find()) return ""
    if (m.group(2) != null) m.group(2) else m.group(1)
  }

  private def mimeType(ct: String): String = {
    val semi = ct.indexOf(';')
    (if (semi >= 0) ct.substring(0, semi) else ct)
      .trim.toLowerCase(java.util.Locale.ROOT)
  }

  /** One MIME entity (headers already parsed): append its text. */
  private def entity(b: Array[Byte], bodyFrom: Int, bodyUntil: Int,
      hs: java.util.LinkedHashMap[String, String], depth: Int,
      out: java.lang.StringBuilder): Unit = {
    if (depth > MaxDepth || out.length > MaxTextChars) return
    val ct = Option(hs.get("content-type")).getOrElse("text/plain")
    val mt = mimeType(ct)
    if (mt.startsWith("multipart/")) {
      val boundary = param(ct, "boundary")
      if (boundary.isEmpty) return
      val parts = splitMultipart(b, bodyFrom, bodyUntil, boundary)
      if (mt == "multipart/alternative" && parts.nonEmpty) {
        // best single alternative: text/plain wins, else text/html,
        // else the first part
        def typeOf(p: (Int, Int)): String = {
          val h = headers(b, p._1)
          if (h == null) ""
          else mimeType(Option(h._1.get("content-type"))
            .getOrElse("text/plain"))
        }
        val pick = parts.find(typeOf(_) == "text/plain")
          .orElse(parts.find(typeOf(_) == "text/html"))
          .getOrElse(parts.head)
        subEntity(b, pick, depth, out)
      } else parts.foreach(subEntity(b, _, depth, out))
    } else if (mt == "text/plain" || mt == "text/html" ||
        mt == "message/rfc822") {
      if (mt == "message/rfc822") {
        val h = headers(b, bodyFrom)
        if (h != null) {
          emitSubject(h._1, out)
          entity(b, h._2, bodyUntil, h._1, depth + 1, out)
        }
        return
      }
      val decoded = decodeBody(b, bodyFrom, bodyUntil, hs)
      if (decoded == null) return // torn part: nothing
      val text = new String(decoded, charsetOf(param(ct, "charset")))
      val flat =
        if (mt == "text/html")
          graft.sources.Documents.htmlToTextString(text)
        else stripUuencode(text.replace("\r\n", "\n"))
      val trimmed = flat.trim
      if (trimmed.nonEmpty) {
        out.append(trimmed)
        out.append('\n')
      }
    } // other leaves (attachments, images): contribute nothing
  }

  /** Content-Transfer-Encoding decode of one leaf body; null on a
    * torn base64 part (fail-closed per part, never per message).
    */
  private def decodeBody(b: Array[Byte], bodyFrom: Int, bodyUntil: Int,
      hs: java.util.LinkedHashMap[String, String]): Array[Byte] = {
    val cte = Option(hs.get("content-transfer-encoding")).getOrElse("")
      .trim.toLowerCase(java.util.Locale.ROOT)
    val raw = java.util.Arrays.copyOfRange(b, bodyFrom, bodyUntil)
    cte match {
      case "base64" =>
        try java.util.Base64.getMimeDecoder.decode(raw)
        catch { case _: Exception => null }
      case "quoted-printable" => qpDecode(raw, soft = true)
      case _ => raw
    }
  }

  private def subEntity(b: Array[Byte], span: (Int, Int), depth: Int,
      out: java.lang.StringBuilder): Unit = {
    val h = headers(b, span._1)
    if (h != null) entity(b, h._2, span._2, h._1, depth + 1, out)
  }

  /** Body spans between --boundary delimiter lines. */
  private def splitMultipart(b: Array[Byte], from: Int, until: Int,
      boundary: String): Seq[(Int, Int)] = {
    val text = new String(b, from, until - from,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val delim = "--" + boundary
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var pos = 0
    var start = -1
    while (pos >= 0 && pos <= text.length) {
      val at = text.indexOf(delim, pos)
      // a delimiter LINE: line start, and after the boundary only
      // "--" (closing), whitespace, or the line end — "--XX" must
      // not match inside "--XXY"
      def tailOk: Boolean = {
        val t = at + delim.length
        t >= text.length || text.charAt(t) == '\r' ||
          text.charAt(t) == '\n' || text.charAt(t) == ' ' ||
          text.charAt(t) == '\t' ||
          text.regionMatches(t, "--", 0, 2)
      }
      if (at < 0) {
        if (start >= 0) out += ((from + start, until))
        pos = -1
      } else if ((at == 0 || text.charAt(at - 1) == '\n') && tailOk) {
        if (start >= 0) {
          var e = at
          // the CRLF before the delimiter belongs to it
          if (e > 0 && text.charAt(e - 1) == '\n') e -= 1
          if (e > 0 && text.charAt(e - 1) == '\r') e -= 1
          out += ((from + start, from + e))
        }
        val lineEnd = text.indexOf('\n', at)
        val closing = text.regionMatches(at + delim.length, "--", 0, 2)
        if (closing || lineEnd < 0) { start = -1; pos = -1 }
        else { start = lineEnd + 1; pos = lineEnd + 1 }
      } else pos = at + delim.length
    }
    out.toSeq
  }

  /** Pre-MIME mailing-list bodies inline uuencoded attachments
    * (`begin 644 name` … `end`); they are binary payload, not text —
    * the block strips from the extracted form.
    */
  private def stripUuencode(s: String): String = {
    if (!s.contains("\nbegin ") && !s.startsWith("begin ")) return s
    val out = new java.lang.StringBuilder
    var inBlock = false
    s.split('\n').foreach { line =>
      if (!inBlock &&
          line.matches("begin [0-7]{3,4} .*")) inBlock = true
      else if (inBlock && line == "end") inBlock = false
      else if (!inBlock) { out.append(line); out.append('\n') }
    }
    // split() drops the trailing empty segment; normalize the tail
    val r = out.toString
    if (s.endsWith("\n") || r.isEmpty) r else r.stripSuffix("\n")
  }

  /** Strict uudecode of the `begin MODE name` … `end` blocks in an
    * inline text body. Each data line's first char encodes its
    * payload length n ∈ [1,45] ((c−0x20)&0x3F, backtick = 0); the
    * line must supply ⌈n/3⌉·4 chars in [0x20,0x60] (historic
    * encoders drop trailing spaces — missing tail chars pad as
    * spaces). A zero-length line closes the data; `end` closes the
    * block. Any violation invalidates the WHOLE block (it stays
    * binary noise, not a half-decoded attachment).
    */
  private[graft] def uuBlocks(s: String): Seq[(String, Array[Byte])] = {
    if (!s.contains("\nbegin ") && !s.startsWith("begin ")) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    val lines = s.split('\n')
    var i = 0
    while (i < lines.length) {
      val line = lines(i)
      if (line.matches("begin [0-7]{3,4} .+")) {
        val name = line.substring(line.indexOf(' ', 6) + 1)
        val bytes = new java.io.ByteArrayOutputStream()
        var ok = true
        var closed = false
        var sawTerminator = false
        i += 1
        while (ok && !closed && i < lines.length) {
          val dl = lines(i)
          if (sawTerminator) {
            if (dl == "end") closed = true
            else ok = false
          } else if (dl.isEmpty || dl == "`" || dl == " ") {
            sawTerminator = true // zero-length line: data over
          } else if (dl == "end") {
            closed = true // tolerated: encoders that skip the 0-line
          } else {
            val n = (dl.charAt(0) - 0x20) & 0x3f
            val needed = (n + 2) / 3 * 4
            if (n < 1 || n > 45 || dl.length > 1 + needed) ok = false
            else {
              var c = 0
              val quad = new Array[Int](4)
              var emitted = 0
              while (ok && emitted < n) {
                var k = 0
                while (ok && k < 4) {
                  val ch = if (1 + c + k < dl.length) dl.charAt(1 + c + k)
                    else ' ' // dropped trailing spaces
                  if (ch < 0x20 || ch > 0x60) ok = false
                  else quad(k) = (ch - 0x20) & 0x3f
                  k += 1
                }
                if (ok) {
                  val w = (quad(0) << 18) | (quad(1) << 12) |
                    (quad(2) << 6) | quad(3)
                  var j = 0
                  while (j < 3 && emitted < n) {
                    bytes.write((w >>> (16 - 8 * j)) & 0xff)
                    emitted += 1; j += 1
                  }
                }
                c += 4
              }
            }
            i += 1
          }
          if (sawTerminator && !closed && ok) i += 1
          else if (closed) () // outer loop advances below
        }
        if (ok && closed && bytes.size > 0 &&
            bytes.size <= TarEntries.MaxEntryBytes)
          out += ((name, bytes.toByteArray))
      }
      i += 1
    }
    out.toSeq
  }

  /** Bounded attachment sink shared by the recursive walk. */
  private final class AttCollector(max: Int) {
    val rows = new java.util.ArrayList[GenericInternalRow]()
    private var total = 0L
    def full: Boolean = rows.size >= max || total >= TarEntries.MaxTotalBytes
    def add(name: String, mime: String, content: Array[Byte]): Unit = {
      if (full || content.length > TarEntries.MaxEntryBytes ||
          total + content.length > TarEntries.MaxTotalBytes) return
      total += content.length
      rows.add(new GenericInternalRow(Array[Any](
        UTF8String.fromString(name), UTF8String.fromString(mime), content)))
    }
  }

  /** Attachment walk — the structural mirror of [[entity]]: every
    * multipart branch recurses (alternative branches can carry
    * related attachments), rfc822 leaves contribute their nested
    * message's attachments, text leaves contribute their valid
    * uuencoded blocks, and everything else with an attachment
    * marker (disposition / filename / non-text media type) decodes
    * its transfer encoding and lands as-is.
    */
  private def collectAtts(b: Array[Byte], bodyFrom: Int, bodyUntil: Int,
      hs: java.util.LinkedHashMap[String, String], depth: Int,
      acc: AttCollector): Unit = {
    if (depth > MaxDepth || acc.full) return
    val ct = Option(hs.get("content-type")).getOrElse("text/plain")
    val mt = mimeType(ct)
    if (mt.startsWith("multipart/")) {
      val boundary = param(ct, "boundary")
      if (boundary.isEmpty) return
      splitMultipart(b, bodyFrom, bodyUntil, boundary).foreach { span =>
        val h = headers(b, span._1)
        if (h != null) collectAtts(b, h._2, span._2, h._1, depth + 1, acc)
      }
    } else if (mt == "message/rfc822") {
      val h = headers(b, bodyFrom)
      if (h != null) collectAtts(b, h._2, bodyUntil, h._1, depth + 1, acc)
    } else {
      val cd = Option(hs.get("content-disposition")).getOrElse("")
      val fname = {
        val f = param(cd, "filename")
        if (f.nonEmpty) f else param(ct, "name")
      }
      val isAttachment = mimeType(cd) == "attachment" || fname.nonEmpty ||
        !(mt == "text/plain" || mt == "text/html")
      if (isAttachment) {
        val decoded = decodeBody(b, bodyFrom, bodyUntil, hs)
        if (decoded != null)
          acc.add(if (fname.nonEmpty) fname else s"part${acc.rows.size}",
            mt, decoded)
      } else {
        val decoded = decodeBody(b, bodyFrom, bodyUntil, hs)
        if (decoded != null) {
          val text = new String(decoded, charsetOf(param(ct, "charset")))
            .replace("\r\n", "\n")
          uuBlocks(text).foreach { case (nm, bytes) =>
            acc.add(nm, "application/octet-stream", bytes)
          }
        }
      }
    }
  }

  /** A mail message has at least one defining header. */
  private def isMessage(
      hs: java.util.LinkedHashMap[String, String]): Boolean =
    hs.containsKey("from") || hs.containsKey("subject") ||
      hs.containsKey("received") || hs.containsKey("date") ||
      hs.containsKey("mime-version")

  def attachments(b: Array[Byte], max: Int): GenericArrayData = {
    if (b == null || b.length < 8 || b.length > MaxInputBytes) return null
    try {
      var from = 0
      if (b(0) == 'F' && b(1) == 'r' && b(2) == 'o' && b(3) == 'm' &&
          b(4) == ' ') {
        while (from < b.length && b(from) != '\n') from += 1
        from += 1
      }
      val h = headers(b, from)
      if (h == null || !isMessage(h._1)) return null
      val acc = new AttCollector(max)
      collectAtts(b, h._2, b.length, h._1, 0, acc)
      if (acc.rows.isEmpty) return null
      val arr = new Array[Any](acc.rows.size)
      var i = 0
      while (i < acc.rows.size) { arr(i) = acc.rows.get(i); i += 1 }
      new GenericArrayData(arr)
    } catch {
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  private def emitSubject(hs: java.util.LinkedHashMap[String, String],
      out: java.lang.StringBuilder): Unit = {
    val subj = hs.get("subject")
    if (subj != null && subj.nonEmpty) {
      out.append("Subject: ").append(decodeHeader(subj)).append('\n')
      out.append('\n')
    }
  }

  /** Input cap shared with the archive tier's bomb guards. */
  val MaxInputBytes: Long = TarEntries.MaxTotalBytes

  def parse(b: Array[Byte]): UTF8String = {
    if (b == null || b.length < 8 || b.length > MaxInputBytes) return null
    try {
      var from = 0
      // a stray mbox envelope line on a single message is tolerated
      if (b(0) == 'F' && b(1) == 'r' && b(2) == 'o' && b(3) == 'm' &&
          b(4) == ' ') {
        while (from < b.length && b(from) != '\n') from += 1
        from += 1
      }
      val h = headers(b, from)
      if (h == null || !isMessage(h._1)) return null
      val out = new java.lang.StringBuilder
      emitSubject(h._1, out)
      entity(b, h._2, b.length, h._1, 0, out)
      if (out.length == 0) null
      else UTF8String.fromString(out.toString)
    } catch {
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  /** mboxcl: when a message declares `Content-Length:` and the
    * declared body end lands exactly on the next envelope line (or
    * EOF), that end wins over delimiter scanning — the variant
    * exists precisely so bodies may carry UNESCAPED `From ` lines.
    * Returns the absolute body-end offset, or −1 when the header is
    * absent or does not corroborate (fall back to the scan).
    */
  private def contentLengthEnd(b: Array[Byte], text: String,
      from: Int): Int = {
    val h = headers(b, from)
    if (h == null) return -1
    val v = h._1.get("content-length")
    if (v == null) return -1
    val len = try v.trim.toLong catch {
      case _: NumberFormatException => return -1
    }
    if (len < 0) return -1
    val end = h._2.toLong + len
    if (end > text.length) return -1
    val e = end.toInt
    var e2 = e
    var skipped = 0
    while (skipped < 2 && e2 < text.length &&
        (text.charAt(e2) == '\n' || text.charAt(e2) == '\r')) {
      e2 += 1; skipped += 1
    }
    val lineStart = skipped >= 1 ||
      (e > from && text.charAt(e - 1) == '\n')
    if (e == text.length || e2 >= text.length ||
        (lineStart && text.regionMatches(e2, "From ", 0, 5))) e else -1
  }

  /** mbox → messages (envelope lines stripped, `>From ` unescaped;
    * a corroborated `Content-Length:` splits verbatim — mboxcl).
    */
  def mbox(b: Array[Byte], max: Int): GenericArrayData = {
    if (b == null || b.length < 6 || b.length > MaxInputBytes) return null
    if (!(b(0) == 'F' && b(1) == 'r' && b(2) == 'o' && b(3) == 'm' &&
        b(4) == ' ')) return null
    val text = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    val out = new java.util.ArrayList[Array[Byte]]()
    var pos = 0
    while (pos >= 0 && pos < text.length && out.size < max) {
      val lineEnd = text.indexOf('\n', pos)
      if (lineEnd < 0) pos = -1
      else {
        val bodyStart = lineEnd + 1
        val clEnd = contentLengthEnd(b, text, bodyStart)
        if (clEnd >= 0) {
          // mboxcl: counted body, kept VERBATIM (no >From unquoting —
          // the variant does not escape)
          out.add(text.substring(bodyStart, clEnd).getBytes(
            java.nio.charset.StandardCharsets.ISO_8859_1))
          var e2 = clEnd
          var skipped = 0
          while (skipped < 2 && e2 < text.length &&
              (text.charAt(e2) == '\n' || text.charAt(e2) == '\r')) {
            e2 += 1; skipped += 1
          }
          pos = if (e2 >= text.length) -1 else e2
        } else {
          // next envelope: "\nFrom " after a blank line, or EOF
          var next = text.indexOf("\n\nFrom ", bodyStart)
          var msgEnd = if (next < 0) text.length else next + 1
          if (next < 0) {
            next = text.indexOf("\n\r\nFrom ", bodyStart)
            if (next >= 0) msgEnd = next + 2
          }
          val body = text.substring(bodyStart, msgEnd)
            .replace("\n>From ", "\nFrom ")
          out.add(body.getBytes(
            java.nio.charset.StandardCharsets.ISO_8859_1))
          pos = if (next < 0) -1 else msgEnd + 1
        }
      }
    }
    if (out.isEmpty) return null
    val arr = new Array[Any](out.size)
    var i = 0
    while (i < out.size) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }
}
