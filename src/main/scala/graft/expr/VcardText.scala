package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** vCard / iCalendar extraction — `graft_vcard_text(content)` over
  * RFC 6350/2426/vCard-2.1 contact files and `graft_ics_text` over
  * RFC 5545 calendars: both ride the same content-line syntax
  * (`NAME;PARAM=V:VALUE`, folded continuation lines, backslash
  * escapes), and contact/calendar exports are a standing corpus
  * slice (mail-dump sidecars, .ics invites inside mail).
  *
  *  - lines unfold (CRLF/LF + space-or-tab), names/params parse
  *    case-insensitively, `ENCODING=QUOTED-PRINTABLE` (vCard 2.1,
  *    with its `=`-terminated soft breaks) decodes, base64-encoded
  *    properties (PHOTO/KEY/SOUND) are binary and contribute
  *    nothing, text values unescape `\\n`/`\\N`/`\\,`/`\\;`/`\\\\`;
  *  - vCard: per card (BEGIN:VCARD … END:VCARD, files hold many),
  *    the text properties in DOCUMENT order — FN, N (components
  *    space-joined), ORG, TITLE, EMAIL, TEL, ADR, NOTE, URL — one
  *    value per line, a blank line between cards;
  *  - iCalendar: per VEVENT/VTODO/VJOURNAL, SUMMARY, DESCRIPTION,
  *    LOCATION and COMMENT in document order, one per line, blank
  *    line between components; the calendar shell and unlisted
  *    properties (DTSTART, UID, ATTENDEE…) contribute nothing.
  *
  * `graft_document_text` routes both by their BEGIN: signature. Not
  * a card/calendar (or nothing extractable) → NULL, never an error;
  * pure per-row projections.
  */
case class VcardTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${VcardText.FunctionName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    VcardText.vcard(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.VcardText.vcard($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      VcardTextExpr = copy(child = newChild)
}

case class IcsTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${VcardText.IcsName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    VcardText.ics(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.VcardText.ics($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      IcsTextExpr = copy(child = newChild)
}

object VcardText {
  val FunctionName = "graft_vcard_text"
  val IcsName = "graft_ics_text"

  val MaxTextChars: Int = 16 << 20

  private[graft] def startsWithIgnoreCase(b: Array[Byte],
      prefix: String): Boolean = {
    // tolerate a UTF-8 BOM
    val off = if (b.length >= 3 && (b(0) & 0xff) == 0xef &&
      (b(1) & 0xff) == 0xbb && (b(2) & 0xff) == 0xbf) 3 else 0
    if (b.length - off < prefix.length) return false
    var i = 0
    while (i < prefix.length) {
      val c = (b(off + i) & 0xff).toChar.toUpper
      if (c != prefix.charAt(i)) return false
      i += 1
    }
    true
  }

  /** One unfolded content line. */
  private final class Line(val name: String, val params: String,
    val value: String)

  /** bytes → unfolded content lines; QP re-joins its soft-broken
    * continuations (vCard 2.1 folds QP values with a bare `=`).
    */
  private def lines(b: Array[Byte]): Seq[Line] = {
    val text = new String(b, java.nio.charset.StandardCharsets.UTF_8)
      .stripPrefix("\uFEFF")
    val rawLines = text.split("\r\n|\n", -1)
    val unfolded = scala.collection.mutable.ArrayBuffer.empty[String]
    rawLines.foreach { l =>
      if ((l.startsWith(" ") || l.startsWith("\t")) && unfolded.nonEmpty)
        unfolded(unfolded.length - 1) += l.substring(1)
      else if (l.nonEmpty &&
          unfolded.nonEmpty && unfolded.last.endsWith("=") &&
          unfolded.last.toUpperCase(java.util.Locale.ROOT)
            .contains("QUOTED-PRINTABLE"))
        // vCard 2.1 QP soft break: `=` at line end continues
        unfolded(unfolded.length - 1) =
          unfolded.last.dropRight(1) + "=\n" + l
      else unfolded += l
    }
    unfolded.toSeq.flatMap { l =>
      val colon = {
        // the first colon OUTSIDE a double-quoted param value
        var i = 0
        var q = false
        var at = -1
        while (at < 0 && i < l.length) {
          val c = l.charAt(i)
          if (c == '"') q = !q
          else if (c == ':' && !q) at = i
          i += 1
        }
        at
      }
      if (colon <= 0) None
      else {
        val head = l.substring(0, colon)
        val semi = head.indexOf(';')
        val name = (if (semi >= 0) head.substring(0, semi) else head)
          .trim.toUpperCase(java.util.Locale.ROOT)
        val params = (if (semi >= 0) head.substring(semi + 1) else "")
          .toUpperCase(java.util.Locale.ROOT)
        Some(new Line(name, params, l.substring(colon + 1)))
      }
    }
  }

  /** Decode one property value per its params; null = binary. */
  private def decodeValue(ln: Line): String = {
    val binary = ln.params.split(';').exists { p =>
      val t = p.trim
      t == "BASE64" || t == "ENCODING=BASE64" || t == "ENCODING=B"
    }
    if (binary) return null
    val raw =
      if (ln.params.contains("QUOTED-PRINTABLE")) {
        val bytes = ln.value.getBytes(
          java.nio.charset.StandardCharsets.ISO_8859_1)
        val out = new java.io.ByteArrayOutputStream(bytes.length)
        var i = 0
        def hex(k: Int): Int = {
          val c = bytes(k) & 0xff
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else -1
        }
        while (i < bytes.length) {
          val c = bytes(i) & 0xff
          if (c == '=' && i + 1 < bytes.length && bytes(i + 1) == '\n')
            i += 2 // soft break
          else if (c == '=' && i + 2 < bytes.length && hex(i + 1) >= 0 &&
              hex(i + 2) >= 0) {
            out.write((hex(i + 1) << 4) | hex(i + 2)); i += 3
          } else { out.write(c); i += 1 }
        }
        new String(out.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8)
      } else ln.value
    // text escapes: \n/\N newline, \, \; \\ literal
    val sb = new java.lang.StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\\' && i + 1 < raw.length) {
        raw.charAt(i + 1) match {
          case 'n' | 'N' => sb.append('\n')
          case other => sb.append(other)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Structured values (N, ADR, ORG): components space-joined,
    * empties dropped. Unescaped AFTER the split, so `\;` survives.
    */
  private def joinComponents(ln: Line): String = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new java.lang.StringBuilder
    var i = 0
    val v = ln.value
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) { cur.append(c).append(v.charAt(i + 1)); i += 2 }
      else if (c == ';') { parts += cur.toString; cur.setLength(0); i += 1 }
      else { cur.append(c); i += 1 }
    }
    parts += cur.toString
    parts.map(p => decodeValue(new Line(ln.name, ln.params, p)))
      .filter(p => p != null && p.trim.nonEmpty)
      .map(_.trim).mkString(" ")
  }

  private val CardProps = Set("FN", "N", "ORG", "TITLE", "EMAIL", "TEL",
    "ADR", "NOTE", "URL")
  private val Structured = Set("N", "ORG", "ADR")
  private val IcsProps = Set("SUMMARY", "DESCRIPTION", "LOCATION",
    "COMMENT")
  private val IcsComponents = Set("VEVENT", "VTODO", "VJOURNAL")

  def vcard(b: Array[Byte]): UTF8String = {
    if (b == null || b.length < 12 ||
        b.length > EmlText.MaxInputBytes) return null
    if (!startsWithIgnoreCase(b, "BEGIN:VCARD")) return null
    val out = new java.lang.StringBuilder
    var inCard = false
    var emitted = false
    lines(b).foreach { ln =>
      if (out.length <= MaxTextChars) {
        if (ln.name == "BEGIN" &&
            ln.value.trim.equalsIgnoreCase("VCARD")) {
          if (emitted) out.append('\n')
          inCard = true
          emitted = false
        } else if (ln.name == "END" &&
            ln.value.trim.equalsIgnoreCase("VCARD")) inCard = false
        else if (inCard && CardProps.contains(ln.name)) {
          val v = if (Structured.contains(ln.name)) joinComponents(ln)
            else decodeValue(ln)
          if (v != null && v.trim.nonEmpty) {
            out.append(v.trim).append('\n')
            emitted = true
          }
        }
      }
    }
    if (out.length == 0) null else UTF8String.fromString(out.toString)
  }

  def ics(b: Array[Byte]): UTF8String = {
    if (b == null || b.length < 15 ||
        b.length > EmlText.MaxInputBytes) return null
    if (!startsWithIgnoreCase(b, "BEGIN:VCALENDAR")) return null
    val out = new java.lang.StringBuilder
    var depth = 0 // inside a VEVENT/VTODO/VJOURNAL
    var emitted = false
    lines(b).foreach { ln =>
      if (out.length <= MaxTextChars) {
        val v = ln.value.trim.toUpperCase(java.util.Locale.ROOT)
        if (ln.name == "BEGIN" && IcsComponents.contains(v)) {
          if (emitted) out.append('\n')
          depth += 1
          emitted = false
        } else if (ln.name == "END" && IcsComponents.contains(v)) {
          if (depth > 0) depth -= 1
        } else if (depth > 0 && IcsProps.contains(ln.name)) {
          val dv = decodeValue(ln)
          if (dv != null && dv.trim.nonEmpty) {
            out.append(dv.trim).append('\n')
            emitted = true
          }
        }
      }
    }
    if (out.length == 0) null else UTF8String.fromString(out.toString)
  }
}
