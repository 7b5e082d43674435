package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** TNEF (`winmail.dat`) extraction — `graft_tnef_text(content)` and
  * `graft_tnef_attachments(content[, max])` over the Transport
  * Neutral Encapsulation Format ([MS-OXTNEF], a public spec):
  * Outlook wraps a message's rich content and its attachments in one
  * attribute stream that rides along as an `application/ms-tnef`
  * MIME part, so mail dumps from Exchange-heavy corpora carry their
  * documents INSIDE winmail.dat rather than as ordinary parts.
  *
  * Structure: LE signature 0x223E9F78, a 16-bit legacy key, then
  * attributes — level byte (1 = message, 2 = attachment), 32-bit
  * id+type, 32-bit length, payload, and a 16-bit checksum (the
  * byte sum of the payload). Every checksum is VERIFIED; a mismatch
  * fails the whole parse closed (the format's own integrity gate).
  *
  *  - text: Subject (attSubject 0x8004, or MAPI PidTagSubject) line,
  *    blank line, plain body (attBody 0x800C, or MAPI PidTagBody
  *    0x1000 from attMAPIProps) — the [[EmlText]] convention;
  *  - attachments share [[EmlText.AttachmentSchema]]: grouped by
  *    attAttachRendData boundaries, content from attAttachData
  *    (0x800F) or a MAPI PidTagAttachDataBinary value, name
  *    preferring the MAPI long filename (0x3707) over attAttachTitle
  *    (0x8010), mime from the MAPI tag (0x370E);
  *  - the MAPI property walk (attMAPIProps / attAttachment payloads)
  *    handles standard and named properties, fixed and
  *    variable-length values with 4-byte padding; any bound
  *    violation abandons just that property list (names fall back),
  *    never the message;
  *  - atpString / PT_STRING8 values decode CP1252 (NUL-trimmed),
  *    PT_UNICODE values UTF-16LE.
  *
  * Compressed-RTF bodies (PidTagRtfCompressed, [MS-OXRTFCP]) are a
  * recorded clean-room boundary: the LZFu init dictionary is ~207
  * bytes of tabulated spec data with no structural self-check and no
  * offline producer exists to pin it, so RTF-only TNEF bodies triage
  * to the subject line rather than risk silently corrupted text
  * (COVERAGE.md "Permanent clean-room boundaries").
  *
  * Not TNEF / torn / checksum-bad → NULL, never an error; pure
  * per-row projections with the archive tier's size caps.
  */
case class TnefTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${Tnef.FunctionName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    Tnef.parse(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.Tnef.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      TnefTextExpr = copy(child = newChild)
}

case class TnefAttachments(child: Expression, maxAttachments: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(EmlText.AttachmentSchema, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${Tnef.AttachmentsName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxAttachments < 1 || maxAttachments > 4096)
      TypeCheckResult.TypeCheckFailure(
        s"${Tnef.AttachmentsName} max must be in [1, 4096]: " +
          s"$maxAttachments")
    else TypeCheckResult.TypeCheckSuccess
  override def nullSafeEval(v: Any): Any =
    Tnef.attachments(v.asInstanceOf[Array[Byte]], maxAttachments)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.Tnef.attachments($c, $maxAttachments);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      TnefAttachments = copy(child = newChild)
}

object Tnef {
  val FunctionName = "graft_tnef_text"
  val AttachmentsName = "graft_tnef_attachments"

  val Signature = 0x223e9f78L
  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  def isTnef(b: Array[Byte]): Boolean =
    b != null && b.length >= 6 &&
      (b(0) & 0xff) == 0x78 && (b(1) & 0xff) == 0x9f &&
      (b(2) & 0xff) == 0x3e && (b(3) & 0xff) == 0x22

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** One parsed attribute. */
  private final class Att(val level: Int, val id: Int,
    val data: Array[Byte])

  /** Walk the attribute stream, verifying each checksum. Null on any
    * structural or integrity violation — TNEF carries its own
    * per-attribute checksum, so a damaged stream is detectable and
    * must not half-extract.
    */
  private def attributes(b: Array[Byte]): Seq[Att] = {
    if (!isTnef(b) || b.length > EmlText.MaxInputBytes) return null
    val out = scala.collection.mutable.ArrayBuffer.empty[Att]
    var o = 6 // signature + legacy key
    while (o < b.length) {
      if (o + 9 > b.length) return null
      val level = b(o) & 0xff
      if (level != 1 && level != 2) return null
      val idType = le32(b, o + 1)
      val len = le32(b, o + 5)
      if (len < 0 || len > b.length - o - 11) return null
      val n = len.toInt
      val data = java.util.Arrays.copyOfRange(b, o + 9, o + 9 + n)
      var sum = 0
      var i = 0
      while (i < n) { sum = (sum + (data(i) & 0xff)) & 0xffff; i += 1 }
      if (sum != le16(b, o + 9 + n)) return null
      out += new Att(level, (idType & 0xffff).toInt, data)
      o += 9 + n + 2
    }
    out.toSeq
  }

  /** atpString payload: CP1252, trimmed at the first NUL. */
  private def atpString(data: Array[Byte]): String = {
    var n = 0
    while (n < data.length && data(n) != 0) n += 1
    new String(data, 0, n, Cp1252)
  }

  /** MAPI property list → (propertyId → value) for the string and
    * binary properties this tier reads. Returns null when the walk
    * desyncs (callers fall back, never fail).
    */
  private def mapiProps(data: Array[Byte]): Map[Int, Any] = {
    try {
      if (data.length < 4) return null
      val count = le32(data, 0)
      if (count < 0 || count > 4096) return null
      val out = scala.collection.mutable.Map.empty[Int, Any]
      var o = 4
      var p = 0L
      def pad4(n: Int): Int = (n + 3) & ~3
      while (p < count) {
        if (o + 4 > data.length) return null
        val v = le32(data, o)
        val ptype = (v & 0xffff).toInt
        val id = (v >>> 16).toInt
        o += 4
        if (id >= 0x8000) { // named property: GUID + kind + name/LID
          if (o + 20 > data.length) return null
          o += 16
          val kind = le32(data, o); o += 4
          if (kind == 1L) {
            if (o + 4 > data.length) return null
            val nameLen = le32(data, o)
            if (nameLen < 0 || nameLen > data.length - o - 4) return null
            o += 4 + pad4(nameLen.toInt)
          } else o += 4
        }
        val mv = (ptype & 0x1000) != 0
        val base = ptype & 0x0fff
        val variable = base == 0x001e || base == 0x001f ||
          base == 0x0102 || base == 0x000d
        if (variable || mv) {
          if (o + 4 > data.length) return null
          val nVals = le32(data, o); o += 4
          if (nVals < 0 || nVals > 4096) return null
          var k = 0L
          while (k < nVals) {
            if (o + 4 > data.length) return null
            val len = le32(data, o); o += 4
            if (len < 0 || len > data.length - o) return null
            if (k == 0 && !out.contains(id)) {
              val raw = java.util.Arrays.copyOfRange(data, o, o + len.toInt)
              out(id) = base match {
                case 0x001e => {
                  var n = 0
                  while (n < raw.length && raw(n) != 0) n += 1
                  new String(raw, 0, n, Cp1252)
                }
                case 0x001f => {
                  val even = raw.length & ~1
                  var n = 0
                  while (n + 1 < even && (raw(n) != 0 || raw(n + 1) != 0))
                    n += 2
                  new String(raw, 0, n, "UTF-16LE")
                }
                case _ => raw
              }
            }
            o += pad4(len.toInt)
            k += 1
          }
        } else {
          val size = base match {
            case 0x0002 | 0x000b => 4 // i2/bool pad to 4
            case 0x0003 | 0x0004 | 0x000a => 4
            case 0x0005 | 0x0006 | 0x0007 | 0x0014 | 0x0040 => 8
            case 0x0048 => 16 // CLSID
            case 0x0001 | 0x0000 => 0 // null/unspecified
            case _ => return null
          }
          if (o + size > data.length) return null
          o += size
        }
        p += 1
      }
      out.toMap
    } catch {
      case _: ArrayIndexOutOfBoundsException => null
    }
  }

  def parse(b: Array[Byte]): UTF8String = {
    val atts = attributes(b)
    if (atts == null) return null
    var subject: String = null
    var body: String = null
    atts.foreach { a =>
      if (a.level == 1) a.id match {
        case 0x8004 => if (subject == null) subject = atpString(a.data)
        case 0x800c => if (body == null) body = atpString(a.data)
        case 0x9003 =>
          val props = mapiProps(a.data)
          if (props != null) {
            if (subject == null) props.get(0x0037) match {
              case Some(s: String) => subject = s
              case _ => ()
            }
            if (body == null) props.get(0x1000) match {
              case Some(s: String) => body = s
              case _ => ()
            }
          }
        case _ => ()
      }
    }
    val out = new java.lang.StringBuilder
    if (subject != null && subject.nonEmpty)
      out.append("Subject: ").append(subject).append('\n').append('\n')
    if (body != null) {
      val t = body.replace("\r\n", "\n").trim
      if (t.nonEmpty) out.append(t).append('\n')
    }
    if (out.length == 0) null else UTF8String.fromString(out.toString)
  }

  def attachments(b: Array[Byte], max: Int): GenericArrayData = {
    val atts = attributes(b)
    if (atts == null) return null
    val rows = new java.util.ArrayList[GenericInternalRow]()
    var total = 0L
    var title: String = null
    var content: Array[Byte] = null
    var longName: String = null
    var mime: String = null
    var open = false
    def flush(): Unit = {
      if (open && content != null && rows.size < max &&
          content.length <= TarEntries.MaxEntryBytes &&
          total + content.length <= TarEntries.MaxTotalBytes) {
        val name =
          if (longName != null && longName.nonEmpty) longName
          else if (title != null && title.nonEmpty) title
          else s"part${rows.size}"
        total += content.length
        rows.add(new GenericInternalRow(Array[Any](
          UTF8String.fromString(name),
          UTF8String.fromString(
            if (mime != null && mime.nonEmpty)
              mime.toLowerCase(java.util.Locale.ROOT)
            else "application/octet-stream"),
          content)))
      }
      title = null; content = null; longName = null; mime = null
    }
    atts.foreach { a =>
      if (a.level == 2) a.id match {
        case 0x9002 => flush(); open = true // attAttachRendData
        case 0x8010 => if (title == null) title = atpString(a.data)
        case 0x800f => if (content == null) content = a.data
        case 0x9005 =>
          val props = mapiProps(a.data)
          if (props != null) {
            props.get(0x3707) match {
              case Some(s: String) => if (longName == null) longName = s
              case _ => ()
            }
            props.get(0x370e) match {
              case Some(s: String) => if (mime == null) mime = s
              case _ => ()
            }
            if (content == null) props.get(0x3701) match {
              case Some(raw: Array[Byte]) => content = raw
              case _ => ()
            }
          }
        case _ => ()
      }
    }
    flush()
    if (rows.isEmpty) return null
    val arr = new Array[Any](rows.size)
    var i = 0
    while (i < rows.size) { arr(i) = rows.get(i); i += 1 }
    new GenericArrayData(arr)
  }
}
