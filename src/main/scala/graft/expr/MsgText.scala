package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Outlook `.msg` extraction — `graft_msg_text(content)` and
  * `graft_msg_attachments(content[, max])` over the MSG compound-file
  * layout ([MS-OXMSG], a public spec): properties live as streams
  * named `__substg1.0_TTTTSSSS` (TTTT = property tag, SSSS = type:
  * 001F UTF-16LE string, 001E 8-bit string, 0102 binary), attachments
  * as `__attach_version1.0_#NNNNNNNN` storages, and an embedded
  * message as a `__substg1.0_3701000D` storage holding a full message
  * subtree. The container walk is the repo's [[Cfb]] reader, whose
  * directory-tree traversal path-qualifies nested stream names — the
  * attachment substorages repeat stream names, so the tree is the
  * only correct address space.
  *
  *  - text: the decoded Subject (tag 0037) line, a blank line, then
  *    the plain-text body (tag 1000) — the [[EmlText]] output
  *    convention, so a message's `.msg` and `.eml` forms extract
  *    identically; embedded messages append their own subject/body
  *    (the `message/rfc822` convention), depth-capped;
  *  - attachments: `array<struct<name, mime, content>>` sharing
  *    [[EmlText.AttachmentSchema]] — name prefers the long filename
  *    (3707) over the short (3704), mime from the MIME tag (370E),
  *    content the by-value bytes (3701 binary); embedded messages
  *    contribute THEIR attachments, mirroring rfc822 nesting;
  *  - 001F strings decode UTF-16LE; 001E strings decode CP1252 (the
  *    dominant ANSI mailbox codepage — per-store codepage properties
  *    live in fixed-width property streams this tier does not need).
  *
  * Not a MSG container / nothing extractable → NULL, never an error;
  * both are pure per-row projections. Size caps shared with the
  * archive tier ([[TarEntries]]).
  */
case class MsgTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${MsgText.FunctionName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    MsgText.parse(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.MsgText.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      MsgTextExpr = copy(child = newChild)
}

case class MsgAttachments(child: Expression, maxAttachments: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(EmlText.AttachmentSchema, containsNull = false)
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${MsgText.AttachmentsName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxAttachments < 1 || maxAttachments > 4096)
      TypeCheckResult.TypeCheckFailure(
        s"${MsgText.AttachmentsName} max must be in [1, 4096]: " +
          s"$maxAttachments")
    else TypeCheckResult.TypeCheckSuccess
  override def nullSafeEval(v: Any): Any =
    MsgText.attachments(v.asInstanceOf[Array[Byte]], maxAttachments)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.MsgText.attachments($c, $maxAttachments);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      MsgAttachments = copy(child = newChild)
}

object MsgText {
  val FunctionName = "graft_msg_text"
  val AttachmentsName = "graft_msg_attachments"

  val MaxTextChars: Int = 16 << 20
  private val MaxDepth = 8
  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** The defining MSG streams, at any level (an embedded message's
    * subtree alone would still be one).
    */
  private[graft] def isMsg(cfb: Cfb.File): Boolean =
    cfb.streams.keysIterator.exists(k =>
      k.startsWith("__substg1.0_") ||
        k.startsWith("__properties_version1.0"))

  /** String property under `pfx`: 001F (UTF-16LE) preferred, 001E
    * (CP1252) fallback; null when absent.
    */
  private def str(cfb: Cfb.File, pfx: String, tag: String): String = {
    cfb.streams.get(pfx + "__substg1.0_" + tag + "001F") match {
      case Some(b) =>
        new String(b, 0, b.length & ~1, "UTF-16LE")
      case None =>
        cfb.streams.get(pfx + "__substg1.0_" + tag + "001E")
          .map(new String(_, Cp1252)).orNull
    }
  }

  /** Attachment storage prefixes under `pfx`, in #index order. */
  private def attachPrefixes(cfb: Cfb.File, pfx: String): Seq[String] = {
    val head = pfx + "__attach_version1.0_#"
    cfb.streams.keysIterator.flatMap { k =>
      if (k.startsWith(head)) {
        val slash = k.indexOf('/', head.length)
        if (slash > 0) Some(k.substring(0, slash + 1)) else None
      } else None
    }.toSeq.distinct.sorted
  }

  private def embeddedPrefix(cfb: Cfb.File, attPfx: String): Option[String] = {
    val p = attPfx + "__substg1.0_3701000D/"
    if (cfb.streams.keysIterator.exists(_.startsWith(p))) Some(p) else None
  }

  private def emit(cfb: Cfb.File, pfx: String, depth: Int,
      out: java.lang.StringBuilder): Unit = {
    if (depth > MaxDepth || out.length > MaxTextChars) return
    val subject = str(cfb, pfx, "0037")
    if (subject != null && subject.nonEmpty) {
      out.append("Subject: ").append(subject).append('\n').append('\n')
    }
    val body = str(cfb, pfx, "1000")
    if (body != null) {
      val t = body.replace("\r\n", "\n").trim
      if (t.nonEmpty) out.append(t).append('\n')
    }
    // embedded messages read like forwarded mail: their subject and
    // body follow, exactly as message/rfc822 parts do in EmlText
    attachPrefixes(cfb, pfx).foreach { ap =>
      embeddedPrefix(cfb, ap).foreach(ep => emit(cfb, ep, depth + 1, out))
    }
  }

  def parse(b: Array[Byte]): UTF8String = {
    if (b == null || b.length > EmlText.MaxInputBytes) return null
    val cfb = Cfb.parse(b)
    if (cfb == null || !isMsg(cfb)) return null
    fromCfb(cfb)
  }

  /** Extraction over an already-parsed container — [[DocumentText]]
    * dispatches a CFB once across the .doc/.xls/.ppt/.msg arms.
    */
  private[graft] def fromCfb(cfb: Cfb.File): UTF8String = {
    val out = new java.lang.StringBuilder
    emit(cfb, "", 0, out)
    if (out.length == 0) null else UTF8String.fromString(out.toString)
  }

  private def collect(cfb: Cfb.File, pfx: String, depth: Int, max: Int,
      rows: java.util.ArrayList[GenericInternalRow],
      total: Array[Long]): Unit = {
    if (depth > MaxDepth) return
    attachPrefixes(cfb, pfx).foreach { ap =>
      if (rows.size < max && total(0) < TarEntries.MaxTotalBytes) {
        cfb.streams.get(ap + "__substg1.0_37010102") match {
          case Some(content) =>
            if (content.length <= TarEntries.MaxEntryBytes &&
                total(0) + content.length <= TarEntries.MaxTotalBytes) {
              val name = {
                val long = str(cfb, ap, "3707")
                val short = if (long != null && long.nonEmpty) long
                  else str(cfb, ap, "3704")
                if (short != null && short.nonEmpty) short
                else s"part${rows.size}"
              }
              val mime = {
                val m = str(cfb, ap, "370E")
                if (m != null && m.nonEmpty)
                  m.toLowerCase(java.util.Locale.ROOT)
                else "application/octet-stream"
              }
              total(0) += content.length
              rows.add(new GenericInternalRow(Array[Any](
                UTF8String.fromString(name), UTF8String.fromString(mime),
                content)))
            }
          case None =>
            // embedded message: contribute ITS attachments (the
            // rfc822 nesting convention)
            embeddedPrefix(cfb, ap).foreach(ep =>
              collect(cfb, ep, depth + 1, max, rows, total))
        }
      }
    }
  }

  def attachments(b: Array[Byte], max: Int): GenericArrayData = {
    if (b == null || b.length > EmlText.MaxInputBytes) return null
    val cfb = Cfb.parse(b)
    if (cfb == null || !isMsg(cfb)) return null
    val rows = new java.util.ArrayList[GenericInternalRow]()
    collect(cfb, "", 0, max, rows, Array(0L))
    if (rows.isEmpty) return null
    val arr = new Array[Any](rows.size)
    var i = 0
    while (i < rows.size) { arr(i) = rows.get(i); i += 1 }
    new GenericArrayData(arr)
  }
}
