package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_document_text(content)` → string — ONE magic-dispatched
  * text-extraction surface over the document tier
  * ([[Decompress]]'s document sibling): a mixed dump of
  * PDF / DOCX / PPTX / XLSX / EPUB / RTF / legacy .doc/.xls/.ppt blobs
  * extracts through one expression with no per-format branching in
  * the pipeline.
  *
  * Dispatch: `%PDF-` → the PDF extractor (incl. the encrypted-PDF
  * handler); `PK\3\4` zips are walked ONCE and discriminated by
  * their actual entry names (DOCX/PPTX/XLSX defining entries, the
  * ODF/EPUB stored `mimetype`), the inflated entries handed straight
  * to the winning extractor; `{\rtf` → RTF; the CFB signature parses
  * the container once and routes by directory-entry name —
  * `WordDocument` → .doc, `Workbook` → BIFF8 .xls,
  * `PowerPoint Document` → .ppt, `__substg1.0_*` property streams →
  * Outlook .msg; RFC-5322 messages dispatch on a
  * conservative structural sniff (mbox envelope or a mail-defining
  * first header, re-checked by the extractor). Unrecognized magic → NULL — plain text/markdown
  * columns should not round-trip through a document parser, and a
  * binary blob that merely decodes as UTF-8 is not a document.
  * Each arm inherits its extractor's triage contract (NULL, never
  * an error). Pure per-row projection.
  */
case class DocumentTextExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${DocumentText.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(b: Any): Any =
    DocumentText.parse(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.expr.DocumentText.parse($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      DocumentTextExpr = copy(child = newChild)
}

object DocumentText {
  val FunctionName = "graft_document_text"

  /** RFC-5322 sniff: the first line is an mbox envelope or a
    * mail-defining header. Conservative on purpose — ordinary text
    * must keep returning NULL.
    */
  private def looksLikeMail(b: Array[Byte]): Boolean = {
    val n = math.min(b.length, 16)
    val head = new String(b, 0, n, "ISO-8859-1")
      .toLowerCase(java.util.Locale.ROOT)
    head.startsWith("from ") || head.startsWith("from:") ||
      head.startsWith("return-path:") || head.startsWith("received:") ||
      head.startsWith("subject:") || head.startsWith("mime-version:")
  }

  def parse(b: Array[Byte]): UTF8String = {
    if (b == null || b.length < 5) return null
    if (b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F' &&
        b(4) == '-')
      PdfText.parse(b)
    else if (b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4) {
      // ONE zip walk for the whole zip family: discriminate on the
      // actual entry NAMES (exact — stronger than scanning raw bytes,
      // which can false-positive on compressed data), then hand the
      // already-inflated entries to the winning extractor. Replaces
      // up to five O(n·m) whole-blob scans + a second walk inside the
      // extractor with one pass.
      val entries = EpubText.zipEntries(b)
      val keys = entries.keySet
      if (keys.contains("word/document.xml"))
        DocxText.parseEntries(entries, includeTables = false)
      else if (keys.exists(_.startsWith("ppt/slides/slide")))
        OfficeText.pptxEntries(entries)
      else if (keys.exists(_.startsWith("xl/worksheets/sheet")))
        OfficeText.xlsxEntries(entries)
      else if (entries.get("mimetype").exists(m =>
          new String(m, "ISO-8859-1").trim
            .startsWith("application/vnd.oasis.opendocument")))
        OdfText.parseEntries(entries)
      else if (entries.get("mimetype").exists(m =>
          new String(m, "ISO-8859-1").trim == "application/epub+zip") ||
          keys.contains("META-INF/container.xml"))
        EpubText.parseEntries(entries)
      else null // a plain zip is an archive, not a document
    } else if (b(0) == '{' && b(1) == '\\' && b(2) == 'r' && b(3) == 't' &&
        b(4) == 'f')
      RtfToText.extract(UTF8String.fromBytes(b))
    else if (Tnef.isTnef(b))
      Tnef.parse(b) // winmail.dat: checksum-verified attribute walk
    else if (VcardText.startsWithIgnoreCase(b, "BEGIN:VCARD"))
      VcardText.vcard(b)
    else if (VcardText.startsWithIgnoreCase(b, "BEGIN:VCALENDAR"))
      VcardText.ics(b)
    else if (LatexText.looksLikeTex(b))
      LatexText.parse(b) // .tex: \documentclass / \begin{document}
    else if (looksLikeMail(b))
      // RFC-5322 has no magic; the gate is structural — a header
      // block with a mail-defining header (EmlText re-checks)
      EmlText.parse(b)
    else if (Cfb.isCfb(b)) {
      // one container parse, routed by directory-entry name: Word,
      // Excel 97 (BIFF8) and PowerPoint 97 share the CFB shell
      val cfb = Cfb.parse(b)
      if (cfb == null) null
      else if (cfb.streams.contains("WordDocument")) DocText.fromCfb(cfb)
      else if (cfb.streams.contains("Workbook") ||
          cfb.streams.contains("Book"))
        LegacyOffice.xlsFromCfb(cfb)
      else if (cfb.streams.contains("PowerPoint Document"))
        LegacyOffice.pptFromCfb(cfb)
      else if (MsgText.isMsg(cfb)) MsgText.fromCfb(cfb)
      else null // .msi / unknown CFB: out of subset
    } else null
  }
}
