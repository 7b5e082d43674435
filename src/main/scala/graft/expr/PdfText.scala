package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** PDF → text over a BINARY COLUMN — the distributed sibling of the
  * driver-side file reader ([[graft.sources.Documents]]), the same
  * lift [[EpubText]] gave the EPUB walk. PDF is the highest-frequency
  * extractable-text format a crawl corpus carries after HTML
  * (reference analogue: src/utils/file_utils.py:9-28, PyPDF2 per-page
  * `extract_text()` + "\n"), and crawl rows are blobs, so the
  * extraction must run where the rows are.
  *
  * The extraction core is the SHARED zero-dependency parser
  * ([[graft.sources.Documents.pdfToText]]): stream scan → filter
  * chains (Flate incl. raw-deflate fallback, PDF-variant LZW,
  * ASCIIHex, ASCII85, RunLength) → ToUnicode CMaps (bfchar/bfrange,
  * 1- and 2-byte codes, per-font via resource /Font resolution,
  * /Encoding /Differences glyph names) → text operators
  * (Tj/'/"/TJ, literal + hex strings, Td/TD/Tm/T* line breaks).
  *
  * Contract: not a PDF (no %PDF- header), oversized
  * (> [[graft.sources.Documents.MaxPdfBytes]]), or no parseable text
  * stream → NULL, never an error. Decode-bomb caps
  * ([[graft.sources.Documents.MaxStreamBytes]] per filtered stream)
  * fail the stream, not the task. Scale shape: a pure per-row
  * projection — no shuffle; the blob projects away immediately after.
  */
case class PdfText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${PdfText.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    PdfText.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.PdfText.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PdfText =
    copy(child = newChild)
}

object PdfText {
  val FunctionName = "graft_pdf_text"

  /** bytes → extracted text UTF8String, or null. Static for codegen. */
  def parse(b: Array[Byte]): UTF8String = {
    val out = graft.sources.Documents.pdfToText(b)
    if (out == null || out.isEmpty) null else UTF8String.fromString(out)
  }
}
