package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** DOCX → text over a BINARY COLUMN — the distributed sibling of the
  * driver-side file reader (reference analogue:
  * src/utils/file_utils.py:36-46, python-docx's top-level-paragraph
  * loop). Crawl corpora carry office documents as blobs; the two
  * pieces are both already shared code:
  *
  *  - the OPC archive is walked with [[EpubText]]'s hand zip walk
  *    (same local-header scan, inflate-bomb caps, CRC indifference —
  *    a DOCX is the same zip shape with a different payload entry);
  *  - `word/document.xml` goes through the SAME WordprocessingML walk
  *    as the file reader ([[graft.sources.Documents.docxXmlToText]]):
  *    one line per top-level `w:p`, `w:t` runs concatenated, `w:tab`
  *    → \t, `w:br`/`w:cr` → \n, table and text-box content excluded
  *    per the python-docx `doc.paragraphs` contract.
  *
  * `includeTables` opts INTO table text (the reference-parity default
  * excludes it, but a training corpus usually wants it): the walk
  * descends into `w:tbl` and every cell paragraph emits as its own
  * line in document order. SQL surface: `graft_docx_text(bin[, 1])`.
  *
  * Not a zip, no `word/document.xml` entry, or malformed XML → NULL,
  * never an error. Scale shape: pure per-row projection; the blob
  * projects away immediately after.
  */
case class DocxText(child: Expression, includeTables: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${DocxText.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    DocxText.parse(v.asInstanceOf[Array[Byte]], includeTables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.DocxText.parse($c, $includeTables);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): DocxText =
    copy(child = newChild)
}

object DocxText {
  val FunctionName = "graft_docx_text"

  /** bytes → extracted document text UTF8String, or null. Static for
    * codegen.
    */
  def parse(b: Array[Byte], includeTables: Boolean): UTF8String = {
    if (b == null || b.length < 30) return null
    if (!(b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4)) return null
    parseEntries(EpubText.zipEntries(b), includeTables)
  }

  /** Extraction over an already-walked zip (shared with
    * [[DocumentText]]'s single-walk dispatch).
    */
  private[expr] def parseEntries(
      entries: scala.collection.mutable.LinkedHashMap[String, Array[Byte]],
      includeTables: Boolean): UTF8String = {
    entries.get("word/document.xml") match {
      case None => null
      case Some(xml) =>
        val out = graft.sources.Documents.docxXmlToText(
          new java.io.ByteArrayInputStream(xml), includeTables)
        if (out == null || out.isEmpty) null else UTF8String.fromString(out)
    }
  }

  def parse(b: Array[Byte]): UTF8String = parse(b, includeTables = false)
}
