package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTTP payload split with the body kept as RAW BYTES — the binary
  * sibling of [[HttpText]] for the crawl records whose bodies aren't
  * text: PDFs, office documents, images, audio. A crawl's document
  * corpus arrives as `application/pdf` (etc.) HTTP responses inside
  * WARC files, and the extraction tier ([[PdfText]], [[DocxText]],
  * the image/audio decoders) consumes binary columns — this
  * expression is the bridge. Same byte-level CRLFCRLF boundary and
  * ASCII header parse as [[HttpText]] (shared code); no charset
  * machinery, because the body is returned undecoded.
  *
  * Returns struct(http_status, content_type, body) — a payload
  * without a status line keeps NULL status and empty content_type; a
  * payload without the CRLFCRLF boundary keeps an EMPTY body (the
  * same truncated-response triage as the text sibling). Pure per-row
  * projection; the payload projects away immediately after.
  */
case class HttpBody(child: Expression) extends UnaryExpression {

  override def dataType: DataType = HttpBody.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${HttpBody.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    HttpBody.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.HttpBody.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HttpBody =
    copy(child = newChild)
}

object HttpBody {
  val FunctionName = "graft_http_body"

  val Schema: StructType = StructType(Seq(
    StructField("http_status", IntegerType, nullable = true),
    StructField("content_type", StringType, nullable = false),
    StructField("body", BinaryType, nullable = false)))

  /** bytes → (status, content_type, body) InternalRow, or null on
    * null/empty input. Static for codegen.
    */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length == 0) return null
    val (status, contentType, _, bodyFrom) = HttpText.headerInfo(b)
    // chunked framing removed, Content-Encoding decompressed — a
    // crawl's application/pdf response is routinely gzip-on-the-wire
    val body = HttpText.decodedBody(b, bodyFrom)
    new GenericInternalRow(Array[Any](status,
      UTF8String.fromString(contentType), body))
  }
}
