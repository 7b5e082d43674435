package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** PPTX / XLSX text extraction over binary columns — the remaining
  * two OOXML members next to [[DocxText]], sharing [[EpubText]]'s
  * hand zip walk and the same XXE-hardened namespace-aware DOM
  * discipline as the DOCX path:
  *
  *  - `graft_pptx_text`: slides in NUMERIC order
  *    (`ppt/slides/slideN.xml` sorts 2 before 10), one line per
  *    `a:p` paragraph, `a:t` runs concatenated — titles, bullets and
  *    body text in document order; slides separated like paragraphs;
  *  - `graft_xlsx_text`: the shared-strings table resolved
  *    (`t="s"` cells index `xl/sharedStrings.xml`, each `si`'s `t`
  *    runs concatenated — rich-text strings flatten), inline strings
  *    (`t="inlineStr"`, `is/t`) and raw `v` values (numbers, dates,
  *    booleans as stored) emitted in sheet order, one line per row,
  *    cells tab-joined.
  *
  * Not a zip / missing the defining entries / malformed XML → NULL,
  * never an error. Pure per-row projections; [[DocumentText]]
  * dispatches both by their defining entry names.
  */
case class PptxText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${OfficeText.PptxName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    OfficeText.pptx(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.OfficeText.pptx($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      PptxText = copy(child = newChild)
}

case class XlsxText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${OfficeText.XlsxName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    OfficeText.xlsx(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.OfficeText.xlsx($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      XlsxText = copy(child = newChild)
}

object OfficeText {
  val PptxName = "graft_pptx_text"
  val XlsxName = "graft_xlsx_text"

  private val builder =
    new ThreadLocal[javax.xml.parsers.DocumentBuilder] {
      override def initialValue(): javax.xml.parsers.DocumentBuilder = {
        val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
        dbf.setNamespaceAware(true)
        dbf.setFeature(
          "http://apache.org/xml/features/disallow-doctype-decl", true)
        dbf.newDocumentBuilder()
      }
    }

  private def parseXml(bytes: Array[Byte]): org.w3c.dom.Document =
    try {
      val b = builder.get()
      b.reset()
      b.parse(new java.io.ByteArrayInputStream(bytes))
    } catch { case _: Exception => null }

  private def localName(n: org.w3c.dom.Node): String =
    Option(n.getLocalName).getOrElse(n.getNodeName.split(':').last)

  /** Numeric-suffix sort: slide2 before slide10, sheet2 before
    * sheet10.
    */
  private def numericOrder(keys: Iterable[String],
      prefix: String): Seq[String] =
    keys.filter(k => k.startsWith(prefix) && k.endsWith(".xml"))
      .toSeq.sortBy { k =>
        val digits = k.stripPrefix(prefix).takeWhile(_.isDigit)
        if (digits.isEmpty) Long.MaxValue else digits.toLong
      }

  /** All text content of descendant elements named `t` (any OOXML
    * prefix), with a newline at each paragraph (`p`) boundary.
    */
  private def collectParagraphs(node: org.w3c.dom.Node,
      out: StringBuilder): Unit = {
    var child = node.getFirstChild
    while (child != null) {
      if (child.getNodeType == org.w3c.dom.Node.ELEMENT_NODE) {
        localName(child) match {
          case "p" =>
            val before = out.length
            collectParagraphs(child, out)
            if (out.length > before) out.append('\n')
          case "t" =>
            out.append(child.getTextContent)
          case _ =>
            collectParagraphs(child, out)
        }
      }
      child = child.getNextSibling
    }
  }

  def pptx(b: Array[Byte]): UTF8String = {
    if (b == null || b.length < 30) return null
    if (!(b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4)) return null
    pptxEntries(EpubText.zipEntries(b))
  }

  private[expr] def pptxEntries(
      entries: scala.collection.mutable.LinkedHashMap[String, Array[Byte]])
      : UTF8String = {
    val slides = numericOrder(entries.keys, "ppt/slides/slide")
    if (slides.isEmpty) return null
    val out = new StringBuilder
    slides.foreach { name =>
      val doc = parseXml(entries(name))
      if (doc != null) collectParagraphs(doc.getDocumentElement, out)
    }
    if (out.isEmpty) null else UTF8String.fromString(out.toString)
  }

  def xlsx(b: Array[Byte]): UTF8String = {
    if (b == null || b.length < 30) return null
    if (!(b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4)) return null
    xlsxEntries(EpubText.zipEntries(b))
  }

  private[expr] def xlsxEntries(
      entries: scala.collection.mutable.LinkedHashMap[String, Array[Byte]])
      : UTF8String = {
    val sheets = numericOrder(entries.keys, "xl/worksheets/sheet")
    if (sheets.isEmpty) return null
    // shared strings: each si flattens its t runs (rich text)
    val shared: IndexedSeq[String] = entries.get("xl/sharedStrings.xml")
      .flatMap(x => Option(parseXml(x))) match {
      case None => IndexedSeq.empty
      case Some(doc) =>
        val sis = doc.getElementsByTagNameNS("*", "si")
        (0 until sis.getLength).map { i =>
          val sb = new StringBuilder
          val ts = sis.item(i).asInstanceOf[org.w3c.dom.Element]
            .getElementsByTagNameNS("*", "t")
          (0 until ts.getLength).foreach(j => sb.append(
            ts.item(j).getTextContent))
          sb.toString
        }
    }
    val out = new StringBuilder
    sheets.foreach { name =>
      val doc = parseXml(entries(name))
      if (doc != null) {
        val rows = doc.getElementsByTagNameNS("*", "row")
        (0 until rows.getLength).foreach { r =>
          val cells = rows.item(r).asInstanceOf[org.w3c.dom.Element]
            .getElementsByTagNameNS("*", "c")
          val texts = (0 until cells.getLength).map { ci =>
            val c = cells.item(ci).asInstanceOf[org.w3c.dom.Element]
            val t = c.getAttribute("t")
            val text =
              if (t == "s") {
                val vs = c.getElementsByTagNameNS("*", "v")
                if (vs.getLength == 0) ""
                else {
                  val idx = vs.item(0).getTextContent.trim
                  val i = try idx.toInt catch { case _: Exception => -1 }
                  if (i >= 0 && i < shared.length) shared(i) else ""
                }
              } else if (t == "inlineStr") {
                val ts = c.getElementsByTagNameNS("*", "t")
                (0 until ts.getLength).map(ts.item(_).getTextContent)
                  .mkString
              } else {
                val vs = c.getElementsByTagNameNS("*", "v")
                if (vs.getLength == 0) "" else vs.item(0).getTextContent
              }
            text
          }
          if (texts.exists(_.nonEmpty)) // all-empty rows emit nothing
            out.append(texts.mkString("\t")).append('\n')
        }
      }
    }
    if (out.isEmpty) null else UTF8String.fromString(out.toString)
  }
}
