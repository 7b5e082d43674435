package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** OpenDocument text extraction — `graft_odf_text(content)` over
  * odt / ods / odp, the LibreOffice-export family next to the OOXML
  * members. Same zip walk as EPUB/OOXML ([[EpubText.zipEntries]]),
  * different XML: one `content.xml` under `office:` namespaces,
  * discriminated EXACTLY by the `mimetype` entry (the ODF spec
  * stores it uncompressed as the archive's first entry, so the
  * magic scan in [[DocumentText]] sees the literal string):
  *
  *  - `.text` (odt) and `.presentation` (odp): one line per
  *    `text:p` / `text:h` paragraph in document order (odp pages
  *    nest them inside `draw:` frames — same walk), matching the
  *    DOCX/PPTX paragraph convention;
  *  - `.spreadsheet` (ods): `table:table-row` → one line per row,
  *    `table:table-cell`s tab-joined, each cell its paragraphs
  *    joined by a space; `table:number-columns-repeated` expands
  *    NON-EMPTY cells (capped) and collapses for empty ones — the
  *    XLSX convention of joining only what carries content, without
  *    letting a million-column filler row detonate the line.
  *
  * Inside paragraphs the ODF whitespace elements materialize:
  * `text:s` (c repeated spaces), `text:tab` → \t,
  * `text:line-break` → \n; other descendants (spans, links)
  * contribute their text content in document order.
  *
  * Not a zip / wrong or missing mimetype / malformed XML → NULL,
  * never an error. Pure per-row projection.
  */
case class OdfTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${OdfText.FunctionName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    OdfText.parse(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.OdfText.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      OdfTextExpr = copy(child = newChild)
}

object OdfText {
  val FunctionName = "graft_odf_text"

  val MaxTextChars: Int = 16 << 20
  private val MaxCellRepeat = 64

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

  /** Namespace-agnostic integer attribute by local name. */
  private def attrByLocal(n: org.w3c.dom.Node, local: String,
      default: Int): Int = {
    val attrs = n.getAttributes
    if (attrs == null) return default
    var i = 0
    while (i < attrs.getLength) {
      val a = attrs.item(i)
      if (localName(a) == local)
        return try a.getNodeValue.toInt catch {
          case _: NumberFormatException => default
        }
      i += 1
    }
    default
  }

  /** Paragraph text with the ODF whitespace elements materialized. */
  private def paraText(node: org.w3c.dom.Node,
      sb: java.lang.StringBuilder): Unit = {
    var child = node.getFirstChild
    while (child != null) {
      child.getNodeType match {
        case org.w3c.dom.Node.TEXT_NODE |
            org.w3c.dom.Node.CDATA_SECTION_NODE =>
          sb.append(child.getNodeValue)
        case org.w3c.dom.Node.ELEMENT_NODE =>
          localName(child) match {
            case "s" =>
              val c = math.min(math.max(attrByLocal(child, "c", 1), 0), 4096)
              var i = 0
              while (i < c) { sb.append(' '); i += 1 }
            case "tab" => sb.append('\t')
            case "line-break" => sb.append('\n')
            // reviewer comments anchored inside a paragraph are not
            // body text (the DOCX convention: comments don't extract)
            case "annotation" | "annotation-end" => ()
            case _ => paraText(child, sb)
          }
        case _ => ()
      }
      child = child.getNextSibling
    }
  }

  /** One line per text:p / text:h in document order (odt, odp). */
  private def collectParas(node: org.w3c.dom.Node,
      out: java.lang.StringBuilder): Unit = {
    var child = node.getFirstChild
    while (child != null && out.length <= MaxTextChars) {
      if (child.getNodeType == org.w3c.dom.Node.ELEMENT_NODE) {
        localName(child) match {
          case "p" | "h" =>
            val before = out.length
            paraText(child, out)
            if (out.length > before) out.append('\n')
          // annotations hold text:p paragraphs of their own — reviewer
          // comments, not document body; skip the subtree
          case "annotation" | "annotation-end" => ()
          case _ => collectParas(child, out)
        }
      }
      child = child.getNextSibling
    }
  }

  /** Rows tab-joined (ods); each cell's paragraphs space-joined. */
  private def collectSheets(doc: org.w3c.dom.Document,
      out: java.lang.StringBuilder): Unit = {
    val rows = doc.getElementsByTagNameNS("*", "table-row")
    var r = 0
    while (r < rows.getLength && out.length <= MaxTextChars) {
      val row = rows.item(r).asInstanceOf[org.w3c.dom.Element]
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      var cell = row.getFirstChild
      while (cell != null) {
        if (cell.getNodeType == org.w3c.dom.Node.ELEMENT_NODE &&
            (localName(cell) == "table-cell" ||
              localName(cell) == "covered-table-cell")) {
          val el = cell.asInstanceOf[org.w3c.dom.Element]
          val sb = new java.lang.StringBuilder
          var p = cell.getFirstChild
          while (p != null) {
            if (p.getNodeType == org.w3c.dom.Node.ELEMENT_NODE &&
                localName(p) == "p") {
              if (sb.length > 0) sb.append(' ')
              paraText(p, sb)
            }
            p = p.getNextSibling
          }
          val text = sb.toString
          val rep = math.max(1, attrByLocal(el, "number-columns-repeated", 1))
          if (text.isEmpty) texts += ""
          else {
            var k = 0
            while (k < math.min(rep, MaxCellRepeat)) { texts += text; k += 1 }
          }
        }
        cell = cell.getNextSibling
      }
      if (texts.exists(_.nonEmpty)) {
        // trailing empties collapse (the repeated-filler convention);
        // number-rows-repeated re-emits non-empty rows (capped) the
        // same way repeated cells do
        val last = texts.lastIndexWhere(_.nonEmpty)
        val line = texts.take(last + 1).mkString("\t")
        val rep = math.min(math.max(
          attrByLocal(row, "number-rows-repeated", 1), 1), MaxCellRepeat)
        var k = 0
        while (k < rep) { out.append(line).append('\n'); k += 1 }
      }
      r += 1
    }
  }

  def parse(b: Array[Byte]): UTF8String = {
    if (b == null || b.length < 30) return null
    if (!(b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4)) return null
    parseEntries(EpubText.zipEntries(b))
  }

  private[expr] def parseEntries(
      entries: scala.collection.mutable.LinkedHashMap[String, Array[Byte]])
      : UTF8String = {
    val mime = entries.get("mimetype") match {
      case Some(m) => new String(m, "ISO-8859-1").trim
      case None => return null
    }
    if (!mime.startsWith("application/vnd.oasis.opendocument.")) return null
    val content = entries.getOrElse("content.xml", return null)
    val doc = parseXml(content)
    if (doc == null) return null
    val out = new java.lang.StringBuilder
    mime.stripPrefix("application/vnd.oasis.opendocument.") match {
      case "spreadsheet" => collectSheets(doc, out)
      case "text" | "presentation" =>
        collectParas(doc.getDocumentElement, out)
      case _ => return null // graphics/formula/...: out of subset
    }
    if (out.length == 0) null else UTF8String.fromString(out.toString)
  }
}
