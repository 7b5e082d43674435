package graft.expr

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** EPUB → text over a BINARY COLUMN — the distributed sibling of the
  * driver-side file reader ([[graft.sources.Documents]]): crawl dumps
  * carry books as blobs, so the extraction has to run where the rows
  * are. The package walk (container.xml → OPF spine → chapters
  * through the shared HTML strip chain) is the SAME shared code as
  * the file reader; what differs is the archive access:
  *
  *  - a HAND zip walk over the byte array, reading LOCAL file headers
  *    sequentially (`PK`: method, flags, sizes, name) —
  *    the central directory is never needed, and the stored CRCs are
  *    deliberately IGNORED (a flipped bit in one chapter should cost
  *    that chapter, not the book — and fixtures replay relationally
  *    without computing CRC32 in SQL);
  *  - STORED entries slice directly; DEFLATED entries inflate through
  *    `java.util.zip.Inflater(nowrap)` under an 8 MiB/entry inflate
  *    cap (zip-bomb guard) and 64 MiB/archive total;
  *  - entries written with a DATA DESCRIPTOR (flag bit 3: sizes
  *    unknown in the header, the form `ZipOutputStream` emits for
  *    deflated entries) still decode — the inflater's consumed-byte
  *    count locates the next header, and the optional `PK`
  *    descriptor is skipped by signature;
  *  - at most 1000 entries are indexed (triage cap).
  *
  * Not a zip (no `PK`), no chapters found, or nothing
  * extractable → NULL, never an error. Scale shape: pure per-row
  * projection; the blob projects away immediately after.
  */
case class EpubText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${EpubText.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    EpubText.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.EpubText.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): EpubText =
    copy(child = newChild)
}

object EpubText {
  val FunctionName = "graft_epub_text"

  val MaxEntryBytes: Int = 8 << 20
  val MaxTotalBytes: Long = 64L << 20
  val MaxEntries = 1000

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)

  private def u32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
      ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)

  /** Local-header zip walk → (name → inflated content), CRCs ignored,
    * damage ends the walk with the entries collected. Returns entries
    * in archive order. Shared with [[DocxText]] (same OPC zip shape,
    * different payload entry).
    */
  private[expr] def zipEntries(b: Array[Byte]):
      scala.collection.mutable.LinkedHashMap[String, Array[Byte]] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Array[Byte]]()
    var o = 0
    var total = 0L
    while (out.size < MaxEntries && o + 30 <= b.length &&
      b(o) == 'P' && b(o + 1) == 'K' && b(o + 2) == 3 && b(o + 3) == 4) {
      val flags = u16(b, o + 6)
      val method = u16(b, o + 8)
      val csize = u32(b, o + 18)
      val usize = u32(b, o + 22)
      val nameLen = u16(b, o + 26)
      val extraLen = u16(b, o + 28)
      val nameOff = o + 30
      if (nameOff + nameLen + extraLen > b.length) return out // truncated
      val name = new String(b, nameOff, nameLen, StandardCharsets.UTF_8)
      val dataOff = nameOff + nameLen + extraLen
      val descriptor = (flags & 8) != 0
      if (method == 0) {
        // STORED: sizes must be in the header (a descriptor-stored
        // entry is unsizable — stop with what we have)
        if (descriptor && csize == 0) return out
        if (dataOff + csize > b.length) return out // truncated
        if (csize <= MaxEntryBytes && total + csize <= MaxTotalBytes) {
          val d = new Array[Byte](csize.toInt)
          System.arraycopy(b, dataOff, d, 0, csize.toInt)
          out.put(name, d)
          total += csize
        }
        o = dataOff + csize.toInt
        // a stored entry MAY still carry the optional data
        // descriptor (flag bit 3 with header sizes present) — skip
        // it by signature the same way the deflate branch does, or
        // the next local-header magic check silently drops the rest
        if (descriptor) {
          if (o + 4 <= b.length && b(o) == 'P' && b(o + 1) == 'K' &&
            b(o + 2) == 7 && b(o + 3) == 8) o += 16
          else o += 12
        }
      } else if (method == 8) {
        val inf = new java.util.zip.Inflater(true)
        inf.setInput(b, dataOff, b.length - dataOff)
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var ok = true
        try {
          while (ok && !inf.finished()) {
            val n = inf.inflate(chunk)
            if (n > 0) {
              if (buf.size + n > MaxEntryBytes) ok = false // inflate bomb
              else buf.write(chunk, 0, n)
            } else if (!inf.finished()) ok = false // needs more input: truncated
          }
        } catch { case _: Exception => ok = false } // corrupt stream
        val consumed = inf.getBytesRead.toInt
        inf.end()
        if (!ok) return out
        if (total + buf.size <= MaxTotalBytes) {
          out.put(name, buf.toByteArray)
          total += buf.size
        }
        o = dataOff + consumed
        // optional data descriptor: signed form is 16 bytes, bare 12
        if (descriptor) {
          if (o + 4 <= b.length && b(o) == 'P' && b(o + 1) == 'K' &&
            b(o + 2) == 7 && b(o + 3) == 8) o += 16
          else o += 12
        }
      } else return out // exotic compression: keep what's decoded
    }
    out
  }

  /** bytes → extracted book text UTF8String, or null. Static for
    * codegen.
    */
  def parse(b: Array[Byte]): UTF8String = {
    if (b == null || b.length < 30) return null
    if (!(b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4)) return null
    parseEntries(zipEntries(b))
  }

  /** Extraction over an already-walked zip — [[DocumentText]]
    * dispatches one walk across all five zip-family arms.
    */
  private[expr] def parseEntries(
      entries: scala.collection.mutable.LinkedHashMap[String, Array[Byte]])
      : UTF8String = {
    if (entries.isEmpty) return null
    def read(n: String): Option[String] =
      entries.get(n).map(new String(_, StandardCharsets.UTF_8))
    val hrefs = graft.sources.Documents.epubChapterNames(read,
      entries.keys.toSeq)
    if (hrefs.isEmpty) return null
    val sb = new StringBuilder
    hrefs.foreach { h =>
      read(h).foreach { xhtml =>
        val t = graft.sources.Documents.htmlToTextString(xhtml)
        if (t.nonEmpty) { sb.append(t); sb.append('\n') }
      }
    }
    if (sb.isEmpty) null else UTF8String.fromString(sb.toString)
  }
}
