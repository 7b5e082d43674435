package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Legacy-office text extraction — the two remaining pre-2007 members
  * next to [[DocText]], sharing its [[Cfb]] compound-file walk:
  *
  *  - `graft_xls_text`: Excel 97–2003 (BIFF8) over the `Workbook`
  *    stream. The record walk covers the cell-content subset: the
  *    shared-string table (SST with its CONTINUE spill — strings may
  *    split at CHARACTER boundaries only, each continuation segment
  *    re-leading with a fresh high-byte flag so the encoding can
  *    switch mid-string), LABELSST, inline LABEL, NUMBER (IEEE
  *    double), RK / MULRK (the packed 30-bit int / x100 encodings),
  *    RSTRING, BOOLERR and FORMULA cached results (the inline
  *    double, or the tagged string/boolean/empty forms with the
  *    string value in the following STRING record — the cached
  *    result IS the visible text of a formula cell). Output mirrors
  *    the XLSX convention
  *    exactly: one line per row, cells tab-joined in column order,
  *    sheets in stream order; numbers render integral-as-integer so
  *    a value round-trips identically through .xls and .xlsx.
  *    BIFF5/7 (Excel 5.0/95, the `Book` stream) decodes through the
  *    same record walk with its inline CP1252 byte strings (no
  *    SST). A FILEPASS record (encryption) triages to NULL.
  *
  *  - `graft_ppt_text`: PowerPoint 97–2003 over the
  *    `PowerPoint Document` stream — a recursive record walk
  *    (containers carry recVer 0xF) collecting TextCharsAtom
  *    (UTF-16LE) and TextBytesAtom (CP1252) payloads in stream
  *    order, one line per paragraph (the \r / vertical-tab separators),
  *    the PPTX convention. Incrementally-saved decks resolve through
  *    the CurrentUserAtom → UserEditAtom chain → PersistDirectory
  *    walk, so only LIVE objects contribute (stale slide versions
  *    from earlier edits are skipped; newest definition of each
  *    persist id wins); files without a parseable directory fall
  *    back to the linear stream walk, and encrypted decks triage.
  *
  * Both are NULL-never-error per-row projections;
  * [[DocumentText]] routes CFBs here by directory-entry name.
  */
case class XlsTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${LegacyOffice.XlsName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    LegacyOffice.xls(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.LegacyOffice.xls($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      XlsTextExpr = copy(child = newChild)
}

case class PptTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${LegacyOffice.PptName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    LegacyOffice.ppt(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.LegacyOffice.ppt($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      PptTextExpr = copy(child = newChild)
}

object LegacyOffice {
  val XlsName = "graft_xls_text"
  val PptName = "graft_ppt_text"

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  val MaxTextChars: Int = 16 << 20

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  // ===================================================================
  // .xls (BIFF8)
  // ===================================================================

  def xls(b: Array[Byte]): UTF8String = {
    val cfb = Cfb.parse(b)
    if (cfb == null) return null
    xlsFromCfb(cfb)
  }

  private[graft] def xlsFromCfb(cfb: Cfb.File): UTF8String = {
    // BIFF8 names the stream "Workbook"; BIFF5/7 (Excel 5.0/95)
    // names it "Book" and uses inline CP1252 byte strings with no
    // SST — same record walk, different string wire format
    val (wb, biff5) = cfb.streams.get("Workbook") match {
      case Some(w) => (w, false)
      case None => (cfb.streams.getOrElse("Book", return null), true)
    }
    try xlsStream(wb, biff5) catch {
      case _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }
  }

  /** Segment-spanning reader for the SST's CONTINUE spill. Numeric
    * fields never span segments in real files (Excel splits only at
    * string or character boundaries); a file that would need it
    * fails closed.
    */
  private final class SegReader(segs: Array[Array[Byte]]) {
    private var si = 0
    private var po = 0
    private def hop(): Unit =
      while (si < segs.length && po == segs(si).length) { si += 1; po = 0 }
    def fieldReady(n: Int): Boolean = {
      hop()
      si < segs.length && po + n <= segs(si).length
    }
    def u8(): Int = { val v = segs(si)(po) & 0xff; po += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    /** Raw skip across segment boundaries (rich runs, ExtRst). */
    def skipRaw(n: Long): Boolean = {
      var r = n
      if (r < 0) return false
      while (r > 0) {
        hop()
        if (si >= segs.length) return false
        val take = math.min(r, (segs(si).length - po).toLong).toInt
        po += take; r -= take
      }
      true
    }
    /** cch characters, re-reading the high-byte flag at each segment
      * boundary (the encoding may switch width mid-string).
      */
    def readChars(cch: Int, hi0: Boolean, sb: java.lang.StringBuilder):
        Boolean = {
      var remaining = cch
      var hi = hi0
      while (remaining > 0) {
        if (si >= segs.length) return false
        if (po == segs(si).length) {
          hop()
          if (si >= segs.length || po + 1 > segs(si).length) return false
          hi = (u8() & 1) != 0
        }
        val width = if (hi) 2 else 1
        val avail = (segs(si).length - po) / width
        if (avail == 0) return false // half a char at a segment end
        val take = math.min(remaining, avail)
        if (hi) {
          var k = 0
          while (k < take) {
            sb.append((((segs(si)(po + 2 * k) & 0xff)) |
              ((segs(si)(po + 2 * k + 1) & 0xff) << 8)).toChar)
            k += 1
          }
          po += 2 * take
        } else {
          sb.append(new String(segs(si), po, take, Cp1252))
          po += take
        }
        remaining -= take
      }
      true
    }
  }

  /** SST + its CONTINUE segments → the shared-string table, or null. */
  private def parseSst(segs: Array[Array[Byte]]): IndexedSeq[String] = {
    val r = new SegReader(segs)
    if (!r.fieldReady(8)) return null
    r.u32()
    val unique = r.u32()
    if (unique < 0 || unique > 4000000) return null
    val out = new scala.collection.mutable.ArrayBuffer[String]()
    var total = 0L
    var i = 0L
    while (i < unique) {
      if (!r.fieldReady(3)) return null
      val cch = r.u16()
      val flags = r.u8()
      if ((flags & 0xf2) != 0) return null // reserved bits
      val hi = (flags & 1) != 0
      val ext = (flags & 4) != 0
      val rich = (flags & 8) != 0
      var cRun = 0
      var cbExt = 0L
      if (rich) { if (!r.fieldReady(2)) return null; cRun = r.u16() }
      if (ext) { if (!r.fieldReady(4)) return null; cbExt = r.u32() }
      val sb = new java.lang.StringBuilder
      if (!r.readChars(cch, hi, sb)) return null
      if (!r.skipRaw(4L * cRun + cbExt)) return null
      total += cch
      if (total > MaxTextChars) return null
      out += sb.toString
      i += 1
    }
    out.toIndexedSeq
  }

  /** Integral doubles render as integers — the value a sibling .xlsx
    * stores literally in its `v` element, so the two containers
    * extract identically.
    */
  private def fmtNum(d: Double): String = {
    if (d.isNaN || d.isInfinite) return ""
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  }

  private def rkValue(rk: Int): Double = {
    var d =
      if ((rk & 2) != 0) (rk >> 2).toDouble // signed 30-bit integer
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xfffffffcL) << 32)
    if ((rk & 1) != 0) d /= 100
    d
  }

  private def xlsStream(wb: Array[Byte], biff5: Boolean): UTF8String = {
    var sst: IndexedSeq[String] = null
    // cells of the CURRENT worksheet substream: (row, col, text-or-isst)
    var cells: scala.collection.mutable.ArrayBuffer[(Int, Int, String, Int)] =
      null
    // a string-valued FORMULA waiting for its STRING record
    var pendingFormula: (Int, Int) = null
    val out = new java.lang.StringBuilder

    def flushSheet(): Unit = {
      if (cells == null || cells.isEmpty) { cells = null; return }
      val sorted = cells.sortBy(c => (c._1, c._2))
      var i = 0
      while (i < sorted.length) {
        val row = sorted(i)._1
        val line = new java.lang.StringBuilder
        var any = false
        var first = true
        while (i < sorted.length && sorted(i)._1 == row) {
          val (_, _, txt, isst) = sorted(i)
          val v =
            if (isst >= 0)
              if (sst != null && isst < sst.length) sst(isst) else ""
            else txt
          if (!first) line.append('\t')
          first = false
          line.append(v)
          if (v.nonEmpty) any = true
          i += 1
        }
        if (any) out.append(line).append('\n')
      }
      cells = null
    }

    var o = 0
    var sawBof = false
    while (o + 4 <= wb.length) {
      val id = le16(wb, o)
      val rl = le16(wb, o + 2)
      val d = o + 4
      if (d + rl > wb.length) return null // torn record
      id match {
        case 0x0809 => // BOF
          if (rl < 4) return null
          sawBof = true
          val dt = le16(wb, d + 2)
          if (dt == 0x0010) cells =
            new scala.collection.mutable.ArrayBuffer[(Int, Int, String, Int)]()
        case 0x000a => // EOF
          flushSheet()
        case 0x002f => // FILEPASS: encrypted workbook
          return null
        case 0x00fc => // SST (+ following CONTINUEs)
          val segs =
            new scala.collection.mutable.ArrayBuffer[Array[Byte]]()
          segs += java.util.Arrays.copyOfRange(wb, d, d + rl)
          var p = d + rl
          while (p + 4 <= wb.length && le16(wb, p) == 0x003c) {
            val crl = le16(wb, p + 2)
            if (p + 4 + crl > wb.length) return null
            segs += java.util.Arrays.copyOfRange(wb, p + 4, p + 4 + crl)
            p += 4 + crl
          }
          sst = parseSst(segs.toArray)
          if (sst == null) return null
        case 0x00fd if cells != null => // LABELSST
          if (rl < 10) return null
          val isst = le32(wb, d + 6)
          // a wrapped index would collide with the inline-text
          // sentinel (-1) and leak a literal "null" — fail closed
          if (isst > Int.MaxValue) return null
          cells += ((le16(wb, d), le16(wb, d + 2), null, isst.toInt))
        case 0x0204 | 0x00d6 if cells != null =>
          // LABEL / RSTRING: inline string. BIFF8 = XLUnicodeString
          // (cch + flags byte); BIFF5 = CP1252 ByteString (cch only).
          // RSTRING's trailing formatting runs sit past the chars and
          // are simply not read.
          if (biff5) {
            if (rl < 8) return null
            val cch = le16(wb, d + 6)
            if (8 + cch > rl) return null
            cells += ((le16(wb, d), le16(wb, d + 2),
              new String(wb, d + 8, cch, Cp1252), -1))
          } else {
            if (rl < 9) return null
            val cch = le16(wb, d + 6)
            val hi = (wb(d + 8) & 1) != 0
            val width = if (hi) 2 else 1
            if (9 + cch * width > rl) return null
            val s =
              if (hi) {
                val sb = new java.lang.StringBuilder
                var k = 0
                while (k < cch) {
                  sb.append(le16(wb, d + 9 + 2 * k).toChar); k += 1
                }
                sb.toString
              } else new String(wb, d + 9, cch, Cp1252)
            cells += ((le16(wb, d), le16(wb, d + 2), s, -1))
          }
        case 0x0203 if cells != null => // NUMBER
          if (rl < 14) return null
          val bits = le32(wb, d + 6) | (le32(wb, d + 10) << 32)
          cells += ((le16(wb, d), le16(wb, d + 2),
            fmtNum(java.lang.Double.longBitsToDouble(bits)), -1))
        case 0x027e if cells != null => // RK
          if (rl < 10) return null
          cells += ((le16(wb, d), le16(wb, d + 2),
            fmtNum(rkValue(le32(wb, d + 6).toInt)), -1))
        case 0x00bd if cells != null => // MULRK
          if (rl < 12 || (rl - 6) % 6 != 0) return null
          val row = le16(wb, d)
          val colFirst = le16(wb, d + 2)
          val n = (rl - 6) / 6
          var k = 0
          while (k < n) {
            cells += ((row, colFirst + k,
              fmtNum(rkValue(le32(wb, d + 4 + 6 * k + 2).toInt)), -1))
            k += 1
          }
        case 0x0205 if cells != null => // BOOLERR
          if (rl < 8) return null
          if ((wb(d + 7) & 0xff) == 0) // errors emit nothing
            // booleans render as the sibling XLSX stores them: 1 / 0
            cells += ((le16(wb, d), le16(wb, d + 2),
              if (wb(d + 6) != 0) "1" else "0", -1))
        case 0x0006 if cells != null =>
          // FORMULA: the CACHED result is the visible text. An IEEE
          // double sits inline unless bytes 12-13 read 0xFFFF, in
          // which case byte 6 tags the kind: 0 = string (the value
          // follows in a STRING record), 1 = boolean, 2 = error
          // (emits nothing), 3 = empty string.
          if (rl < 14) return null
          val row = le16(wb, d)
          val colF = le16(wb, d + 2)
          if (le16(wb, d + 12) == 0xffff) {
            (wb(d + 6) & 0xff) match {
              case 0 => pendingFormula = ((row, colF))
              case 1 => cells += ((row, colF,
                if (wb(d + 8) != 0) "1" else "0", -1))
              case 3 => cells += ((row, colF, "", -1))
              case _ => () // error result: emits nothing
            }
          } else {
            val bits = le32(wb, d + 6) | (le32(wb, d + 10) << 32)
            cells += ((row, colF,
              fmtNum(java.lang.Double.longBitsToDouble(bits)), -1))
          }
        case 0x0207 if cells != null && pendingFormula != null =>
          // STRING: the preceding FORMULA's cached string value —
          // BIFF8 XLUnicodeString, BIFF5 byte string
          val (row, colF) = pendingFormula
          pendingFormula = null
          if (biff5) {
            if (rl < 2) return null
            val cch = le16(wb, d)
            if (2 + cch > rl) return null
            cells += ((row, colF, new String(wb, d + 2, cch, Cp1252), -1))
          } else {
            if (rl < 3) return null
            val cch = le16(wb, d)
            val hi = (wb(d + 2) & 1) != 0
            val width = if (hi) 2 else 1
            if (3 + cch * width > rl) return null
            val sv =
              if (hi) {
                val sb = new java.lang.StringBuilder
                var k = 0
                while (k < cch) {
                  sb.append(le16(wb, d + 3 + 2 * k).toChar); k += 1
                }
                sb.toString
              } else new String(wb, d + 3, cch, Cp1252)
            cells += ((row, colF, sv, -1))
          }
        case _ => ()
      }
      if (out.length > MaxTextChars) return null
      o = d + rl
    }
    flushSheet()
    if (!sawBof || out.length == 0) null
    else UTF8String.fromString(out.toString)
  }

  // ===================================================================
  // .ppt (PowerPoint 97)
  // ===================================================================

  def ppt(b: Array[Byte]): UTF8String = {
    val cfb = Cfb.parse(b)
    if (cfb == null) return null
    pptFromCfb(cfb)
  }

  private[graft] def pptFromCfb(cfb: Cfb.File): UTF8String = {
    val doc = cfb.streams.getOrElse("PowerPoint Document", return null)
    val out = new java.lang.StringBuilder
    try {
      // an encrypted deck (CurrentUserAtom header token 0xF3D1C4DF)
      // triages outright — a linear walk over ciphertext is garbage
      cfb.streams.get("Current User").foreach { cu =>
        if (cu.length >= 16 && le16(cu, 2) == 0x0ff6 &&
            le32(cu, 12) == 0xf3d1c4dfL) return null
      }
      // incrementally-saved decks REPLAY old edits in the stream; the
      // Current User → UserEditAtom chain → PersistDirectory walk
      // reads only the LIVE objects. Decks without a parseable
      // directory (incl. this repo's simple fixtures) fall back to
      // the linear walk.
      if (!pptViaPersist(cfb, doc, out)) {
        out.setLength(0)
        walkPpt(doc, 0, doc.length, 0, out)
      }
    } catch {
      case _: ArrayIndexOutOfBoundsException => return null
    }
    if (out.length == 0) null else UTF8String.fromString(out.toString)
  }

  /** The MS-PPT incremental-save walk: CurrentUserAtom (the
    * `Current User` stream) → offsetToCurrentEdit → UserEditAtom
    * chain (newest first via offsetLastEdit) → each edit's
    * PersistDirectoryAtom; the newest definition of each persist id
    * wins, and only LIVE objects contribute text (stale slide
    * versions from earlier edits are skipped). Live objects emit in
    * ascending persist-id order (creation order — the subset's
    * document order). False = no parseable directory (caller falls
    * back to the linear walk; encrypted decks were already triaged).
    */
  private def pptViaPersist(cfb: Cfb.File, doc: Array[Byte],
      out: java.lang.StringBuilder): Boolean = {
    val cu = cfb.streams.getOrElse("Current User", return false)
    if (cu.length < 28) return false
    if (le16(cu, 2) != 0x0ff6) return false // CurrentUserAtom
    if (le32(cu, 12) != 0xe391c05fL) return false // encrypted/unknown
    var editOff = le32(cu, 16)
    val live = new java.util.TreeMap[Long, Long]()
    var guard = 0
    while (editOff != 0 && guard < 4096) {
      if (editOff < 0 || editOff + 36 > doc.length) return false
      if (le16(doc, editOff.toInt + 2) != 0x0ff5) return false
      val payload = editOff.toInt + 8
      val offsetLastEdit = le32(doc, payload + 8)
      val dirOff = le32(doc, payload + 12)
      if (dirOff <= 0 || dirOff + 8 > doc.length) return false
      if (le16(doc, dirOff.toInt + 2) != 0x1772) return false
      val dlen = le32(doc, dirOff.toInt + 4)
      var p = dirOff.toInt + 8
      val dend = p + dlen.toInt
      if (dlen < 0 || dend > doc.length) return false
      while (p + 4 <= dend) {
        val packed = le32(doc, p); p += 4
        val pid = packed & 0xfffffL
        val cnt = (packed >>> 20).toInt
        var k = 0
        while (k < cnt) {
          if (p + 4 > dend) return false
          val off = le32(doc, p); p += 4
          // newest → oldest: the first definition seen wins
          if (!live.containsKey(pid + k)) live.put(pid + k, off)
          k += 1
        }
      }
      if (offsetLastEdit >= editOff) return false // must strictly rewind
      editOff = offsetLastEdit
      guard += 1
    }
    if (live.isEmpty) return false
    live.forEach { (_, off) =>
      if (off >= 0 && off + 8 <= doc.length) {
        val len = le32(doc, off.toInt + 4)
        val end = off + 8 + len
        if (len >= 0 && end <= doc.length)
          walkPpt(doc, off.toInt, end.toInt, 0, out)
      }
    }
    true
  }

  /** One line per paragraph: \r and vertical-tab separate; a trailing
    * separator does not emit an empty line.
    */
  private def emitParagraphs(s: String, out: java.lang.StringBuilder): Unit = {
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == '\r' || s.charAt(i) == '\u000b') {
        if (i > start) {
          out.append(s, start, i).append('\n')
        }
        start = i + 1
      }
      i += 1
    }
  }

  private def walkPpt(b: Array[Byte], from: Int, until: Int, depth: Int,
      out: java.lang.StringBuilder): Unit = {
    if (depth > 16 || out.length > MaxTextChars) return
    var o = from
    while (o + 8 <= until) {
      val verInst = le16(b, o)
      val typ = le16(b, o + 2)
      val len = le32(b, o + 4)
      val ds = o + 8
      if (len < 0 || ds + len > until) return // torn record: stop
      val de = (ds + len).toInt
      if ((verInst & 0xf) == 0xf) walkPpt(b, ds, de, depth + 1, out)
      else if (typ == 0x0fa0) // TextCharsAtom: UTF-16LE
        emitParagraphs(new String(b, ds, de - ds, "UTF-16LE"), out)
      else if (typ == 0x0fa8) // TextBytesAtom: ANSI
        emitParagraphs(new String(b, ds, de - ds, Cp1252), out)
      o = de
    }
  }
}
