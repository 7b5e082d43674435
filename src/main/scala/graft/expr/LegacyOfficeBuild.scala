package graft.expr

import graft.fixtures.FixtureBytes.Writer

/** Independent BIFF8 `.xls` and PowerPoint-97 `.ppt` WRITERS for
  * fixture construction — their own record emission (SST CONTINUE
  * splitting at character boundaries with per-segment high-byte
  * flags, RK packing, atom framing); nothing shared with
  * [[LegacyOffice]]'s readers, so parse(build(·)) is a genuine
  * structural differential. The CFB shell reuses [[DocBuild.cfb]]
  * (the writer allocates chains; the [[Cfb]] reader walks them — the
  * two sides were already independent for the .doc differential).
  */
private[graft] object LegacyOfficeBuild {

  sealed trait Cell
  /** String via the shared-string table (SST + LABELSST). */
  final case class S(v: String) extends Cell
  /** String inline in the cell record (LABEL). */
  final case class SInline(v: String) extends Cell
  /** IEEE double (NUMBER). */
  final case class N(v: Double) extends Cell
  /** 30-bit integer (RK; consecutive runs of 2+ pack as MULRK). */
  final case class I(v: Int) extends Cell
  /** value/100 with integral v*100 (the RK fX100 encoding). */
  final case class X100(v: Double) extends Cell
  /** Boolean (BOOLERR). */
  final case class B(v: Boolean) extends Cell
  /** Formula with a cached numeric result (FORMULA). */
  final case class FNum(v: Double) extends Cell
  /** Formula with a cached string result (FORMULA + STRING). */
  final case class FStr(v: String) extends Cell
  /** Formula with a cached boolean result (FORMULA, tag 1). */
  final case class FBool(v: Boolean) extends Cell

  private def cp1252(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.Charset.forName("windows-1252"))

  // ------------------------------------------------------------------
  // .xls
  // ------------------------------------------------------------------

  private def record(w: Writer, id: Int, payload: Array[Byte]): Unit = {
    w.le16(id); w.le16(payload.length); w.bytes(payload)
  }

  private def bof(dt: Int): Array[Byte] = {
    val w = new Writer
    w.le16(0x0600) // BIFF8
    w.le16(dt)
    w.le16(0x0dbb); w.le16(0x07cc) // build id / year (cosmetic)
    w.le32(0); w.le32(0)
    w.result
  }

  /** The SST record with CONTINUE spill: splits only at character
    * boundaries; each continuation segment that resumes character
    * data re-leads with a fresh high-byte flag computed over the
    * REMAINING characters (so an ASCII prefix stays compressed and
    * the segment after the boundary can switch to UTF-16).
    */
  private def sstRecords(strings: Seq[String], total: Int,
      maxData: Int): Seq[(Int, Array[Byte])] = {
    val recs = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    var cur = new Writer
    var first = true
    def flush(): Unit = {
      recs += ((if (first) 0x00fc else 0x003c, cur.result))
      first = false
      cur = new Writer
    }
    cur.le32(total.toLong)
    cur.le32(strings.length.toLong)
    strings.foreach { s =>
      if (cur.out.size() + 3 > maxData) flush()
      val hiAll = s.exists(_ > 0xff)
      cur.le16(s.length)
      cur.u8(if (hiAll) 1 else 0)
      var pos = 0
      var hi = hiAll
      while (pos < s.length) {
        val width = if (hi) 2 else 1
        var room = (maxData - cur.out.size()) / width
        if (room == 0) {
          flush()
          hi = s.substring(pos).exists(_ > 0xff)
          cur.u8(if (hi) 1 else 0)
          room = (maxData - cur.out.size()) / (if (hi) 2 else 1)
        }
        val take = math.min(s.length - pos, room)
        var k = 0
        while (k < take) {
          val c = s.charAt(pos + k)
          if (hi) cur.le16(c) else cur.bytes(cp1252(c.toString))
          k += 1
        }
        pos += take
      }
    }
    flush()
    recs.toSeq
  }

  /** The RK encoding, or None when it cannot hold the value
    * losslessly (Excel falls back to a NUMBER record then).
    */
  private def rkBits(c: Cell): Option[Int] = c match {
    case I(v) =>
      if (v >= -(1 << 29) && v < (1 << 29)) Some((v << 2) | 2) else None
    case X100(v) =>
      val scaled = math.rint(v * 100).toLong
      if (scaled.toDouble / 100 == v &&
          scaled >= -(1L << 29) && scaled < (1L << 29))
        Some((scaled.toInt << 2) | 3)
      else {
        val bits = java.lang.Double.doubleToLongBits(v * 100)
        if ((bits & 0x3ffffffffL) == 0) // low 34 bits drop losslessly
          Some(((bits >>> 32).toInt & 0xfffffffc) | 1)
        else None
      }
    case _ => None
  }

  /** Assemble a BIFF8 workbook: globals (BOF, SST, EOF) then one
    * substream per sheet. `maxSstData` shrinks the SST record budget
    * to force CONTINUE splits in tests (Excel's real cap is 8224).
    */
  def xls(sheets: Seq[Seq[Seq[Cell]]], maxSstData: Int = 8224):
      Array[Byte] = {
    // shared strings in first-appearance order
    val sstIndex = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    var totalUses = 0
    sheets.foreach(_.foreach(_.foreach {
      case S(v) =>
        totalUses += 1
        if (!sstIndex.contains(v)) sstIndex(v) = sstIndex.size
      case _ => ()
    }))

    val w = new Writer
    record(w, 0x0809, bof(0x0005)) // globals BOF
    if (sstIndex.nonEmpty)
      sstRecords(sstIndex.keys.toSeq, totalUses, maxSstData)
        .foreach { case (id, p) => record(w, id, p) }
    record(w, 0x000a, Array.emptyByteArray) // globals EOF

    sheets.foreach { rows =>
      record(w, 0x0809, bof(0x0010)) // worksheet BOF
      rows.zipWithIndex.foreach { case (cells, r) =>
        def number(r: Int, c: Int, v: Double): Unit = {
          val p = new Writer
          p.le16(r); p.le16(c); p.le16(0x000f)
          val bits = java.lang.Double.doubleToLongBits(v)
          p.le32(bits & 0xffffffffL); p.le32(bits >>> 32)
          record(w, 0x0203, p.result)
        }
        var c = 0
        while (c < cells.length) {
          cells(c) match {
            case I(_) if c + 1 < cells.length &&
                cells(c + 1).isInstanceOf[I] &&
                rkBits(cells(c)).isDefined && rkBits(cells(c + 1)).isDefined =>
              // run of 2+ RK-able integer cells → MULRK
              var e = c
              while (e < cells.length && cells(e).isInstanceOf[I] &&
                  rkBits(cells(e)).isDefined) e += 1
              val p = new Writer
              p.le16(r); p.le16(c)
              (c until e).foreach { k =>
                p.le16(0x000f) // ixfe
                p.le32(rkBits(cells(k)).get.toLong & 0xffffffffL)
              }
              p.le16(e - 1)
              record(w, 0x00bd, p.result)
              c = e - 1
            case i @ I(v) =>
              rkBits(i) match {
                case Some(rk) =>
                  val p = new Writer
                  p.le16(r); p.le16(c); p.le16(0x000f)
                  p.le32(rk.toLong & 0xffffffffL)
                  record(w, 0x027e, p.result)
                case None => number(r, c, v.toDouble)
              }
            case x @ X100(v) =>
              rkBits(x) match {
                case Some(rk) =>
                  val p = new Writer
                  p.le16(r); p.le16(c); p.le16(0x000f)
                  p.le32(rk.toLong & 0xffffffffL)
                  record(w, 0x027e, p.result)
                case None => number(r, c, v) // Excel's lossless fallback
              }
            case N(v) =>
              number(r, c, v)
            case S(v) =>
              val p = new Writer
              p.le16(r); p.le16(c); p.le16(0x000f)
              p.le32(sstIndex(v).toLong)
              record(w, 0x00fd, p.result)
            case SInline(v) =>
              val p = new Writer
              p.le16(r); p.le16(c); p.le16(0x000f)
              val hi = v.exists(_ > 0xff)
              p.le16(v.length); p.u8(if (hi) 1 else 0)
              if (hi) v.foreach(p.le16(_)) else p.bytes(cp1252(v))
              record(w, 0x0204, p.result)
            case B(v) =>
              val p = new Writer
              p.le16(r); p.le16(c); p.le16(0x000f)
              p.u8(if (v) 1 else 0); p.u8(0) // fError = 0
              record(w, 0x0205, p.result)
            case f: FNum => formula(w, r, c, f)
            case f: FStr => formula(w, r, c, f)
            case f: FBool => formula(w, r, c, f)
          }
          c += 1
        }
      }
      record(w, 0x000a, Array.emptyByteArray) // sheet EOF
    }
    DocBuild.cfb(Seq("Workbook" -> w.result))
  }

  /** FORMULA record (+ STRING for cached strings): the 8-byte cached
    * slot, flags, chn, and a minimal parsed expression (ptgInt 7).
    */
  private def formula(w: Writer, r: Int, c: Int, cell: Cell): Unit = {
    val p = new Writer
    p.le16(r); p.le16(c); p.le16(0x000f)
    cell match {
      case FNum(v) =>
        val bits = java.lang.Double.doubleToLongBits(v)
        p.le32(bits & 0xffffffffL); p.le32(bits >>> 32)
      case FStr(_) =>
        p.u8(0); p.u8(0); p.u8(0); p.u8(0); p.u8(0); p.u8(0)
        p.le16(0xffff)
      case FBool(v) =>
        p.u8(1); p.u8(0); p.u8(if (v) 1 else 0)
        p.u8(0); p.u8(0); p.u8(0)
        p.le16(0xffff)
      case _ => throw new IllegalArgumentException
    }
    p.le16(0) // grbit
    p.le32(0) // chn
    p.le16(3) // cce
    p.u8(0x1e); p.le16(7) // ptgInt 7 — a plausible parsed expression
    record(w, 0x0006, p.result)
    cell match {
      case FStr(v) =>
        val sp = new Writer
        val hi = v.exists(_ > 0xff)
        sp.le16(v.length); sp.u8(if (hi) 1 else 0)
        if (hi) v.foreach(sp.le16(_)) else sp.bytes(cp1252(v))
        record(w, 0x0207, sp.result)
      case _ => ()
    }
  }

  /** BIFF5/7 (Excel 5.0/95) workbook: the `Book` stream, inline
    * CP1252 byte strings (no SST — every S/SInline becomes a BIFF5
    * LABEL), numeric records unchanged. Non-CP1252 characters have
    * no representation in this format; the writer substitutes '?'
    * like Excel 95 did.
    */
  def xls5(sheets: Seq[Seq[Seq[Cell]]]): Array[Byte] = {
    val w = new Writer
    def bof5(dt: Int): Array[Byte] = {
      val b = new Writer
      b.le16(0x0500); b.le16(dt); b.le16(0x0dbb); b.le16(0x07cb)
      b.result
    }
    record(w, 0x0809, bof5(0x0005))
    record(w, 0x000a, Array.emptyByteArray)
    sheets.foreach { rows =>
      record(w, 0x0809, bof5(0x0010))
      rows.zipWithIndex.foreach { case (cells, r) =>
        cells.zipWithIndex.foreach { case (cell, c) =>
          cell match {
            case S(v0) =>
              val v = v0.map(ch => if (ch > 0xff) '?' else ch)
              val p = new Writer
              p.le16(r); p.le16(c); p.le16(0x000f)
              p.le16(v.length); p.bytes(cp1252(v))
              record(w, 0x0204, p.result)
            case SInline(v0) =>
              val v = v0.map(ch => if (ch > 0xff) '?' else ch)
              val p = new Writer
              p.le16(r); p.le16(c); p.le16(0x000f)
              p.le16(v.length); p.bytes(cp1252(v))
              record(w, 0x0204, p.result)
            case N(v) =>
              val p = new Writer
              p.le16(r); p.le16(c); p.le16(0x000f)
              val bits = java.lang.Double.doubleToLongBits(v)
              p.le32(bits & 0xffffffffL); p.le32(bits >>> 32)
              record(w, 0x0203, p.result)
            case i @ I(v) =>
              rkBits(i) match {
                case Some(rk) =>
                  val p = new Writer
                  p.le16(r); p.le16(c); p.le16(0x000f)
                  p.le32(rk.toLong & 0xffffffffL)
                  record(w, 0x027e, p.result)
                case None =>
                  val p = new Writer
                  p.le16(r); p.le16(c); p.le16(0x000f)
                  val bits = java.lang.Double.doubleToLongBits(v.toDouble)
                  p.le32(bits & 0xffffffffL); p.le32(bits >>> 32)
                  record(w, 0x0203, p.result)
              }
            case x @ X100(v) =>
              rkBits(x) match {
                case Some(rk) =>
                  val p = new Writer
                  p.le16(r); p.le16(c); p.le16(0x000f)
                  p.le32(rk.toLong & 0xffffffffL)
                  record(w, 0x027e, p.result)
                case None =>
                  val p = new Writer
                  p.le16(r); p.le16(c); p.le16(0x000f)
                  val bits = java.lang.Double.doubleToLongBits(v)
                  p.le32(bits & 0xffffffffL); p.le32(bits >>> 32)
                  record(w, 0x0203, p.result)
              }
            case B(v) =>
              val p = new Writer
              p.le16(r); p.le16(c); p.le16(0x000f)
              p.u8(if (v) 1 else 0); p.u8(0)
              record(w, 0x0205, p.result)
            case FNum(v) =>
              val p = new Writer
              p.le16(r); p.le16(c); p.le16(0x000f)
              val bits = java.lang.Double.doubleToLongBits(v)
              p.le32(bits & 0xffffffffL); p.le32(bits >>> 32)
              p.le16(0); p.le32(0); p.le16(3)
              p.u8(0x1e); p.le16(7)
              record(w, 0x0006, p.result)
            case FStr(v0) =>
              val v = v0.map(ch => if (ch > 0xff) '?' else ch)
              val p = new Writer
              p.le16(r); p.le16(c); p.le16(0x000f)
              p.u8(0); p.u8(0); p.u8(0); p.u8(0); p.u8(0); p.u8(0)
              p.le16(0xffff)
              p.le16(0); p.le32(0); p.le16(3)
              p.u8(0x1e); p.le16(7)
              record(w, 0x0006, p.result)
              val sp = new Writer // BIFF5 STRING: a byte string
              sp.le16(v.length); sp.bytes(cp1252(v))
              record(w, 0x0207, sp.result)
            case FBool(v) =>
              val p = new Writer
              p.le16(r); p.le16(c); p.le16(0x000f)
              p.u8(1); p.u8(0); p.u8(if (v) 1 else 0)
              p.u8(0); p.u8(0); p.u8(0)
              p.le16(0xffff)
              p.le16(0); p.le32(0); p.le16(3)
              p.u8(0x1e); p.le16(7)
              record(w, 0x0006, p.result)
          }
        }
      }
      record(w, 0x000a, Array.emptyByteArray)
    }
    DocBuild.cfb(Seq("Book" -> w.result))
  }

  /** BIFF8 RSTRING (0x00D6): a LABEL-shaped record with trailing
    * formatting runs the reader must skip.
    */
  def rstringSheet(row: Int, col: Int, v: String): Array[Byte] = {
    val w = new Writer
    record(w, 0x0809, bof(0x0005))
    record(w, 0x000a, Array.emptyByteArray)
    record(w, 0x0809, bof(0x0010))
    val p = new Writer
    p.le16(row); p.le16(col); p.le16(0x000f)
    val hi = v.exists(_ > 0xff)
    p.le16(v.length); p.u8(if (hi) 1 else 0)
    if (hi) v.foreach(p.le16(_)) else p.bytes(cp1252(v))
    p.le16(1); p.le16(0); p.le16(5) // one formatting run (ich, ifnt)
    record(w, 0x00d6, p.result)
    record(w, 0x000a, Array.emptyByteArray)
    DocBuild.cfb(Seq("Workbook" -> w.result))
  }

  /** An encrypted-workbook shell: BOF then FILEPASS — the reader must
    * triage, never mis-decode.
    */
  def xlsEncrypted(): Array[Byte] = {
    val w = new Writer
    record(w, 0x0809, bof(0x0005))
    val fp = new Writer
    fp.le16(1); fp.le16(1); fp.le16(1) // RC4 CryptoAPI marker
    record(w, 0x002f, fp.result)
    record(w, 0x000a, Array.emptyByteArray)
    DocBuild.cfb(Seq("Workbook" -> w.result))
  }

  // ------------------------------------------------------------------
  // .ppt
  // ------------------------------------------------------------------

  private def pptRec(w: Writer, verInst: Int, typ: Int,
      payload: Array[Byte]): Unit = {
    w.le16(verInst); w.le16(typ)
    w.le32(payload.length.toLong)
    w.bytes(payload)
  }

  private def slideContainer(stream: Writer, paras: Seq[String]): Unit = {
    val inner = new Writer
    // SlideAtom stand-in the reader skips (non-text atom)
    pptRec(inner, 0x0002, 0x03ef, new Array[Byte](24))
    paras.grouped(2).foreach { group =>
      val text = group.mkString("\r")
      val hdr = new Writer
      hdr.le32(0) // txtype: title/body/other — cosmetic here
      pptRec(inner, 0x0000, 0x0f9f, hdr.result) // TextHeaderAtom
      if (text.exists(_ > 0xff)) {
        val p = new Writer
        text.foreach(p.le16(_))
        pptRec(inner, 0x0000, 0x0fa0, p.result) // TextCharsAtom
      } else
        pptRec(inner, 0x0000, 0x0fa8, cp1252(text)) // TextBytesAtom
    }
    pptRec(stream, 0x000f, 0x03ee, inner.result) // SlideContainer
  }

  /** One SlideContainer per slide, each text shape a TextHeaderAtom +
    * TextCharsAtom (any char > 0xFF) or TextBytesAtom; paragraphs
    * \r-separated inside one atom, the PowerPoint convention. No
    * persist directory — the reader's linear fallback shape.
    */
  def ppt(slides: Seq[Seq[String]]): Array[Byte] = {
    val stream = new Writer
    slides.foreach(slideContainer(stream, _))
    val currentUser = new Writer
    currentUser.le32(20); currentUser.le32(0xe391c05fL) // magic token
    DocBuild.cfb(Seq(
      "PowerPoint Document" -> stream.result,
      "Current User" -> currentUser.result))
  }

  /** An INCREMENTALLY-SAVED deck: each edit appends its slide
    * containers, a PersistDirectoryAtom mapping the persist ids it
    * defines/replaces, and a UserEditAtom chaining to the previous
    * edit; the CurrentUserAtom (a real record this time, unlike
    * [[ppt]]'s bare token blob) points at the NEWEST edit. The
    * reader must emit only live objects — a replaced slide's stale
    * text stays in the stream but must not appear.
    */
  def pptIncremental(edits: Seq[Seq[(Int, Seq[String])]]): Array[Byte] = {
    val stream = new Writer
    var prevEdit = 0L
    edits.foreach { edit =>
      val offsets = edit.map { case (pid, paras) =>
        val off = stream.out.size()
        slideContainer(stream, paras)
        pid -> off
      }
      val dirOff = stream.out.size()
      val dp = new Writer
      offsets.foreach { case (pid, off) =>
        dp.le32((1L << 20) | pid) // cPersist=1 in bits 20.., id low 20
        dp.le32(off.toLong)
      }
      pptRec(stream, 0x0000, 0x1772, dp.result) // PersistDirectoryAtom
      val editOff = stream.out.size()
      val up = new Writer
      up.le32(0) // lastSlideIdRef
      up.le16(0); up.u8(0); up.u8(3) // version fields
      up.le32(prevEdit) // offsetLastEdit: 0 terminates the chain
      up.le32(dirOff.toLong)
      up.le32(1) // docPersistIdRef
      up.le32(1000) // persistIdSeed
      up.le16(0); up.le16(0)
      pptRec(stream, 0x0000, 0x0ff5, up.result) // UserEditAtom
      prevEdit = editOff.toLong
    }
    val cu = new Writer
    cu.le16(0); cu.le16(0x0ff6) // CurrentUserAtom record header
    val body = new Writer
    body.le32(20) // size
    body.le32(0xe391c05fL) // headerToken: not encrypted
    body.le32(prevEdit) // offsetToCurrentEdit
    body.le16(0); body.le16(0) // lenUserName, docFileVersion
    body.u8(3); body.u8(0); body.le16(0) // major/minor/unused
    cu.le32(body.result.length.toLong)
    cu.bytes(body.result)
    DocBuild.cfb(Seq(
      "PowerPoint Document" -> stream.result,
      "Current User" -> cu.result))
  }

  /** The encrypted-deck shell: a CurrentUserAtom whose header token
    * is the MS-PPT encryption marker — the reader must triage.
    */
  def pptEncrypted(): Array[Byte] = {
    val stream = new Writer
    slideContainer(stream, Seq("cipher text"))
    val cu = new Writer
    cu.le16(0); cu.le16(0x0ff6)
    val body = new Writer
    body.le32(20); body.le32(0xf3d1c4dfL); body.le32(0)
    body.le16(0); body.le16(0); body.u8(3); body.u8(0); body.le16(0)
    cu.le32(body.result.length.toLong)
    cu.bytes(body.result)
    DocBuild.cfb(Seq(
      "PowerPoint Document" -> stream.result,
      "Current User" -> cu.result))
  }
}
