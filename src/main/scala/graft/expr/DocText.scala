package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Legacy `.doc` (Word 97–2003) → text over a binary column:
  * `graft_doc_text(content)` — pre-2007 Word files are a real corpus
  * format and both layers are pure structure:
  *
  *  - the OLE2/CFB compound file (512/4096-byte sectors, header
  *    DIFAT + DIFAT chain, FAT chains with cycle guards, the
  *    directory's 128-byte entries, the root mini stream with its
  *    own 64-byte-sector miniFAT for streams under the 4096 cutoff);
  *  - the WordDocument stream's FIB (magic 0xA5EC; the fEncrypted
  *    bit triages; fWhichTblStm picks 0Table/1Table) → the Clx piece
  *    table in the table stream (Prc skip, Pcdt, PlcPcd with n+1
  *    character positions and n PCDs) → text runs, each piece either
  *    CP1252 ("fCompressed", bytes at fc/2) or UTF-16LE at fc —
  *    mixed-piece documents reassemble in CP order. Word 95 files
  *    without a Clx fall back to the [fcMin, fcMac) range under the
  *    fExtChar flag.
  *
  * Word's control characters map to text: CR and 0x0B → \n, cell/row
  * mark 0x07 → \t, page/section break 0x0C → \n, field characters
  * 0x13/0x14/0x15 and object anchors 0x01/0x08 strip.
  *
  * Not a CFB, no WordDocument stream (an .xls/.ppt/.msi is the same
  * container), encrypted, or malformed → NULL, never an error.
  * Output capped; pure per-row projection.
  */
case class DocTextExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${DocText.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    DocText.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.DocText.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      DocTextExpr = copy(child = newChild)
}

/** CFB (compound file) reader shared by the .doc path. */
private[graft] object Cfb {

  private val EndOfChain = 0xfffffffeL
  val MaxStreamBytes: Int = 64 << 20

  final class File(val streams: Map[String, Array[Byte]])

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  def isCfb(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 &&
      b(0) == 0xd0.toByte && b(1) == 0xcf.toByte && b(2) == 0x11 &&
      b(3) == 0xe0.toByte && b(4) == 0xa1.toByte && b(5) == 0xb1.toByte &&
      b(6) == 0x1a && b(7) == 0xe1.toByte

  /** Parse into a name → bytes map (top-level name only — Word
    * streams live directly under root). Null on structural errors.
    */
  def parse(b: Array[Byte]): File = {
    if (!isCfb(b) || b.length < 512) return null
    try {
      val sectorShift = le16(b, 30)
      if (sectorShift != 9 && sectorShift != 12) return null
      val sectorSize = 1 << sectorShift
      val miniShift = le16(b, 32)
      if (miniShift != 6) return null
      val numFat = le32(b, 44).toInt
      val firstDir = le32(b, 48)
      val miniCutoff = le32(b, 56)
      val firstMiniFat = le32(b, 60)
      val firstDifat = le32(b, 68)
      val numDifat = le32(b, 72).toInt
      val totalSectors = (b.length - sectorSize) / sectorSize + 1

      def sectorAt(s: Long): Int = {
        val off = (s + 1) * sectorSize
        if (s < 0 || off + sectorSize > b.length) -1 else off.toInt
      }

      // FAT sector list: 109 header DIFAT entries + the DIFAT chain
      val fatSectors = new java.util.ArrayList[Long]()
      var i = 0
      while (i < 109 && fatSectors.size < numFat) {
        val v = le32(b, 76 + 4 * i)
        if (v < 0xfffffffcL) fatSectors.add(v)
        i += 1
      }
      var difat = firstDifat
      var guard = 0
      while (difat < 0xfffffffcL && guard <= numDifat + 1 &&
          fatSectors.size < numFat) {
        val off = sectorAt(difat)
        if (off < 0) return null
        var j = 0
        while (j < sectorSize / 4 - 1 && fatSectors.size < numFat) {
          val v = le32(b, off + 4 * j)
          if (v < 0xfffffffcL) fatSectors.add(v)
          j += 1
        }
        difat = le32(b, off + sectorSize - 4)
        guard += 1
      }

      val fat = new Array[Long](fatSectors.size * (sectorSize / 4))
      i = 0
      while (i < fatSectors.size) {
        val off = sectorAt(fatSectors.get(i))
        if (off < 0) return null
        var j = 0
        while (j < sectorSize / 4) {
          fat(i * (sectorSize / 4) + j) = le32(b, off + 4 * j)
          j += 1
        }
        i += 1
      }

      /** Follow a FAT chain, concatenating sector payloads. */
      def chain(start: Long, sizeCap: Long): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        var s = start
        var steps = 0
        while (s != EndOfChain && s < 0xfffffffcL) {
          if (steps > totalSectors + 2) return null // cycle guard
          val off = sectorAt(s)
          if (off < 0 || s >= fat.length) return null
          out.write(b, off, sectorSize)
          if (out.size() > MaxStreamBytes) return null
          s = fat(s.toInt)
          steps += 1
        }
        if (sizeCap >= 0 && out.size() > sizeCap)
          java.util.Arrays.copyOf(out.toByteArray, sizeCap.toInt)
        else out.toByteArray
      }

      val dir = chain(firstDir, -1)
      if (dir == null) return null
      // directory entries: find root first (the mini stream owner)
      var rootStart = -1L
      var rootSize = -1L
      var e = 0
      while (e + 128 <= dir.length) {
        if ((dir(e + 66) & 0xff) == 5) {
          rootStart = le32(dir, e + 116)
          rootSize = le32(dir, e + 120)
        }
        e += 128
      }
      val miniStream =
        if (rootStart >= 0) chain(rootStart, rootSize) else Array.emptyByteArray
      val miniFat: Array[Long] =
        if (firstMiniFat < 0xfffffffcL) {
          val raw = chain(firstMiniFat, -1)
          if (raw == null) return null
          Array.tabulate(raw.length / 4)(k => le32(raw, 4 * k))
        } else Array.empty

      def miniChain(start: Long, size: Long): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        var s = start
        var steps = 0
        while (s != EndOfChain && s < 0xfffffffcL) {
          if (steps > miniFat.length + 2) return null
          val off = s * 64
          if (s >= miniFat.length || off + 64 > miniStream.length)
            return null
          out.write(miniStream, off.toInt, 64)
          if (out.size() > MaxStreamBytes) return null
          s = miniFat(s.toInt)
          steps += 1
        }
        if (out.size() > size) java.util.Arrays.copyOf(out.toByteArray,
          size.toInt)
        else out.toByteArray
      }

      // ---- directory TREE: each storage's children hang off its
      // child pointer as a binary sibling tree (left/right). Streams
      // under a storage get path-qualified names ("storage/stream" —
      // Outlook .msg attachment substorages repeat stream names, so
      // bare names collide). Entries the tree does not reach stay
      // top-level: real writers always link the tree, while flat
      // fixture containers (siblings all FREESECT) keep their
      // established bare names.
      val nEntries = dir.length / 128
      def entryName(idx: Int): String = {
        val o = idx * 128
        val nameLen = le16(dir, o + 64)
        if (nameLen < 2 || nameLen > 64) return null
        val sb = new StringBuilder
        var k = 0
        while (k < nameLen - 2) {
          sb.append(((dir(o + k) & 0xff) |
            ((dir(o + k + 1) & 0xff) << 8)).toChar)
          k += 2
        }
        sb.toString
      }
      val prefix = new Array[String](nEntries)
      val seen = new Array[Boolean](nEntries)
      var rootIdx = -1
      e = 0
      while (e + 128 <= dir.length) {
        if ((dir(e + 66) & 0xff) == 5 && rootIdx < 0) rootIdx = e / 128
        e += 128
      }
      if (rootIdx >= 0) {
        // storages to expand, with their accumulated path prefix;
        // depth bounded by the fact each storage is visited once
        val pending = new java.util.ArrayDeque[(Int, String)]()
        pending.add((rootIdx, ""))
        seen(rootIdx) = true
        while (!pending.isEmpty) {
          val (sIdx, pfx) = pending.poll()
          val stack = new java.util.ArrayDeque[Long]()
          stack.push(le32(dir, sIdx * 128 + 76)) // child
          while (!stack.isEmpty) {
            val c = stack.pop()
            if (c >= 0 && c < nEntries && c < 0xfffffffaL && !seen(c.toInt)) {
              val idx = c.toInt
              seen(idx) = true
              prefix(idx) = pfx
              stack.push(le32(dir, idx * 128 + 68)) // left sibling
              stack.push(le32(dir, idx * 128 + 72)) // right sibling
              if ((dir(idx * 128 + 66) & 0xff) == 1 && pfx.length < 1024) {
                val nm = entryName(idx)
                if (nm != null) pending.add((idx, pfx + nm + "/"))
              }
            }
          }
        }
      }

      val streams = scala.collection.mutable.Map.empty[String, Array[Byte]]
      e = 0
      while (e + 128 <= dir.length) {
        val objType = dir(e + 66) & 0xff
        if (objType == 2) { // stream
          val bare = entryName(e / 128)
          if (bare != null) {
            val pfx = prefix(e / 128)
            val name = if (pfx == null) bare else pfx + bare
            val start = le32(dir, e + 116)
            val size = le32(dir, e + 120)
            if (size >= 0 && size <= MaxStreamBytes &&
                !streams.contains(name)) {
              val data =
                if (size < miniCutoff) miniChain(start, size)
                else chain(start, size)
              if (data != null) streams(name) = data
            }
          }
        }
        e += 128
      }
      new File(streams.toMap)
    } catch {
      case _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }
  }
}

object DocText {
  val FunctionName = "graft_doc_text"

  val MaxTextChars: Int = 16 << 20

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private val Cp1252 = java.nio.charset.Charset.forName("windows-1252")

  /** bytes → extracted text, or null. Static for codegen. */
  def parse(b: Array[Byte]): UTF8String = {
    val cfb = Cfb.parse(b)
    if (cfb == null) return null
    fromCfb(cfb)
  }

  /** Extraction over an already-parsed container — [[DocumentText]]
    * dispatches a CFB once across the .doc/.xls/.ppt arms.
    */
  private[graft] def fromCfb(cfb: Cfb.File): UTF8String = {
    val word = cfb.streams.getOrElse("WordDocument", return null)
    if (word.length < 0x20 || le16(word, 0) != 0xa5ec) return null
    val flags = le16(word, 0x0a)
    if ((flags & 0x0100) != 0) return null // fEncrypted
    val whichTbl = if ((flags & 0x0200) != 0) "1Table" else "0Table"
    val out = new StringBuilder

    def emit(s: String): Boolean = {
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        c match {
          case '\r' | '\u000b' | '\u000c' => out.append('\n')
          case '\u0007' => out.append('\t')
          case '\u0013' | '\u0014' | '\u0015' | '\u0001' |
               '\u0008' => ()
          case other => out.append(other)
        }
        i += 1
      }
      out.length <= MaxTextChars
    }

    val clxDone =
      if (word.length >= 0x1aa) {
        val fcClx = le32(word, 0x1a2)
        val lcbClx = le32(word, 0x1a6)
        if (lcbClx > 0 && fcClx >= 0 &&
            cfb.streams.contains(whichTbl) &&
            fcClx + lcbClx <= cfb.streams(whichTbl).length) {
          val tbl = cfb.streams(whichTbl)
          pieces(word, tbl, fcClx.toInt, lcbClx.toInt, emit)
        } else false
      } else false

    if (!clxDone) {
      // Word 95 fallback: the [fcMin, fcMac) run, charset by fExtChar
      out.setLength(0)
      val fcMin = le32(word, 0x18)
      val fcMac = le32(word, 0x1c)
      if (fcMin < 0 || fcMac > word.length || fcMin >= fcMac) return null
      val raw = java.util.Arrays.copyOfRange(word, fcMin.toInt, fcMac.toInt)
      val s =
        if ((flags & 0x1000) != 0) new String(raw, "UTF-16LE")
        else new String(raw, Cp1252)
      emit(s)
    }
    val text = out.toString
    if (text.isEmpty) null else UTF8String.fromString(text)
  }

  /** Clx → PlcPcd walk; returns false when the Clx is malformed (the
    * caller falls back). `emit` gets each piece's raw chars.
    */
  private def pieces(word: Array[Byte], tbl: Array[Byte], fcClx: Int,
      lcbClx: Int, emit: String => Boolean): Boolean = {
    try {
      var p = fcClx
      val end = fcClx + lcbClx
      while (p < end && tbl(p) == 0x01) { // Prc: property modifiers, skip
        val cb = le16(tbl, p + 1)
        p += 3 + cb
      }
      if (p >= end || tbl(p) != 0x02) return false
      val lcb = le32(tbl, p + 1)
      p += 5
      if (lcb < 4 || p + lcb > end) return false
      val n = ((lcb - 4) / 12).toInt // (n+1) CPs + n 8-byte PCDs
      if (n <= 0 || (n + 1) * 4 + n * 8 != lcb) return false
      val cps = Array.tabulate(n + 1)(i => le32(tbl, p + 4 * i))
      val pcd0 = p + 4 * (n + 1)
      var i = 0
      var ok = true
      while (i < n && ok) {
        val fcRaw = le32(tbl, pcd0 + 8 * i + 2)
        val fc = (fcRaw & 0x3fffffffL).toInt
        val compressed = (fcRaw & 0x40000000L) != 0
        val len = (cps(i + 1) - cps(i)).toInt
        if (len < 0 || len > DocText.MaxTextChars) return false
        val s =
          if (compressed) {
            val o = fc / 2
            if (o < 0 || o + len > word.length) return false
            new String(word, o, len, Cp1252)
          } else {
            if (fc < 0 || fc + 2 * len > word.length) return false
            new String(word, fc, 2 * len, "UTF-16LE")
          }
        ok = emit(s)
        i += 1
      }
      ok || i == n // cap reached still counts as decoded
    } catch {
      case _: ArrayIndexOutOfBoundsException => false
    }
  }
}
