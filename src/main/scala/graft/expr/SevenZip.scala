package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** 7z archive walk over a binary column:
  * `graft_7z_entries(content, maxEntries)` → `array<struct<path,
  * size, content>>` — [[TarEntries]]/[[ZipEntries]]' third sibling;
  * source dumps ship as .7z constantly. The container is pure
  * structure (signature/start header with CRC32s, a property-id
  * coded header tree, variable-length numbers, bit vectors,
  * UTF-16LE names); the coder layer reuses the clean-room LZMA
  * machine already wire-pinned by XzSpec ([[Xz.lzma1Raw]] /
  * [[Xz.lzma2Raw]] — real liblzma raw streams pin both shapes in
  * SevenZipSpec) plus the Copy coder. Encoded (compressed) headers
  * are decoded through the same folder path, one level deep.
  *
  * Solid blocks: a folder's output splits into per-file substreams
  * by the SubStreamsInfo sizes; folder CRC32s (and substream CRC32s
  * when defined) are VERIFIED — a flipped payload byte fails the
  * folder closed rather than emitting wrong bytes.
  *
  * Folder shapes: the coder GRAPH evaluates generally — each coder
  * input resolves to a packed stream or a bound output — covering
  * single coders, two-coder linear chains (packed → LZMA/LZMA2/Copy
  * → bind pair → delta or BCJ-x86 filter, the default `7z -mf=…`
  * layout; filters invert through the same [[Xz]] routines the xz
  * block walk uses) and the four-input BCJ2 branching layout
  * (`7z -m0=BCJ2`: main/call/jump coder outputs + a raw range-coded
  * control stream). No offline 7z tool exists in this environment to
  * emit real BCJ2 pin streams, so BCJ2 is gated by the independent
  * [[SevenZipBuild]] writer differential (the .doc precedent) —
  * its own range encoder and branch scanner against this decoder.
  * Subset boundaries (triage, keeping other folders' entries):
  * bzip2-, PPMd- or AES-coded folders. Not a 7z /
  * corrupt structure → NULL, never an error. Bomb guards mirror TarEntries: per-entry cap
  * [[TarEntries.MaxEntryBytes]], per-archive cap
  * [[TarEntries.MaxTotalBytes]], `maxEntries` rows.
  *
  * Pure per-row projection; explode downstream for per-file rows.
  */
case class SevenZipEntries(child: Expression, maxEntries: Int)
    extends UnaryExpression {

  override def dataType: DataType = SevenZip.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${SevenZip.FunctionName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxEntries < 1 || maxEntries > 65536)
      TypeCheckResult.TypeCheckFailure(
        s"${SevenZip.FunctionName} maxEntries must be in [1, 65536]: " +
          maxEntries)
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    SevenZip.entries(v.asInstanceOf[Array[Byte]], maxEntries)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.SevenZip.entries($c, $maxEntries);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      SevenZipEntries = copy(child = newChild)
}

object SevenZip {
  val FunctionName = "graft_7z_entries"

  val EntrySchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false)))
  val Schema: DataType = ArrayType(EntrySchema, containsNull = false)

  private object Bad extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }
  private def bad(): Nothing = throw Bad

  // property ids (public 7z format description)
  private val KEnd = 0x00
  private val KHeader = 0x01
  private val KMainStreamsInfo = 0x04
  private val KFilesInfo = 0x05
  private val KPackInfo = 0x06
  private val KUnpackInfo = 0x07
  private val KSubStreamsInfo = 0x08
  private val KSize = 0x09
  private val KCrc = 0x0a
  private val KFolder = 0x0b
  private val KCodersUnpackSize = 0x0c
  private val KNumUnpackStream = 0x0d
  private val KEmptyStream = 0x0e
  private val KEmptyFile = 0x0f
  private val KName = 0x11
  private val KEncodedHeader = 0x17

  private final class Cursor(val b: Array[Byte], var p: Int, val end: Int) {
    def u8(): Int = {
      if (p >= end) bad()
      val v = b(p) & 0xff
      p += 1
      v
    }
    /** 7z variable-length number: leading 1-bits of the first byte
      * count the extra LE bytes; remaining low bits are the high
      * part.
      */
    def num(): Long = {
      val first = u8()
      var mask = 0x80
      var extra = 0
      while (extra < 8 && (first & mask) != 0) { extra += 1; mask >>= 1 }
      var v = 0L
      var i = 0
      while (i < extra) { v |= (u8().toLong << (8 * i)); i += 1 }
      if (extra < 8) v |= (first & (mask - 1)).toLong << (8 * extra)
      if (v < 0) bad()
      v
    }
    def skip(n: Long): Unit = {
      if (n < 0 || p + n > end) bad()
      p += n.toInt
    }
    /** MSB-first bit vector of n bits. */
    def bits(n: Int): Array[Boolean] = {
      val out = new Array[Boolean](n)
      var i = 0
      var cur = 0
      while (i < n) {
        if (i % 8 == 0) cur = u8()
        out(i) = (cur & (0x80 >> (i % 8))) != 0
        i += 1
      }
      out
    }
    /** AllAreDefined-prefixed bit vector. */
    def definedBits(n: Int): Array[Boolean] =
      if (u8() != 0) Array.fill(n)(true) else bits(n)
  }

  private final case class Coder(id: Long, props: Array[Byte],
      numIn: Int, numOut: Int)
  private final class Folder {
    var coders: Array[Coder] = _
    var bindPairs: Array[(Int, Int)] = _
    var packedIndices: Array[Int] = _
    var unpackSizes: Array[Long] = _ // one per out-stream, all coders
    var crcDefined = false
    var crc = 0L
    var numSubstreams = 1
    var substreamSizes: Array[Long] = _
    var substreamCrcs: Array[Long] = _ // −1 = undefined

    /** The out-stream no bind pair consumes = the folder's output
      * (bind pairs are (InIndex, OutIndex): OutIndex is consumed).
      */
    def mainOutSize: Long = {
      var i = 0
      while (i < unpackSizes.length) {
        if (!bindPairs.exists(_._2 == i)) return unpackSizes(i)
        i += 1
      }
      bad()
    }
  }

  private final class StreamsInfo {
    var packPos = 0L
    var packSizes: Array[Long] = Array.empty
    var folders: Array[Folder] = Array.empty
  }

  private def parseStreamsInfo(c: Cursor): StreamsInfo = {
    val si = new StreamsInfo
    var id = c.num().toInt
    if (id == KPackInfo) {
      si.packPos = c.num()
      val n = c.num().toInt
      if (n < 0 || n > 65536) bad()
      var inner = c.num().toInt
      while (inner != KEnd) {
        if (inner == KSize) {
          si.packSizes = Array.fill(n)(c.num())
        } else if (inner == KCrc) {
          val defined = c.definedBits(n)
          defined.foreach(d => if (d) c.skip(4))
        } else bad()
        inner = c.num().toInt
      }
      id = c.num().toInt
    }
    if (id == KUnpackInfo) {
      if (c.num().toInt != KFolder) bad()
      val nFolders = c.num().toInt
      if (nFolders < 0 || nFolders > 65536) bad()
      if (c.u8() != 0) bad() // external folders unsupported
      si.folders = Array.fill(nFolders)(parseFolder(c))
      if (c.num().toInt != KCodersUnpackSize) bad()
      si.folders.foreach { f =>
        val totalOut = f.coders.map(_.numOut).sum
        f.unpackSizes = Array.fill(totalOut)(c.num())
      }
      var inner = c.num().toInt
      while (inner != KEnd) {
        if (inner == KCrc) {
          val defined = c.definedBits(nFolders)
          var i = 0
          while (i < nFolders) {
            if (defined(i)) {
              si.folders(i).crcDefined = true
              si.folders(i).crc = (c.u8() | (c.u8() << 8) |
                (c.u8() << 16) | (c.u8().toLong << 24)) & 0xffffffffL
            }
            i += 1
          }
        } else bad()
        inner = c.num().toInt
      }
      id = c.num().toInt
    }
    if (id == KSubStreamsInfo) {
      var inner = c.num().toInt
      if (inner == KNumUnpackStream) {
        si.folders.foreach(f => f.numSubstreams = c.num().toInt)
        inner = c.num().toInt
      }
      // sizes: first n−1 per folder (folders with 1 substream store none)
      si.folders.foreach { f =>
        if (f.numSubstreams < 0 || f.numSubstreams > 65536) bad()
        f.substreamSizes = new Array[Long](f.numSubstreams)
      }
      if (inner == KSize) {
        si.folders.foreach { f =>
          var sum = 0L
          var i = 0
          while (i < f.numSubstreams - 1) {
            f.substreamSizes(i) = c.num()
            sum += f.substreamSizes(i)
            i += 1
          }
          if (f.numSubstreams > 0)
            f.substreamSizes(f.numSubstreams - 1) = f.mainOutSize - sum
        }
        inner = c.num().toInt
      } else {
        si.folders.foreach { f =>
          if (f.numSubstreams == 1) f.substreamSizes(0) = f.mainOutSize
          else bad() // counts without sizes only legal for 1 substream
        }
      }
      if (inner == KCrc) {
        // digests for substreams whose CRC isn't already known from
        // the folder (single-substream folders with a folder CRC)
        val unknown = si.folders.flatMap { f =>
          if (f.numSubstreams == 1 && f.crcDefined) Nil
          else (0 until f.numSubstreams).map(i => (f, i))
        }
        si.folders.foreach { f =>
          f.substreamCrcs = Array.fill(f.numSubstreams)(-1L)
          if (f.numSubstreams == 1 && f.crcDefined) f.substreamCrcs(0) = f.crc
        }
        val defined = c.definedBits(unknown.length)
        var i = 0
        while (i < unknown.length) {
          if (defined(i)) {
            val crc = (c.u8() | (c.u8() << 8) | (c.u8() << 16) |
              (c.u8().toLong << 24)) & 0xffffffffL
            val (f, j) = unknown(i)
            f.substreamCrcs(j) = crc
          }
          i += 1
        }
        inner = c.num().toInt
      }
      if (inner != KEnd) bad()
      id = c.num().toInt
    } else {
      si.folders.foreach { f =>
        f.substreamSizes = Array(f.mainOutSize)
        f.substreamCrcs = Array(if (f.crcDefined) f.crc else -1L)
      }
    }
    si.folders.foreach { f =>
      if (f.substreamCrcs == null)
        f.substreamCrcs = Array.fill(f.numSubstreams)(-1L)
    }
    if (id != KEnd) bad()
    si
  }

  private def parseFolder(c: Cursor): Folder = {
    val f = new Folder
    val nCoders = c.num().toInt
    if (nCoders < 1 || nCoders > 16) bad()
    f.coders = Array.fill(nCoders) {
      val flags = c.u8()
      val idLen = flags & 0x0f
      if (idLen == 0 || idLen > 8) bad()
      var id = 0L
      var i = 0
      while (i < idLen) { id = (id << 8) | c.u8(); i += 1 }
      var numIn = 1
      var numOut = 1
      if ((flags & 0x10) != 0) { // complex
        numIn = c.num().toInt
        numOut = c.num().toInt
        if (numIn < 1 || numOut < 1 || numIn > 16 || numOut > 16) bad()
      }
      val props =
        if ((flags & 0x20) != 0) {
          val n = c.num().toInt
          if (n < 0 || n > 1024) bad()
          val arr = new Array[Byte](n)
          var i2 = 0
          while (i2 < n) { arr(i2) = c.u8().toByte; i2 += 1 }
          arr
        } else Array.emptyByteArray
      if ((flags & 0x80) != 0) bad() // alternative methods: reserved
      Coder(id, props, numIn, numOut)
    }
    val totalIn = f.coders.map(_.numIn).sum
    val totalOut = f.coders.map(_.numOut).sum
    val nBind = totalOut - 1
    if (nBind < 0) bad()
    f.bindPairs = Array.fill(nBind)((c.num().toInt, c.num().toInt))
    val nPacked = totalIn - nBind
    if (nPacked < 1) bad()
    f.packedIndices =
      if (nPacked == 1) {
        // the single packed stream is the in-stream no bind pair
        // feeds (bind pairs are (InIndex, OutIndex))
        val used = f.bindPairs.map(_._1).toSet
        Array((0 until totalIn).find(i => !used.contains(i)).getOrElse(bad()))
      } else Array.fill(nPacked)(c.num().toInt)
    f
  }

  /** One 1-in/1-out BASE coder over the packed slice. */
  private def decodeCoder(coder: Coder, b: Array[Byte], fi: Int, ui: Int,
      outSize: Long): Array[Byte] = coder.id match {
    case 0x00 => // Copy
      if (ui - fi != outSize) null
      else java.util.Arrays.copyOfRange(b, fi, ui)
    case 0x21 => // LZMA2 (props = dict size code, not needed to decode)
      Xz.lzma2Raw(b, fi, ui)
    case 0x030101 => // LZMA (props: lclppb byte + 4-byte dict size)
      if (coder.props.length < 1) null
      else Xz.lzma1Raw(coder.props(0) & 0xff, b, fi, ui, outSize.toInt)
    case _ => null // bzip2/AES/unknown: out of subset
  }

  /** Apply a 1-in/1-out FILTER coder (decode direction) in place;
    * false = unsupported filter.
    */
  private def applyFilter(coder: Coder, buf: Array[Byte]): Boolean =
    coder.id match {
      case 0x03 => // delta
        if (coder.props.length != 1) return false
        Xz.deltaDecode(buf, (coder.props(0) & 0xff) + 1)
        true
      case 0x03030103L => // BCJ x86
        Xz.bcjX86Decode(buf, 0L)
        true
      case _ => false // BCJ2 and friends: out of subset
    }

  /** LZMA-style binary range decoder over a byte slice — the BCJ2
    * control stream's coder (11-bit probabilities, 5 move bits,
    * 2^24 normalization; the leading zero byte is skipped).
    */
  private final class RangeDec(b: Array[Byte], var p: Int, val end: Int) {
    var range: Long = 0xffffffffL
    var code: Long = 0L
    if (p >= end || b(p) != 0) bad()
    p += 1
    var i = 0
    while (i < 4) {
      code = (code << 8) | (if (p < end) { val v = b(p) & 0xffL; p += 1; v }
        else bad())
      i += 1
    }
    def bit(probs: Array[Int], idx: Int): Int = {
      val prob = probs(idx)
      val bound = (range >>> 11) * prob
      var out = 0
      if (code < bound) {
        range = bound
        probs(idx) = prob + ((2048 - prob) >> 5)
      } else {
        range -= bound
        code -= bound
        probs(idx) = prob - (prob >> 5)
        out = 1
      }
      if (range < (1L << 24)) {
        range = (range << 8) & 0xffffffffL
        code = ((code << 8) & 0xffffffffL) |
          (if (p < end) { val v = b(p) & 0xffL; p += 1; v } else 0L)
      }
      out
    }
  }

  /** BCJ2 (method 0x0303011B): four input streams — main, call,
    * jump, and a range-coded control stream deciding per branch
    * opcode (E8 / E9 / 0F 8x jcc) whether the next four output bytes
    * are an absolute big-endian address from the call/jump stream,
    * rewritten to the x86-relative little-endian form. E8's control
    * probability is contexted on the byte before the opcode
    * (2 + 256 adaptive probabilities).
    */
  private def bcj2Decode(main: Array[Byte], call: Array[Byte],
      jump: Array[Byte], rc: Array[Byte], outSize: Long): Array[Byte] = {
    if (outSize < 0 || outSize > TarEntries.MaxTotalBytes) return null
    val out = new Array[Byte](outSize.toInt)
    val dec = new RangeDec(rc, 0, rc.length)
    val probs = Array.fill(2 + 256)(1024)
    var mi = 0
    var ci = 0
    var ji = 0
    var o = 0
    var prev = 0
    while (o < out.length) {
      if (mi >= main.length) bad()
      val b = main(mi) & 0xff
      mi += 1
      out(o) = b.toByte
      o += 1
      val isBranch = (b & 0xfe) == 0xe8 ||
        (prev == 0x0f && (b & 0xf0) == 0x80)
      if (isBranch) {
        val idx = if (b == 0xe8) 2 + prev else if (b == 0xe9) 1 else 0
        if (dec.bit(probs, idx) != 0) {
          if (o + 4 > out.length) bad()
          val src =
            if (b == 0xe8) {
              if (ci + 4 > call.length) bad()
              val v = ((call(ci) & 0xffL) << 24) |
                ((call(ci + 1) & 0xffL) << 16) |
                ((call(ci + 2) & 0xffL) << 8) | (call(ci + 3) & 0xffL)
              ci += 4
              v
            } else {
              if (ji + 4 > jump.length) bad()
              val v = ((jump(ji) & 0xffL) << 24) |
                ((jump(ji + 1) & 0xffL) << 16) |
                ((jump(ji + 2) & 0xffL) << 8) | (jump(ji + 3) & 0xffL)
              ji += 4
              v
            }
          val dest = (src - (o.toLong + 4)) & 0xffffffffL
          out(o) = (dest & 0xff).toByte
          out(o + 1) = ((dest >> 8) & 0xff).toByte
          out(o + 2) = ((dest >> 16) & 0xff).toByte
          out(o + 3) = ((dest >> 24) & 0xff).toByte
          o += 4
          prev = ((dest >> 24) & 0xff).toInt
        } else prev = b
      } else prev = b
    }
    out
  }

  private val Bcj2Id = 0x0303011bL

  /** Decode one folder's output, or null for out-of-subset coders.
    * The folder is a GRAPH: each coder's inputs resolve to a packed
    * stream slice or another coder's output via the bind pairs, and
    * the folder's output is the one out-stream no bind pair
    * consumes. This covers the single-coder and two-coder linear
    * layouts and the four-input BCJ2 branching layout
    * (main/call/jump coders + raw control stream) in one walk.
    */
  private def decodeFolder(b: Array[Byte], f: Folder, packStart: Long,
      packSizes: Array[Long]): Array[Byte] = {
    val outSize = f.mainOutSize
    if (outSize > TarEntries.MaxTotalBytes) return null
    if (f.packedIndices.length != packSizes.length) return null

    val totalIn = f.coders.map(_.numIn).sum
    val totalOut = f.coders.map(_.numOut).sum
    // pack-slice offsets in file order
    val packOffs = new Array[Long](packSizes.length)
    var acc = packStart
    var k = 0
    while (k < packSizes.length) {
      packOffs(k) = acc
      if (packSizes(k) < 0) return null
      acc += packSizes(k)
      k += 1
    }
    if (packStart < 0 || acc > b.length) return null
    // global in index → packed stream ordinal / bound out stream
    val packOfIn = Array.fill(totalIn)(-1)
    f.packedIndices.zipWithIndex.foreach { case (in, pk) =>
      if (in < 0 || in >= totalIn || packOfIn(in) >= 0) return null
      packOfIn(in) = pk
    }
    val boundOut = Array.fill(totalIn)(-1)
    f.bindPairs.foreach { case (in, outI) =>
      if (in < 0 || in >= totalIn || outI < 0 || outI >= totalOut ||
          boundOut(in) >= 0 || packOfIn(in) >= 0) return null
      boundOut(in) = outI
    }
    // out stream → owning coder; coder → first global in/out index
    val coderOfOut = new Array[Int](totalOut)
    val firstIn = new Array[Int](f.coders.length)
    val firstOut = new Array[Int](f.coders.length)
    var inAcc = 0
    var outAcc = 0
    var ciX = 0
    while (ciX < f.coders.length) {
      firstIn(ciX) = inAcc
      firstOut(ciX) = outAcc
      var j = 0
      while (j < f.coders(ciX).numOut) {
        coderOfOut(outAcc + j) = ciX
        j += 1
      }
      inAcc += f.coders(ciX).numIn
      outAcc += f.coders(ciX).numOut
      ciX += 1
    }

    val memo = new Array[Array[Byte]](totalOut)
    def inBytes(gIn: Int, depth: Int): Array[Byte] = {
      if (packOfIn(gIn) >= 0) {
        val pk = packOfIn(gIn)
        java.util.Arrays.copyOfRange(b, packOffs(pk).toInt,
          (packOffs(pk) + packSizes(pk)).toInt)
      } else if (boundOut(gIn) >= 0) outBytes(boundOut(gIn), depth)
      else null
    }
    def outBytes(gOut: Int, depth: Int): Array[Byte] = {
      if (depth > 16) return null
      if (memo(gOut) != null) return memo(gOut)
      val ci = coderOfOut(gOut)
      val coder = f.coders(ci)
      val size = f.unpackSizes(gOut)
      if (size < 0 || size > TarEntries.MaxTotalBytes) return null
      val res: Array[Byte] = coder.id match {
        case Bcj2Id =>
          if (coder.numIn != 4 || coder.numOut != 1) null
          else {
            val main = inBytes(firstIn(ci), depth + 1)
            val call = inBytes(firstIn(ci) + 1, depth + 1)
            val jmp = inBytes(firstIn(ci) + 2, depth + 1)
            val rc = inBytes(firstIn(ci) + 3, depth + 1)
            if (main == null || call == null || jmp == null || rc == null)
              null
            else
              // a torn stream triages THIS folder; siblings survive
              try bcj2Decode(main, call, jmp, rc, size)
              catch { case Bad => null }
          }
        case 0x03 | 0x03030103L =>
          if (coder.numIn != 1 || coder.numOut != 1) null
          else {
            val in = inBytes(firstIn(ci), depth + 1)
            if (in == null || in.length != size) null
            else {
              val buf = in.clone()
              if (applyFilter(coder, buf)) buf else null
            }
          }
        case _ =>
          if (coder.numIn != 1 || coder.numOut != 1) null
          else {
            val in = inBytes(firstIn(ci), depth + 1)
            if (in == null) null
            else decodeCoder(coder, in, 0, in.length, size)
          }
      }
      if (res == null || res.length != size) return null
      memo(gOut) = res
      res
    }

    // the folder's output: the out-stream no bind pair consumes
    var mainOut = -1
    var oi = 0
    while (oi < totalOut && mainOut < 0) {
      if (!f.bindPairs.exists(_._2 == oi)) mainOut = oi
      oi += 1
    }
    if (mainOut < 0) return null
    val out = outBytes(mainOut, 0)
    if (out == null || out.length != outSize) return null
    if (f.crcDefined) {
      val crc = new java.util.zip.CRC32()
      crc.update(out)
      if (crc.getValue != f.crc) return null // corrupt folder fails closed
    }
    out
  }

  def entries(raw: Array[Byte], maxEntries: Int): GenericArrayData = {
    if (raw == null || raw.length < 32) return null
    if (!(raw(0) == '7' && raw(1) == 'z' && raw(2) == 0xbc.toByte &&
        raw(3) == 0xaf.toByte && raw(4) == 0x27 && raw(5) == 0x1c))
      return null
    try {
      // start header: CRC32 over the 20 bytes after it, then offsets
      val startCrc = (raw(8) & 0xffL) | ((raw(9) & 0xffL) << 8) |
        ((raw(10) & 0xffL) << 16) | ((raw(11) & 0xffL) << 24)
      val c0 = new java.util.zip.CRC32()
      c0.update(raw, 12, 20)
      if (c0.getValue != startCrc) return null
      var nhOff = 0L
      var nhSize = 0L
      var i = 0
      while (i < 8) {
        nhOff |= (raw(12 + i) & 0xffL) << (8 * i)
        nhSize |= (raw(20 + i) & 0xffL) << (8 * i)
        i += 1
      }
      val nhCrc = (raw(28) & 0xffL) | ((raw(29) & 0xffL) << 8) |
        ((raw(30) & 0xffL) << 16) | ((raw(31) & 0xffL) << 24)
      if (nhSize == 0) return new GenericArrayData(Array.empty[Any])
      val hs = 32 + nhOff
      if (hs < 32 || nhSize < 0 || hs + nhSize > raw.length) return null
      val c1 = new java.util.zip.CRC32()
      c1.update(raw, hs.toInt, nhSize.toInt)
      if (c1.getValue != nhCrc) return null

      var hb = raw
      var cur = new Cursor(raw, hs.toInt, (hs + nhSize).toInt)
      var id = cur.num().toInt
      if (id == KEncodedHeader) {
        // header itself is one compressed folder; decode and re-enter
        val si = parseStreamsInfo(cur)
        if (si.folders.length != 1) return null
        val dec = decodeFolder(raw, si.folders(0), 32 + si.packPos,
          si.packSizes)
        if (dec == null) return null
        hb = dec
        cur = new Cursor(hb, 0, hb.length)
        id = cur.num().toInt
      }
      if (id != KHeader) return null
      walkHeader(raw, hb, cur, maxEntries)
    } catch {
      case Bad | _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException | _: MatchError => null
    }
  }

  private def walkHeader(raw: Array[Byte], hb: Array[Byte], cur: Cursor,
      maxEntries: Int): GenericArrayData = {
    var si: StreamsInfo = new StreamsInfo
    var numFiles = 0
    var emptyStream: Array[Boolean] = null
    var emptyFile: Array[Boolean] = null
    var names: Array[String] = null

    var id = cur.num().toInt
    while (id != KEnd) {
      id match {
        case KMainStreamsInfo =>
          si = parseStreamsInfo(cur)
        case KFilesInfo =>
          numFiles = cur.num().toInt
          if (numFiles < 0 || numFiles > (1 << 20)) bad()
          var pid = cur.num().toInt
          while (pid != KEnd) {
            val size = cur.num()
            val next = cur.p + size
            if (size < 0 || next > cur.end) bad()
            pid match {
              case KEmptyStream => emptyStream = cur.bits(numFiles)
              case KEmptyFile =>
                val nEmpty =
                  if (emptyStream == null) 0 else emptyStream.count(x => x)
                emptyFile = cur.bits(nEmpty)
              case KName =>
                if (cur.u8() != 0) bad() // external names unsupported
                names = Array.fill(numFiles) {
                  val sb = new StringBuilder
                  var done = false
                  while (!done) {
                    val lo = cur.u8()
                    val hi = cur.u8()
                    val ch = lo | (hi << 8)
                    if (ch == 0) done = true else sb.append(ch.toChar)
                  }
                  sb.toString
                }
              case _ => () // mtime/attributes/etc: structural skip
            }
            cur.p = next.toInt
            pid = cur.num().toInt
          }
        case _ => bad() // kArchiveProperties etc: rare, out of subset
      }
      id = cur.num().toInt
    }
    if (names == null || names.length != numFiles) bad()
    if (emptyStream == null) emptyStream = new Array[Boolean](numFiles)

    // decode folders lazily as the file walk consumes their substreams
    val out = new java.util.ArrayList[GenericInternalRow]()
    var folderIdx = 0
    var subIdx = 0
    var subOff = 0L
    var folderData: Array[Byte] = null
    var folderOk = true
    var packOff = 32 + si.packPos
    var packIdx = 0
    var emptyIdx = 0
    var total = 0L
    var fi = 0
    while (fi < numFiles && out.size < maxEntries) {
      val name = names(fi).replace('\\', '/')
      if (emptyStream(fi)) {
        val isFile = emptyFile != null && emptyIdx < emptyFile.length &&
          emptyFile(emptyIdx)
        emptyIdx += 1
        if (isFile) // empty FILE; bare empty-stream rows are directories
          out.add(new GenericInternalRow(Array[Any](
            UTF8String.fromString(name), 0L, Array.emptyByteArray)))
      } else {
        // next substream
        if (folderIdx >= si.folders.length) bad()
        var f = si.folders(folderIdx)
        while (subIdx >= f.numSubstreams) {
          var k = 0
          while (k < f.packedIndices.length) { // this folder's pack streams
            packOff += si.packSizes(packIdx)
            packIdx += 1
            k += 1
          }
          folderIdx += 1
          subIdx = 0
          subOff = 0L
          folderData = null
          if (folderIdx >= si.folders.length) bad()
          f = si.folders(folderIdx)
        }
        if (folderData == null) {
          val sizes = si.packSizes.slice(packIdx,
            packIdx + f.packedIndices.length)
          folderData = decodeFolder(raw, f, packOff, sizes)
          folderOk = folderData != null
        }
        val sz = f.substreamSizes(subIdx)
        if (sz < 0) bad()
        if (folderOk) {
          if (subOff + sz > folderData.length) bad()
          if (sz <= TarEntries.MaxEntryBytes &&
              total + sz <= TarEntries.MaxTotalBytes) {
            val content = java.util.Arrays.copyOfRange(folderData,
              subOff.toInt, (subOff + sz).toInt)
            val want = f.substreamCrcs(subIdx)
            val crcOk = want < 0 || {
              val crc = new java.util.zip.CRC32()
              crc.update(content)
              crc.getValue == want
            }
            if (crcOk) {
              total += sz
              out.add(new GenericInternalRow(Array[Any](
                UTF8String.fromString(name), sz, content)))
            }
          }
        }
        subOff += sz
        subIdx += 1
      }
      fi += 1
    }
    val arr = new Array[Any](out.size)
    var k = 0
    while (k < out.size) { arr(k) = out.get(k); k += 1 }
    new GenericArrayData(arr)
  }
}
