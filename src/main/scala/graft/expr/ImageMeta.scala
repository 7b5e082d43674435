package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native image-header decode: PNG / JPEG / GIF container metadata
  * (format, width, height, channels, bit_depth) parsed straight from a
  * `binary` column's bytes — the real half of the multimodal decode
  * story (reference: the pipeline treats media as opaque blobs; here
  * the container STRUCTURE is decoded for real, only pixel decode
  * stays behind the pluggable `Multimodal.MediaDecoder`).
  *
  * Zero dependencies, header-only: no pixel data is touched, so the
  * cost per row is a bounded marker scan (JPEG) or two fixed-offset
  * reads (PNG/GIF) — safe inside whole-stage codegen on a 100 TB blob
  * column, and the blob itself is projected away right after. Formats:
  *  - PNG: 8-byte signature + IHDR chunk (width/height 32-bit BE, bit
  *    depth, color type → channels 1/3 for gray/RGB, 2/4 with alpha,
  *    1 for palette)
  *  - JPEG: SOI then marker scan skipping segments by length to the
  *    first SOF0–SOF15 frame header (except DHT/JPG/DAC), reading
  *    precision, height, width, component count. Fill bytes and
  *    standalone markers (RST, TEM) are skipped per the spec
  *  - GIF: GIF87a/GIF89a signature + logical-screen width/height
  *    (16-bit LE), palette-indexed → 1 channel, 8-bit
  *  - WEBP: RIFF/WEBP container — VP8 lossy key-frame header (14-bit
  *    dims behind the 9D 01 2A start code), VP8L lossless (packed
  *    14-bit dims + alpha hint), VP8X extended (24-bit canvas dims,
  *    alpha flag)
  *  - TIFF: both byte orders (II*\0 / MM\0*), IFD0 entry walk for
  *    width/length/bits-per-sample/samples-per-pixel, inline SHORT/
  *    LONG values and offset SHORT arrays per TIFF 6.0
  *  - BMP: BITMAPINFOHEADER dims (negative height = top-down), bpp →
  *    channels/depth
  *  - PPM/PGM (P6/P5): ASCII header with comments, maxval → 8/16-bit
  *
  * Anything else — truncated headers, zero dimensions, non-image bytes
  * — yields NULL, never an error: at corpus scale a media column always
  * carries undecodable rows and a filter on `meta IS NULL` is the
  * triage query.
  */
case class ImageMeta(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ImageMeta.Schema

  // parse returns null for undecodable bytes even when input is non-null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${ImageMeta.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    ImageMeta.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.ImageMeta.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ImageMeta =
    copy(child = newChild)
}

object ImageMeta {
  val FunctionName = "graft_image_meta"

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bit_depth", IntegerType, nullable = false)))

  private def row(fmt: String, w: Int, h: Int, ch: Int, depth: Int): InternalRow =
    if (w <= 0 || h <= 0) null
    else InternalRow(UTF8String.fromString(fmt), w, h, ch, depth)

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)

  /** bytes → metadata InternalRow, or null if not a parseable image
    * header. Static so generated code calls it directly.
    */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 10) return null
    // ---- PNG: \x89PNG\r\n\x1a\n + IHDR as the first chunk
    if ((b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(4) == 0x0D && b(5) == 0x0A && b(6) == 0x1A && b(7) == 0x0A) {
      if (b.length < 26) return null
      if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'))
        return null
      val w = be32(b, 16); val h = be32(b, 20)
      val depth = b(24) & 0xFF
      val channels = (b(25) & 0xFF) match {
        case 0 => 1 // grayscale
        case 2 => 3 // truecolor
        case 3 => 1 // palette-indexed
        case 4 => 2 // gray + alpha
        case 6 => 4 // truecolor + alpha
        case _ => return null
      }
      return row("png", w, h, channels, depth)
    }
    // ---- JPEG: SOI, then segments to the first frame header (SOFn)
    if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      var i = 2
      while (i + 3 < b.length) {
        if ((b(i) & 0xFF) != 0xFF) return null // desynced — not a JPEG
        // fill bytes: consecutive FFs pad before a marker
        var j = i
        while (j + 1 < b.length && (b(j + 1) & 0xFF) == 0xFF) j += 1
        if (j + 1 >= b.length) return null
        val marker = b(j + 1) & 0xFF
        if (marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC) {
          // SOFn: len(2) precision(1) height(2) width(2) ncomp(1)
          if (j + 9 >= b.length) return null
          val depth = b(j + 4) & 0xFF
          val h = be16(b, j + 5); val w = be16(b, j + 7)
          val ncomp = b(j + 9) & 0xFF
          return row("jpeg", w, h, ncomp, depth)
        } else if (marker == 0xD9 || marker == 0xDA) {
          return null // EOI / scan start without a frame header
        } else if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD7)) {
          i = j + 2 // standalone marker, no length field
        } else {
          if (j + 3 >= b.length) return null
          val len = be16(b, j + 2)
          if (len < 2) return null
          i = j + 2 + len
        }
      }
      return null
    }
    // ---- GIF: GIF87a / GIF89a + logical screen descriptor
    if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      return row("gif", le16(b, 6), le16(b, 8), 1, 8)
    }
    // ---- WEBP: RIFF container, first chunk VP8 (lossy) / VP8L
    // (lossless) / VP8X (extended)
    if (b.length >= 16 &&
        b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') {
      val fourcc = new String(Array(b(12), b(13), b(14), b(15)),
        java.nio.charset.StandardCharsets.US_ASCII)
      fourcc match {
        case "VP8 " if b.length >= 30 =>
          // key-frame header: 3-byte frame tag, start code 9D 01 2A,
          // then 14-bit LE width/height
          if ((b(23) & 0xFF) != 0x9D || (b(24) & 0xFF) != 0x01 ||
              (b(25) & 0xFF) != 0x2A) return null
          return row("webp", le16(b, 26) & 0x3FFF, le16(b, 28) & 0x3FFF, 3, 8)
        case "VP8L" if b.length >= 25 =>
          // signature 2F, then width-1 in bits 0..13, height-1 in
          // 14..27, alpha hint in bit 28
          if ((b(20) & 0xFF) != 0x2F) return null
          val bits = (b(21) & 0xFFL) | ((b(22) & 0xFFL) << 8) |
            ((b(23) & 0xFFL) << 16) | ((b(24) & 0xFFL) << 24)
          val ch = if (((bits >> 28) & 1L) == 1L) 4 else 3
          return row("webp", (bits & 0x3FFF).toInt + 1,
            ((bits >> 14) & 0x3FFF).toInt + 1, ch, 8)
        case "VP8X" if b.length >= 30 =>
          // payload: 1 flag byte (bit 4 = alpha), 3 reserved, then
          // 24-bit LE canvas width-1 / height-1
          val ch = if ((b(20) & 0x10) != 0) 4 else 3
          def le24(i: Int): Int =
            (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) | ((b(i + 2) & 0xFF) << 16)
          return row("webp", le24(24) + 1, le24(27) + 1, ch, 8)
        case _ => return null
      }
    }
    // ---- TIFF: II*\0 (little-endian) or MM\0* (big-endian) + IFD0
    // entry walk for ImageWidth(256)/ImageLength(257)/
    // BitsPerSample(258)/SamplesPerPixel(277). Inline values are
    // left-justified in the 4-byte value field per TIFF 6.0 §2; a
    // multi-count BitsPerSample stores an OFFSET to a SHORT array
    // (first entry read — depth is per sample and uniform in
    // baseline TIFF). Defaults per spec: SamplesPerPixel 1,
    // BitsPerSample 1.
    if ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
        (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42)) {
      val le = b(0) == 'I'
      def u16(i: Int): Int = if (le) le16(b, i) else be16(b, i)
      def u32(i: Int): Long =
        if (le) (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
          ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
        else be32(b, i) & 0xFFFFFFFFL
      val ifd = u32(4)
      if (ifd < 8 || ifd + 2 > b.length) return null
      val n = u16(ifd.toInt)
      if (ifd + 2 + 12L * n > b.length) return null
      var w = 0L; var h = 0L; var spp = 1; var bits = 1
      var e = 0
      while (e < n) {
        val off = ifd.toInt + 2 + 12 * e
        val tagId = u16(off)
        val typ = u16(off + 2)
        val cnt = u32(off + 4)
        // SHORT(3) / LONG(4) inline value, left-justified at off+8
        def inlineVal: Long =
          if (typ == 3) u16(off + 8).toLong
          else if (typ == 4) u32(off + 8)
          else -1L
        tagId match {
          case 256 => w = inlineVal
          case 257 => h = inlineVal
          case 277 => val v = inlineVal; if (v > 0 && v <= 64) spp = v.toInt
          case 258 =>
            if (cnt == 1) { val v = inlineVal; if (v > 0 && v <= 64) bits = v.toInt }
            else if (typ == 3) {
              val p = u32(off + 8)
              if (p + 2 <= b.length && p >= 0) {
                val v = u16(p.toInt); if (v > 0 && v <= 64) bits = v
              }
            }
          case _ => // other tags irrelevant to the metadata row
        }
        e += 1
      }
      if (w <= 0 || h <= 0 || w > (1 << 30) || h > (1 << 30)) return null
      return row("tiff", w.toInt, h.toInt, spp, bits)
    }
    // ---- BMP: BITMAPINFOHEADER dims (height may be negative =
    // top-down; magnitude is the pixel height). The field layout
    // below requires the 40-byte-or-wider DIB family — an OS/2
    // BITMAPCOREHEADER (size 12, 16-bit dims) would misparse, so
    // triage on the DIB size field first.
    if (b(0) == 'B' && b(1) == 'M' && b.length >= 30) {
      val dibSize = (b(14) & 0xFF) | ((b(15) & 0xFF) << 8) |
        ((b(16) & 0xFF) << 16) | ((b(17) & 0xFF) << 24)
      if (dibSize < 40) return null
      val w = (b(18) & 0xFF) | ((b(19) & 0xFF) << 8) |
        ((b(20) & 0xFF) << 16) | ((b(21) & 0xFF) << 24)
      val hRaw = (b(22) & 0xFF) | ((b(23) & 0xFF) << 8) |
        ((b(24) & 0xFF) << 16) | ((b(25) & 0xFF) << 24)
      val bpp = le16(b, 28)
      if (bpp <= 0 || bpp > 32) return null
      val ch = if (bpp >= 24) bpp / 8 else 1 // palette/gray below 24bpp
      val depth = if (bpp >= 24) 8 else bpp
      return row("bmp", w, math.abs(hRaw), ch, depth)
    }
    // ---- PPM/PGM (P6/P5): ASCII header — whitespace-separated
    // width, height, maxval, with '#' comments per the netpbm spec
    if (b(0) == 'P' && (b(1) == '6' || b(1) == '5')) {
      var i = 2
      val vals = new Array[Long](3)
      var v = 0
      while (v < 3 && i < b.length) {
        // skip whitespace and comments
        var moved = true
        while (moved && i < b.length) {
          moved = false
          while (i < b.length && (b(i) == ' ' || b(i) == '\t' ||
              b(i) == '\n' || b(i) == '\r')) { i += 1; moved = true }
          if (i < b.length && b(i) == '#') {
            while (i < b.length && b(i) != '\n') i += 1
            moved = true
          }
        }
        var num = -1L
        while (i < b.length && b(i) >= '0' && b(i) <= '9') {
          num = math.max(num, 0) * 10 + (b(i) - '0')
          i += 1
          if (num > (1L << 30)) return null
        }
        if (num < 0) return null
        vals(v) = num
        v += 1
      }
      if (v < 3 || vals(2) <= 0 || vals(2) > 65535) return null
      val ch = if (b(1) == '6') 3 else 1
      val depth = if (vals(2) < 256) 8 else 16
      return row("ppm", vals(0).toInt, vals(1).toInt, ch, depth)
    }
    null
  }
}
