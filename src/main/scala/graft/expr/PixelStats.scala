package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** REAL pixel decode: full zero-dependency image decoding — container
  * walk, zlib inflate, per-scanline unfilter, palette mapping — with
  * per-image pixel statistics, as one native codegen'd expression over
  * a `binary` column. This closes the last half-stub of the multimodal
  * story: [[ImageMeta]] reads container STRUCTURE; this expression
  * reads the pixels themselves (the `MediaDecoder` seam stays for
  * formats that genuinely need an external codec — lossy JPEG, video).
  *
  * Formats:
  *  - PNG (the zero-dependency-feasible one): 8-bit depth, color types
  *    0/2/3/4/6 (gray, RGB, palette, gray+alpha, RGBA), interlace 0
  *    AND 1 (Adam7: each of the seven reduced images unfilters
  *    independently, then its pixels scatter to the §8.2 pattern
  *    positions — an interlaced file decodes identically to its
  *    non-interlaced twin). IDAT chunks concatenate into one zlib
  *    stream, inflated with `java.util.zip.Inflater`; each scanline's
  *    filter byte (0 None, 1 Sub, 2 Up, 3 Average, 4 Paeth) is
  *    reversed per the PNG spec §9 recursions; palette images map
  *    indices through PLTE to RGB before stats. Chunk CRCs are NOT
  *    verified (stats want content, not integrity — same trade as
  *    [[ImageMeta]]); Adler32 is whatever Inflater enforces.
  *  - PPM binary (P6, maxval 255): header token parse (whitespace +
  *    `#` comments) then raw RGB.
  *  - BMP: BITMAPINFOHEADER, 24-bit uncompressed (BI_RGB); bottom-up
  *    or top-down; row padding to 4 bytes excluded from stats.
  *
  * Output struct: (format, width, height, channels, n_pixels, sum,
  * sumsq, pmin, pmax, constant) where sum/sumsq/min/max run over ALL
  * decoded channel bytes (alpha included for types 4/6 — transparency
  * is a content signal) and `constant` flags an all-identical-bytes
  * image (the near-blank frame a curation filter drops). The stats are
  * EXACT INTEGERS, so an oracle can replay them from construction
  * arithmetic and hash-match; means/variances derive downstream in
  * one documented double formula.
  *
  * Anything undecodable — truncated IDAT, bad filter type, 16-bit
  * depth, palette index past PLTE, decompression output too large
  * (> [[PixelStats.MaxRawBytes]] decoded bytes, the zip-bomb guard) —
  * yields NULL, never an error: at corpus scale a media column always
  * carries junk and `pixel IS NULL` is the triage filter.
  *
  * Scale shape: pure per-row projection (no shuffle, no state); cost
  * is the image's own decode. The blob should be projected away
  * immediately after, as [[graft.operators.Multimodal.pixelStats]]
  * does.
  */
case class PixelStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = PixelStats.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${PixelStats.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    PixelStats.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.PixelStats.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PixelStats =
    copy(child = newChild)
}

object PixelStats {
  val FunctionName = "graft_pixel_stats"

  /** Decoded-size cap (64 MiB of raw scanline bytes): a 100-byte blob
    * claiming a 100k×100k IHDR would otherwise allocate its declared
    * size before inflate fails — the classic decompression bomb. Real
    * training images decode far below this; larger ones are the
    * triage query's problem, not the executor heap's.
    */
  val MaxRawBytes: Long = 64L * 1024 * 1024

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_pixels", LongType, nullable = false),
    StructField("sum", LongType, nullable = false),
    StructField("sumsq", LongType, nullable = false),
    StructField("pmin", IntegerType, nullable = false),
    StructField("pmax", IntegerType, nullable = false),
    StructField("constant", IntegerType, nullable = false)))

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)

  /** Stats over `data[0, len)` (all channel bytes, already decoded). */
  private def stats(fmt: String, w: Int, h: Int, ch: Int,
      data: Array[Byte], len: Int): InternalRow = {
    var sum = 0L; var sumsq = 0L; var mn = 255; var mx = 0
    var i = 0
    while (i < len) {
      val v = data(i) & 0xFF
      sum += v; sumsq += v.toLong * v
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    InternalRow(UTF8String.fromString(fmt), w, h, ch,
      w.toLong * h, sum, sumsq, mn, mx, if (mn == mx) 1 else 0)
  }

  /** Fully decoded image: palette already mapped, BMP padding already
    * stripped — `px` is `height` rows × `width`·`channels` bytes,
    * row-major, channel-interleaved. The shared product of the three
    * format decoders, consumed by [[PixelStats]] (global stats) and
    * [[PixelGridSig]] (block signatures).
    */
  private[expr] final case class Decoded(fmt: String, w: Int, h: Int,
      ch: Int, px: Array[Byte])

  /** bytes → decoded pixels, or null if not decodable. PNG/PPM/BMP go
    * through the hand decoders (construction-replayable, oracle-gated);
    * JPEG, GIF and TIFF — formats whose decode genuinely needs a codec
    * — go through the JDK's own `javax.imageio` (public API, still
    * zero EXTERNAL dependencies; the TIFF plugin is standard since
    * JDK 9 and lossless, so its decode reproduces set pixels
    * exactly). The ImageIO tier is JVM-deterministic but
    * not construction-replayable (lossy JPEG's pixel values are the
    * codec's, not a formula's), so it is spec-gated rather than
    * oracle-gated; its output normalizes to 3-channel RGB (alpha
    * dropped, palettes resolved) and the same [[MaxRawBytes]] guard
    * applies via the header dims BEFORE the full decode.
    */
  /** A decode's pixels as 3-channel RGB: grayscale replicates, RGB
    * passes through, anything else has no defined widening → null.
    * The SHARED widening for every operator that consumes decoded
    * pixels ([[OrientPixels]], [[ResizePixels]]) — one definition of
    * the 3-channel shape, not one per operator.
    */
  private[expr] def toRgb(d: Decoded): Array[Byte] = {
    if (d == null) return null
    if (d.ch == 3) return d.px
    if (d.ch != 1) return null
    val n = d.w * d.h
    val rgb = new Array[Byte](n * 3)
    var i = 0
    while (i < n) {
      val g = d.px(i)
      rgb(i * 3) = g; rgb(i * 3 + 1) = g; rgb(i * 3 + 2) = g
      i += 1
    }
    rgb
  }

  private[expr] def decode(b: Array[Byte]): Decoded = {
    if (b == null || b.length < 10) return null
    if ((b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        b(4) == 0x0D && b(5) == 0x0A && b(6) == 0x1A && b(7) == 0x0A)
      return png(b)
    if (b(0) == 'P' && b(1) == '6') return ppm(b)
    if (b(0) == 'B' && b(1) == 'M') return bmp(b)
    if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      // baseline JPEG through the hand decoder (12.5× cheaper than the
      // ImageIO reader per thumbnail — SCALE.md round-12 probe);
      // progressive/arithmetic/CMYK and anything it rejects fall back
      val hand = JpegDecode.decode(b)
      return if (hand != null) hand else imageio(b, "jpeg")
    }
    if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8')
      return imageio(b, "gif")
    // WEBP: VP8L (lossless) through the hand decoder — the JDK has
    // no WebP reader, so lossy VP8 payloads triage inside the walk
    if (b.length >= 20 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
        b(11) == 'P')
      return Vp8lDecode.decode(b)
    // TIFF via the JDK's own ImageIO TIFF plugin (standard since
    // JDK 9); the ImageMeta IFD walk supplies the bomb-guard dims
    if ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
        (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))
      return imageio(b, "tiff")
    null
  }

  // --------------------------------------------------- JPEG/GIF (ImageIO)

  private def imageio(b: Array[Byte], fmt: String): Decoded = {
    // bomb guard first: dims from the cheap header parse — a
    // multi-gigapixel claim never reaches the full decode
    val meta = ImageMeta.parse(b)
    if (meta == null) return null
    val mw = meta.getInt(1); val mh = meta.getInt(2)
    if (mw.toLong * mh * 3 > MaxRawBytes) return null
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null) return null
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0 || w.toLong * h * 3 > MaxRawBytes) return null
      val px = new Array[Byte](w * h * 3)
      val cm = img.getColorModel
      if (cm.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_GRAY &&
          img.getRaster.getNumBands == 1 &&
          !cm.isInstanceOf[java.awt.image.IndexColorModel]) {
        // single-band grayscale: read RAW samples. getRGB would push
        // them through a linear-gray → sRGB conversion (146 → 199
        // class shifts) — a colorspace artifact, not decode output —
        // and the hand JPEG decoder ([[JpegDecode]]) emits raw
        // samples, so the fallback must match or gray stats would
        // depend on which decoder ran.
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRaster.getSamples(0, y, w, 1, 0, row)
          var x = 0
          while (x < w) {
            val v = (row(x) & 0xFF).toByte
            val o = (y * w + x) * 3
            px(o) = v; px(o + 1) = v; px(o + 2) = v
            x += 1
          }
          y += 1
        }
        return Decoded(fmt, w, h, 3, px)
      }
      // bulk row reads: per-pixel getRGB(x, y) pays the color-model
      // conversion call per PIXEL (~2-5× slower on JPEG); the bulk form
      // converts a whole row per call. Row-wise (not one w*h int grab)
      // keeps the extra buffer at w ints, preserving the MaxRawBytes
      // per-task memory bound.
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        var x = 0
        while (x < w) {
          val rgb = row(x)
          val o = (y * w + x) * 3
          px(o) = ((rgb >> 16) & 0xFF).toByte
          px(o + 1) = ((rgb >> 8) & 0xFF).toByte
          px(o + 2) = (rgb & 0xFF).toByte
          x += 1
        }
        y += 1
      }
      Decoded(fmt, w, h, 3, px)
    } catch {
      case _: Exception => null // corrupt stream: triage NULL, never error
    }
  }

  /** bytes → pixel-stats InternalRow, or null if not decodable. Static
    * so generated code calls it directly.
    */
  def parse(b: Array[Byte]): InternalRow = {
    val d = decode(b)
    if (d == null) null
    else stats(d.fmt, d.w, d.h, d.ch, d.px, d.px.length)
  }

  // ------------------------------------------------------------------ PNG

  // Adam7 pass pattern (spec §8.2): x/y start offsets and steps
  private val A7x0 = Array(0, 4, 0, 2, 0, 1, 0)
  private val A7dx = Array(8, 8, 4, 4, 2, 2, 1)
  private val A7y0 = Array(0, 0, 4, 0, 2, 0, 1)
  private val A7dy = Array(8, 8, 8, 4, 4, 2, 2)

  /** Unfilter (spec §9) one image of `h` scanlines of `w`·`ch` bytes
    * starting at `raw(off)` (each scanline prefixed by its filter
    * byte): recon(x) from filt(x) + neighbors a/b/c. Returns the
    * packed pixel bytes, or null on a bad filter type. Shared by the
    * non-interlaced path (one call) and Adam7 (one call per reduced
    * image — each pass's recursions reference its own neighbors).
    */
  private def unfilter(raw: Array[Byte], off: Int, w: Int, h: Int,
      ch: Int): Array[Byte] = {
    val bpp = ch
    val sw = w * ch
    val px = new Array[Byte](sw * h)
    var y = 0
    while (y < h) {
      val f = raw(off + y * (sw + 1)) & 0xFF
      if (f > 4) return null
      val src = off + y * (sw + 1) + 1
      val dst = y * sw
      var j = 0
      while (j < sw) {
        val x = raw(src + j) & 0xFF
        val a = if (j >= bpp) px(dst + j - bpp) & 0xFF else 0
        val up = if (y > 0) px(dst - sw + j) & 0xFF else 0
        val rec = f match {
          case 0 => x
          case 1 => x + a
          case 2 => x + up
          case 3 => x + ((a + up) >> 1)
          case _ => // Paeth
            val c = if (y > 0 && j >= bpp) px(dst - sw + j - bpp) & 0xFF else 0
            val p = a + up - c
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - c)
            x + (if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c)
        }
        px(dst + j) = rec.toByte
        j += 1
      }
      y += 1
    }
    px
  }

  private def png(b: Array[Byte]): Decoded = {
    // IHDR must be the first chunk (spec §5.6); 33 = sig + IHDR chunk
    if (b.length < 33) return null
    if (!(b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'))
      return null
    val w = be32(b, 16); val h = be32(b, 20)
    val depth = b(24) & 0xFF
    val colorType = b(25) & 0xFF
    val interlace = b(28) & 0xFF
    if (w <= 0 || h <= 0 || depth != 8 || interlace > 1) return null
    val ch = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return null
    }
    val stride = w.toLong * ch
    // Adam7 (interlace 1): the raw stream is seven reduced images,
    // each with its own per-scanline filter bytes; every pixel lands
    // in exactly one pass, so the stream is w·h·ch + Σ passRows bytes
    val rawLen: Long =
      if (interlace == 0) (stride + 1) * h
      else {
        var t = 0L
        var p = 0
        while (p < 7) {
          val wp = (w - A7x0(p) + A7dx(p) - 1) / A7dx(p)
          val hp = (h - A7y0(p) + A7dy(p) - 1) / A7dy(p)
          if (wp > 0 && hp > 0) t += hp.toLong * (wp.toLong * ch + 1)
          p += 1
        }
        t
      }
    if (rawLen <= 0 || rawLen > MaxRawBytes) return null
    // chunk walk: collect PLTE and the IDAT concatenation
    var plte: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var i = 8
    var end = false
    while (!end && i + 8 <= b.length) {
      val len = be32(b, i)
      // LONG arithmetic: a crafted length near Int.MaxValue would wrap
      // `i + 12 + len` negative, pass the bound check, and crash the
      // chunk walk — the triage contract says NULL, never an error
      if (len < 0 || i.toLong + 12L + len > b.length) end = true // truncated
      else {
        val t0 = b(i + 4); val t1 = b(i + 5); val t2 = b(i + 6); val t3 = b(i + 7)
        if (t0 == 'P' && t1 == 'L' && t2 == 'T' && t3 == 'E')
          plte = java.util.Arrays.copyOfRange(b, i + 8, i + 8 + len)
        else if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T')
          idat.write(b, i + 8, len)
        else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D')
          end = true
        i += 12 + len
      }
    }
    val comp = idat.toByteArray
    if (comp.length == 0) return null
    val raw = new Array[Byte](rawLen.toInt)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(comp)
      var off = 0
      var stalled = false
      while (off < raw.length && !inf.finished() && !stalled) {
        val n = inf.inflate(raw, off, raw.length - off)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) stalled = true
        off += n
      }
      if (off < raw.length) return null // truncated IDAT
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inf.end()
    val px =
      if (interlace == 0) unfilter(raw, 0, w, h, ch)
      else {
        // Adam7 §8.2: unfilter each reduced image independently (its
        // filter recursions reference ITS OWN neighbors, not the full
        // image's), then scatter pixels to their pattern positions
        val full = new Array[Byte]((stride * h).toInt) // ≤ rawLen ≤ cap
        var off = 0
        var p = 0
        while (p < 7) {
          val wp = (w - A7x0(p) + A7dx(p) - 1) / A7dx(p)
          val hp = (h - A7y0(p) + A7dy(p) - 1) / A7dy(p)
          if (wp > 0 && hp > 0) {
            val sub = unfilter(raw, off, wp, hp, ch)
            if (sub == null) return null
            off += hp * (wp * ch + 1)
            var yy = 0
            while (yy < hp) {
              val fy = A7y0(p) + yy * A7dy(p)
              var xx = 0
              while (xx < wp) {
                val fx = A7x0(p) + xx * A7dx(p)
                System.arraycopy(sub, (yy * wp + xx) * ch,
                  full, (fy * w + fx) * ch, ch)
                xx += 1
              }
              yy += 1
            }
          }
          p += 1
        }
        full
      }
    if (px == null) return null
    if (colorType == 3) {
      // palette: every index maps through PLTE to RGB; a dangling
      // index (or missing/ragged PLTE) is a malformed image → null.
      // The decoded-size cap re-checks the POST-expansion size here:
      // rawLen above counted 1 byte/px for palette images, so without
      // this an adversarial palette PNG allocates 3× the documented
      // decoded-bytes bound (same check the ImageIO tier applies).
      if (w.toLong * h * 3 > MaxRawBytes) return null
      if (plte == null || plte.length == 0 || plte.length % 3 != 0) return null
      val entries = plte.length / 3
      val rgb = new Array[Byte](px.length * 3)
      var k = 0
      while (k < px.length) {
        val idx = px(k) & 0xFF
        if (idx >= entries) return null
        rgb(k * 3) = plte(idx * 3)
        rgb(k * 3 + 1) = plte(idx * 3 + 1)
        rgb(k * 3 + 2) = plte(idx * 3 + 2)
        k += 1
      }
      Decoded("png", w, h, 3, rgb)
    } else Decoded("png", w, h, ch, px)
  }

  // ------------------------------------------------------------------ PPM

  private def ppm(b: Array[Byte]): Decoded = {
    // header: "P6" then 3 whitespace-separated tokens (w, h, maxval);
    // '#' starts a comment to end-of-line; ONE whitespace byte after
    // maxval, then raw RGB
    var i = 2
    val tok = new Array[Int](3)
    var t = 0
    while (t < 3) {
      // skip whitespace and comments
      var progress = true
      while (progress && i < b.length) {
        val c = b(i) & 0xFF
        if (c == ' ' || c == '\t' || c == '\n' || c == '\r') i += 1
        else if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else progress = false
      }
      if (i >= b.length) return null
      var v = 0L
      var digits = 0
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = v * 10 + (b(i) - '0'); digits += 1; i += 1
        if (v > Int.MaxValue) return null
      }
      if (digits == 0) return null
      tok(t) = v.toInt
      t += 1
    }
    if (i >= b.length) return null
    val ws = b(i) & 0xFF // exactly one whitespace byte before the raster
    if (!(ws == ' ' || ws == '\t' || ws == '\n' || ws == '\r')) return null
    i += 1
    val w = tok(0); val h = tok(1); val maxval = tok(2)
    if (w <= 0 || h <= 0 || maxval != 255) return null
    val n = w.toLong * h * 3
    if (n > MaxRawBytes || i + n > b.length) return null
    Decoded("ppm", w, h, 3,
      java.util.Arrays.copyOfRange(b, i, i + n.toInt))
  }

  // ------------------------------------------------------------------ BMP

  private def bmp(b: Array[Byte]): Decoded = {
    if (b.length < 54) return null
    val dataOff = le32(b, 10)
    val hdrSize = le32(b, 14)
    if (hdrSize < 40) return null // BITMAPCOREHEADER etc. unsupported
    val w = le32(b, 18)
    val rawH = le32(b, 22) // negative = top-down; stats are order-free
    val bits = le16(b, 28)
    val compression = le32(b, 30)
    if (bits != 24 || compression != 0) return null
    val h = math.abs(rawH)
    if (w <= 0 || h == 0) return null
    val stride = ((w * 3 + 3) / 4) * 4 // rows pad to 4 bytes
    val need = dataOff.toLong + stride.toLong * h
    if (w.toLong * h * 3 > MaxRawBytes) return null
    if (dataOff < 54 || need > b.length) return null
    // pack rows without padding; bottom-up order is irrelevant to the
    // consumers (stats are order-free; the grid signature re-derives
    // row index) — EXCEPT it is not: the grid signature needs rows in
    // top-down order, so bottom-up files reverse here
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = if (rawH > 0) h - 1 - y else y // stored order → top-down
      System.arraycopy(b, dataOff + srcRow * stride, px, y * w * 3, w * 3)
      y += 1
    }
    Decoded("bmp", w, h, 3, px)
  }
}
