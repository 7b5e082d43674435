package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Animated-GIF frame decode — the first REAL inter-frame video
  * decoder in the tree. GIF is an inter-frame format: frames may be
  * partial rects at offsets composited over the previous canvas
  * under a per-frame disposal method, with transparent pixels
  * leaving the canvas untouched — exactly the dependence structure
  * H.264-class codecs have, but losslessly decodable from the public
  * GIF89a specification alone.
  *
  * The decode is FULLY HAND-ROLLED, like the PNG tier: block walk
  * (extensions, graphic-control, image descriptors, local/global
  * color tables), the complete LZW decoder (variable 3–12-bit codes
  * LSB-first, CLEAR/EOI, the KwKwK case, width bumps at table
  * powers), GIF interlace pass order, and GIF89a compositing
  * (transparency holes, doNotDispose / restoreToBackgroundColor /
  * restoreToPrevious). The first implementation sat on
  * javax.imageio; per-frame reader + metadata-DOM overhead measured
  * 4.4× slower at 50k clips (42.6 s vs 9.6 s for the same planted
  * corpus through the AVI walk), and the hand decoder is
  * differential-tested against ImageIO's independent LZW
  * implementation in the spec — two decoders, one answer.
  *
  * Output: the COMPOSITED frames as binary PPM (P6) images — the
  * same "frames as image blobs" contract as [[AviFrames]] /
  * [[Mp4Frames]], so GIF clips flow through the identical
  * videoFrameStats / videoSignatures / videoNearDup pipeline with no
  * new downstream code.
  *
  * Lossless means DETERMINISTIC: planted palette indices decode to
  * exact pixel values, so unlike JPEG this codec tier is
  * oracle-replayable (q164 plants gray-palette indices and the
  * DuckDB oracle replays the per-frame stats arithmetic).
  *
  * Bomb guards mirror the media tier: at most `maxFrames` frames,
  * canvas capped at 8 MiB of RGB bytes (checked from the header
  * BEFORE any allocation), 64 MiB total output, LZW dictionary
  * hard-capped at 4096 per the spec. A frame that fails to decode
  * ends the walk with the frames already composited (truncated
  * tail). Not a GIF, zero decodable frames → NULL, never an error.
  */
case class GifFrames(child: Expression, maxFrames: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${GifFrames.FunctionName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxFrames < 1 || maxFrames > 4096)
      TypeCheckResult.TypeCheckFailure(
        s"${GifFrames.FunctionName} maxFrames must be in [1, 4096]: $maxFrames")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    GifFrames.frames(v.asInstanceOf[Array[Byte]], maxFrames)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.GifFrames.frames($c, $maxFrames);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): GifFrames =
    copy(child = newChild)
}

object GifFrames {
  val FunctionName = "graft_gif_frames"

  val MaxCanvasBytes: Int = 8 << 20   // 8 MiB RGB canvas
  val MaxTotalBytes: Long = 64L << 20 // 64 MiB of emitted frames

  // GIF interlace pass order (spec appendix E)
  private val IlStart = Array(0, 4, 2, 1)
  private val IlStep = Array(8, 8, 4, 2)

  /** Full LZW decode of `data` into exactly `nPixels` index bytes
    * (extra codes past the raster are ignored). Null on a corrupt OR
    * truncated code stream — a short raster must not be composited,
    * so a stream that ends before filling the raster fails the frame.
    */
  private def lzwDecode(data: Array[Byte], minCode: Int,
      nPixels: Int): Array[Byte] = {
    if (minCode < 2 || minCode > 11) return null
    val clear = 1 << minCode
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val out = new Array[Byte](nPixels)
    var outN = 0
    var dictSize = eoi + 1
    var codeSize = minCode + 1
    var prev = -1
    var acc = 0L
    var bits = 0
    var pos = 0
    def firstOf(code0: Int): Byte = {
      var c = code0
      while (c >= eoi + 1) c = prefix(c)
      c.toByte
    }
    var done = false
    while (!done && outN < nPixels) {
      while (bits < codeSize && pos < data.length) {
        acc |= (data(pos) & 0xFFL) << bits
        bits += 8
        pos += 1
      }
      if (bits < codeSize) done = true // truncated stream
      else {
        val code = (acc & ((1 << codeSize) - 1)).toInt
        acc >>= codeSize
        bits -= codeSize
        if (code == clear) {
          dictSize = eoi + 1
          codeSize = minCode + 1
          prev = -1
        } else if (code == eoi) {
          done = true
        } else if (prev < 0) {
          if (code >= clear) return null // first code must be a root
          out(outN) = code.toByte
          outN += 1
          prev = code
        } else {
          var sp = 0
          var c = code
          if (c == dictSize) { // KwKwK
            stack(sp) = firstOf(prev)
            sp += 1
            c = prev
          } else if (c > dictSize) return null
          while (c >= eoi + 1) {
            stack(sp) = suffix(c)
            sp += 1
            c = prefix(c)
          }
          stack(sp) = c.toByte
          sp += 1
          while (sp > 0 && outN < nPixels) {
            sp -= 1
            out(outN) = stack(sp)
            outN += 1
          }
          if (dictSize < 4096) {
            prefix(dictSize) = prev
            suffix(dictSize) = firstOf(code)
            dictSize += 1
            if (dictSize == (1 << codeSize) && codeSize < 12) codeSize += 1
          }
          prev = code
        }
      }
    }
    if (outN < nPixels) null else out
  }

  /** bytes → array of composited PPM frames, or null. Static for
    * codegen.
    */
  def frames(b: Array[Byte], maxFrames: Int): GenericArrayData = {
    if (b == null || b.length < 13) return null
    if (!(b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a')) return null
    // logical screen from the fixed header — the bomb guard needs the
    // canvas size BEFORE any allocation
    val w = (b(6) & 0xFF) | ((b(7) & 0xFF) << 8)
    val h = (b(8) & 0xFF) | ((b(9) & 0xFF) << 8)
    if (w <= 0 || h <= 0 || w.toLong * h * 3 > MaxCanvasBytes) return null
    val screenPacked = b(10) & 0xFF
    var o = 13
    // global color table
    var gct: Array[Int] = null
    if ((screenPacked & 0x80) != 0) {
      val n = 2 << (screenPacked & 0x7)
      if (o + 3 * n > b.length) return null
      gct = readPalette(b, o, n)
      o += 3 * n
    }

    val out = new java.util.ArrayList[Array[Byte]]()
    var total = 0L
    val canvas = new Array[Int](w * h) // packed RGB, black initial
    var saved: Array[Int] = null
    val header = s"P6\n$w $h\n255\n".getBytes("ISO-8859-1")
    val frameBytes = header.length + w * h * 3

    // pending graphic-control state (applies to the next image)
    var disposal = 0
    var transparent = -1

    var ok = true
    while (ok && o < b.length && out.size < maxFrames) {
      (b(o) & 0xFF) match {
        case 0x3B => ok = false // trailer
        case 0x21 => // extension: label + sub-blocks
          if (o + 2 > b.length) ok = false
          else {
            val label = b(o + 1) & 0xFF
            var p = o + 2
            if (label == 0xF9 && p < b.length && (b(p) & 0xFF) >= 4 &&
                p + 5 <= b.length) {
              val packed = b(p + 1) & 0xFF
              disposal = (packed >> 2) & 0x7
              transparent =
                if ((packed & 1) != 0) b(p + 4) & 0xFF else -1
            }
            // skip all sub-blocks (any extension)
            var run = true
            while (run && p < b.length) {
              val len = b(p) & 0xFF
              if (len == 0) { p += 1; run = false }
              else p += 1 + len
            }
            if (run) ok = false else o = p
          }
        case 0x2C => // image descriptor
          if (o + 10 > b.length) ok = false
          else {
            val fx = (b(o + 1) & 0xFF) | ((b(o + 2) & 0xFF) << 8)
            val fy = (b(o + 3) & 0xFF) | ((b(o + 4) & 0xFF) << 8)
            val fw = (b(o + 5) & 0xFF) | ((b(o + 6) & 0xFF) << 8)
            val fh = (b(o + 7) & 0xFF) | ((b(o + 8) & 0xFF) << 8)
            val packed = b(o + 9) & 0xFF
            var p = o + 10
            var pal = gct
            if ((packed & 0x80) != 0) {
              val n = 2 << (packed & 0x7)
              if (p + 3 * n > b.length) { ok = false }
              else { pal = readPalette(b, p, n); p += 3 * n }
            }
            val interlaced = (packed & 0x40) != 0
            if (!ok || pal == null || fw <= 0 || fh <= 0 ||
                fx + fw > w || fy + fh > h || p >= b.length) ok = false
            else {
              val minCode = b(p) & 0xFF
              p += 1
              // concatenate the LZW sub-blocks
              val lzw = new java.io.ByteArrayOutputStream()
              var run = true
              while (run && p < b.length) {
                val len = b(p) & 0xFF
                if (len == 0) { p += 1; run = false }
                else if (p + 1 + len > b.length) { p = b.length; run = false; ok = false }
                else { lzw.write(b, p + 1, len); p += 1 + len }
              }
              if (run) ok = false
              val idx = if (ok)
                lzwDecode(lzw.toByteArray, minCode, fw * fh) else null
              if (idx == null) ok = false
              else {
                if (disposal == 3) { // restoreToPrevious: snapshot first
                  saved = new Array[Int](w * h)
                  System.arraycopy(canvas, 0, saved, 0, w * h)
                }
                // draw with transparency; interlace maps source rows
                var r = 0
                var srcRow = 0
                if (interlaced) {
                  var pass = 0
                  while (pass < 4) {
                    var ty = IlStart(pass)
                    while (ty < fh) {
                      drawRow(canvas, w, pal, transparent, idx,
                        srcRow * fw, fx, fy + ty, fw)
                      srcRow += 1
                      ty += IlStep(pass)
                    }
                    pass += 1
                  }
                } else {
                  while (r < fh) {
                    drawRow(canvas, w, pal, transparent, idx,
                      r * fw, fx, fy + r, fw)
                    r += 1
                  }
                }
                if (total + frameBytes > MaxTotalBytes) ok = false
                else {
                  val px = new Array[Byte](frameBytes)
                  System.arraycopy(header, 0, px, 0, header.length)
                  var i = 0
                  while (i < w * h) {
                    val rgb = canvas(i)
                    val q = header.length + i * 3
                    px(q) = ((rgb >> 16) & 0xFF).toByte
                    px(q + 1) = ((rgb >> 8) & 0xFF).toByte
                    px(q + 2) = (rgb & 0xFF).toByte
                    i += 1
                  }
                  out.add(px)
                  total += frameBytes
                  disposal match {
                    case 2 => // restoreToBackgroundColor → black rect
                      var yy = fy
                      while (yy < fy + fh) {
                        java.util.Arrays.fill(canvas, yy * w + fx,
                          yy * w + fx + fw, 0)
                        yy += 1
                      }
                    case 3 if saved != null =>
                      System.arraycopy(saved, 0, canvas, 0, w * h)
                    case _ => // none / doNotDispose accumulate
                  }
                  disposal = 0
                  transparent = -1
                  o = p
                }
              }
            }
          }
        case _ => ok = false // unknown block: stop with frames so far
      }
    }

    if (out.isEmpty) return null
    val arr = new Array[Any](out.size)
    var i = 0
    while (i < out.size) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  private def readPalette(b: Array[Byte], o: Int, n: Int): Array[Int] = {
    val p = new Array[Int](n)
    var i = 0
    while (i < n) {
      p(i) = ((b(o + 3 * i) & 0xFF) << 16) |
        ((b(o + 3 * i + 1) & 0xFF) << 8) | (b(o + 3 * i + 2) & 0xFF)
      i += 1
    }
    p
  }

  private def drawRow(canvas: Array[Int], w: Int, pal: Array[Int],
      transparent: Int, idx: Array[Byte], src: Int, fx: Int, ty: Int,
      fw: Int): Unit = {
    var x = 0
    while (x < fw) {
      val v = idx(src + x) & 0xFF
      if (v != transparent && v < pal.length)
        canvas(ty * w + fx + x) = pal(v)
      x += 1
    }
  }
}
