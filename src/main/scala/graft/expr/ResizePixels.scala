package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}

/** Materialized image RESIZE over a binary column — the explicit
  * thumbnail operator the perceptual tier implies: [[PixelGridSig]]
  * resizes internally to hash, but a vision-model curation pipeline
  * needs the RESIZED PIXELS themselves (dataset thumbnails, model
  * preprocessing at a fixed input size). Decodes through the SHARED
  * [[PixelStats.decode]] (PPM, PNG, BMP, JPEG incl. progressive and
  * CMYK via the hand decoder, GIF/TIFF via ImageIO), so one operator
  * covers every ingestible format; output is a P6 PPM blob that
  * every downstream operator (stats, signatures, near-dup, this
  * expression again) re-ingests.
  *
  * Semantics — chosen INTEGER-EXACT so a relational oracle replays
  * them (the [[PixelGridSig]] rule generalized to pixels):
  *
  *  - destination pixel (x2, y2) averages the source box
  *    [⌊x2·w/dw⌋, ⌊(x2+1)·w/dw⌋) × [⌊y2·h/dh⌋, ⌊(y2+1)·h/dh⌋),
  *    per channel, mean = ⌊sum/count⌋ (floor division);
  *  - UPSCALE (empty box): the box clamps to one pixel
  *    (hi = lo + 1), i.e. nearest-neighbour by the same floor rule —
  *    no interpolation, so the formula stays engine-exact;
  *  - grayscale decodes replicate to RGB first (the [[OrientPixels]]
  *    contract), so every format lands on the same 3-channel shape.
  *
  * Box-filter averaging (area averaging) is the standard
  * downscale-quality choice (what OpenCV INTER_AREA and PIL's
  * `reduce` do); bilinear/Lanczos would be float and
  * oracle-unreplayable for no benefit at thumbnail scale.
  *
  * Target dims are bounded (1 ≤ d ≤ 4096, dw·dh ≤ 2^22) — the BOMB
  * guard for the output side; the input side inherits
  * [[PixelStats.MaxRawBytes]] through the shared decode. Undecodable
  * payloads or out-of-range dims → NULL, never an error. Scale
  * shape: pure per-row projection; one pass over the source per
  * destination row band, no allocation beyond the output.
  */
case class ResizePixels(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (BinaryType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"${ResizePixels.FunctionName} expects (binary, int, int), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }

  override def nullSafeEval(b: Any, w: Any, h: Any): Any =
    ResizePixels.resize(b.asInstanceOf[Array[Byte]],
      w.asInstanceOf[Int], h.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, w, h) => {
      s"""
         |${ev.value} = graft.expr.ResizePixels.resize($b, $w, $h);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): ResizePixels =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ResizePixels {
  val FunctionName = "graft_resize_pixels"

  /** bytes + target dims → P6 PPM bytes, or null. Static for codegen. */
  def resize(b: Array[Byte], dw: Int, dh: Int): Array[Byte] = {
    if (dw < 1 || dh < 1 || dw > 4096 || dh > 4096 ||
        dw.toLong * dh > (1L << 22)) return null
    val d = PixelStats.decode(b)
    val src = PixelStats.toRgb(d) // shared grayscale→RGB widening
    if (src == null) return null
    val w = d.w
    val h = d.h
    val header = s"P6\n$dw $dh\n255\n".getBytes("ISO-8859-1")
    val out = new Array[Byte](header.length + dw * dh * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var y2 = 0
    while (y2 < dh) {
      val yLo = (y2.toLong * h / dh).toInt
      var yHi = ((y2 + 1).toLong * h / dh).toInt
      if (yHi <= yLo) yHi = math.min(yLo + 1, h)
      var x2 = 0
      while (x2 < dw) {
        val xLo = (x2.toLong * w / dw).toInt
        var xHi = ((x2 + 1).toLong * w / dw).toInt
        if (xHi <= xLo) xHi = math.min(xLo + 1, w)
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = yLo
        while (y < yHi) {
          var i = (y * w + xLo) * 3
          var x = xLo
          while (x < xHi) {
            sr += src(i) & 0xFF
            sg += src(i + 1) & 0xFF
            sb += src(i + 2) & 0xFF
            i += 3
            x += 1
          }
          y += 1
        }
        val n = (yHi - yLo).toLong * (xHi - xLo)
        val o = header.length + (y2 * dw + x2) * 3
        out(o) = (sr / n).toByte
        out(o + 1) = (sg / n).toByte
        out(o + 2) = (sb / n).toByte
        x2 += 1
      }
      y2 += 1
    }
    out
  }
}
