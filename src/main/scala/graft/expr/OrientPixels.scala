package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}

/** Apply an Exif orientation transform to an image's DECODED pixels,
  * re-emitted as a P6 PPM blob — the normalization step between
  * [[ExifOrientation]] and the perceptual tier: a camera upload and
  * its rotated re-upload hash to different [[PixelGridSig]]s until
  * both normalize to display orientation, after which the existing
  * near-dup family pairs them with no new kernels.
  *
  * Input decodes through the SHARED [[PixelStats.decode]] (PPM, PNG,
  * BMP, JPEG via the hand decoder, GIF/TIFF via ImageIO), so the
  * transform composes with every supported format. The eight Exif
  * transforms (values 1-8: identity, mirror-H, rotate-180, mirror-V,
  * transpose, rotate-90-CW, transverse, rotate-270-CW) are exact
  * pixel permutations — integer index arithmetic, so a construction
  * replays relationally. Orientation outside 1-8 or an undecodable
  * payload → NULL, never an error. Pure per-row projection.
  */
case class OrientPixels(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"${OrientPixels.FunctionName} expects (binary, int), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(content: Any, orientation: Any): Any =
    OrientPixels.orient(content.asInstanceOf[Array[Byte]],
      orientation.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, o) => {
      s"""
         |${ev.value} = graft.expr.OrientPixels.orient($c, $o);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): OrientPixels =
    copy(left = newLeft, right = newRight)
}

object OrientPixels {
  val FunctionName = "graft_orient_pixels"

  /** bytes + orientation → display-oriented P6 PPM bytes, or null.
    * Static for codegen.
    */
  def orient(b: Array[Byte], orientation: Int): Array[Byte] = {
    if (orientation < 1 || orientation > 8) return null
    val d = PixelStats.decode(b)
    // grayscale decodes (e.g. single-channel PNG) replicate to RGB so
    // the transform composes with every format decode() supports —
    // the widening is PixelStats.toRgb, shared with ResizePixels
    val px = PixelStats.toRgb(d)
    if (px == null) return null
    val w = d.w
    val h = d.h
    val swap = orientation >= 5 // transpose family swaps dims
    val w2 = if (swap) h else w
    val h2 = if (swap) w else h
    val header = s"P6\n$w2 $h2\n255\n".getBytes("ISO-8859-1")
    val out = new Array[Byte](header.length + w2 * h2 * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    // each transform is affine in the destination coordinates:
    // x = a·x2 + b·y2 + c, y = d·x2 + e·y2 + f — hoisted out of the
    // per-pixel loop (1 = identity, 2 = mirror-H, 3 = rotate-180,
    // 4 = mirror-V, 5 = transpose, 6 = stored-needs-90°CW,
    // 7 = transverse, 8 = stored-needs-270°CW; verified against
    // hand-rotated matrices in the spec)
    var a = 0; var bb = 0; var c = 0; var dd = 0; var e = 0; var f = 0
    (orientation: @annotation.switch) match {
      case 1 => a = 1; e = 1
      case 2 => a = -1; c = w - 1; e = 1
      case 3 => a = -1; c = w - 1; e = -1; f = h - 1
      case 4 => a = 1; e = -1; f = h - 1
      case 5 => bb = 1; dd = 1
      case 6 => bb = 1; dd = -1; f = h - 1
      case 7 => bb = -1; c = w - 1; dd = -1; f = h - 1
      case _ => bb = -1; c = w - 1; dd = 1 // 8
    }
    var y2 = 0
    while (y2 < h2) {
      var x2 = 0
      while (x2 < w2) {
        val x = a * x2 + bb * y2 + c
        val y = dd * x2 + e * y2 + f
        val src = (y * w + x) * 3
        val dst = header.length + (y2 * w2 + x2) * 3
        out(dst) = px(src)
        out(dst + 1) = px(src + 1)
        out(dst + 2) = px(src + 2)
        x2 += 1
      }
      y2 += 1
    }
    out
  }
}
