package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}

/** Exif orientation (tag 0x0112) over a binary column — the one Exif
  * field an image-curation pipeline genuinely needs: cameras store
  * sensor-order pixels and record the rotation here, so two uploads of
  * one photo can differ by a 90° rotation the perceptual signatures
  * ([[PixelGridSig]]) rightly see as different content. Surfacing the
  * flag lets a pipeline group `(ahash, orientation-normalized)` or
  * route rotated candidates to a transform stage.
  *
  * Sources walked (both TIFF 6.0 §2 IFD walks, values 1-8 per the
  * Exif spec):
  *  - JPEG: marker walk to the APP1 segment bearing the `Exif\0\0`
  *    identifier, then the embedded TIFF structure (either byte
  *    order) relative to its own base, IFD0 only;
  *  - TIFF files directly (II42 / MM42 magic, IFD0).
  *
  * No Exif, no orientation tag, value outside 1-8, or structural
  * damage → NULL, never an error. Pure per-row projection.
  */
case class ExifOrientation(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${ExifOrientation.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    ExifOrientation.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // fresh name: with a non-nullable child nullSafeCodeGen emits
      // this block UNWRAPPED (no scoping if), so a literal local name
      // collides when two instances share one codegen function
      val o = ctx.freshName("orient")
      s"""
         |Object $o = graft.expr.ExifOrientation.parse($c);
         |${ev.isNull} = $o == null;
         |${ev.value} = ${ev.isNull} ? -1 : ((java.lang.Integer) $o).intValue();
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): ExifOrientation = copy(child = newChild)
}

object ExifOrientation {
  val FunctionName = "graft_exif_orientation"

  /** bytes → java.lang.Integer orientation 1-8, or null. Static for
    * codegen.
    */
  def parse(b: Array[Byte]): Any = {
    if (b == null || b.length < 8) return null
    // TIFF file: the walk runs at offset 0
    if ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
        (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))
      return tiffOrientation(b, 0)
    // JPEG: find the Exif APP1
    if ((b(0) & 0xFF) != 0xFF || (b(1) & 0xFF) != 0xD8) return null
    var i = 2
    while (i + 4 <= b.length) {
      if ((b(i) & 0xFF) != 0xFF) return null
      val m = b(i + 1) & 0xFF
      if (m == 0xD9 || m == 0xDA) return null // EOI / SOS: no Exif seen
      if (m == 0xD8 || m == 0x01 || (m >= 0xD0 && m <= 0xD7)) { i += 2 }
      else {
        val len = ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
        if (len < 2 || i + 2 + len > b.length) return null
        if (m == 0xE1 && len >= 10 &&
          b(i + 4) == 'E' && b(i + 5) == 'x' && b(i + 6) == 'i' &&
          b(i + 7) == 'f' && b(i + 8) == 0 && b(i + 9) == 0)
          return tiffOrientation(b, i + 10)
        i += 2 + len
      }
    }
    null
  }

  /** IFD0 walk of a TIFF structure at `base` (offsets are relative to
    * the TIFF header per spec).
    */
  private def tiffOrientation(b: Array[Byte], base: Int): Any = {
    if (base + 8 > b.length) return null
    val le =
      if (b(base) == 'I' && b(base + 1) == 'I' && b(base + 2) == 42 &&
        b(base + 3) == 0) true
      else if (b(base) == 'M' && b(base + 1) == 'M' && b(base + 2) == 0 &&
        b(base + 3) == 42) false
      else return null
    def u16(i: Int): Int =
      if (i + 2 > b.length) -1
      else if (le) (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
      else ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
    def u32(i: Int): Long =
      if (i + 4 > b.length) -1L
      else if (le) (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
        ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)
      else ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
    val ifd = u32(base + 4)
    if (ifd < 8 || base + ifd + 2 > b.length) return null
    val at = base + ifd.toInt
    val n = u16(at)
    if (n < 0 || at + 2 + 12L * n > b.length) return null
    var e = 0
    while (e < n) {
      val off = at + 2 + 12 * e
      if (u16(off) == 0x0112 && u16(off + 2) == 3) {
        val v = u16(off + 8) // SHORT, left-justified inline
        return if (v >= 1 && v <= 8) Integer.valueOf(v) else null
      }
      e += 1
    }
    null
  }
}
