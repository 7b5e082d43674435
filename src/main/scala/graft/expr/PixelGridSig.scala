package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Perceptual image signature over REAL decoded pixels — the
  * thumbnail-dedup primitive: the image (PNG/PPM/BMP via the shared
  * [[PixelStats.decode]]) divides into a gx×gy block grid; each
  * block's signature value is the integer mean of all its channel
  * bytes; the blocks then collapse into an aHash-style bit fingerprint
  * (bit i set ⇔ sig(i) > the integer mean of the whole signature — the
  * classic average-hash rule, strict inequality so an all-constant
  * frame hashes to 0). Two visually-near images (resizes, small edits,
  * re-encodes across these formats) produce near-identical signatures,
  * which [[graft.operators.Multimodal.imageNearDup]] exploits with
  * SimHash-style band join + L1 verification.
  *
  * Integer arithmetic throughout — block bounds by the standard
  * resize mapping (pixel x → block ⌊x·gx/w⌋), means by integer floor
  * division — so an oracle replays the signature exactly from
  * construction arithmetic.
  *
  * Output struct: (format, width, height, sig array<int> of gx·gy
  * row-major block means, ahash long, dhash long). gx·gy ≤ 63 keeps
  * both fingerprints in non-negative long territory (engines disagree
  * on 64-bit overflow semantics; bit 62 is the ceiling an 8×8-1 grid
  * never reaches — the shipped default is 9×7). Undecodable bytes,
  * or an image smaller than the grid (w < gx or h < gy: blocks would
  * be empty) → NULL.
  *
  * dhash is the difference-hash companion: bit y·(gx−1)+x set ⇔
  * sig(y,x+1) > sig(y,x) (adjacent-block horizontal gradient sign,
  * strict). aHash's classic weakness is uniform brightness/contrast
  * shifts — they move the global mean AND every block, flipping the
  * near-mean bits together and inflating the sig-L1 distance past any
  * verify threshold; gradient SIGNS are invariant under any monotone
  * uniform shift (absent saturation clamping), so dhash keeps such
  * copies adjacent. Both emit from the one decode pass;
  * [[graft.operators.Multimodal.imageNearDup]] bands either.
  */
case class PixelGridSig(child: Expression, gx: Int, gy: Int)
    extends UnaryExpression {

  override def dataType: DataType = PixelGridSig.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (gx <= 0 || gy <= 0 || gx * gy > 63)
      TypeCheckResult.TypeCheckFailure(
        s"${PixelGridSig.FunctionName} needs 0 < gx*gy <= 63, got $gx x $gy")
    else child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${PixelGridSig.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    PixelGridSig.sig(v.asInstanceOf[Array[Byte]], gx, gy)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.PixelGridSig.sig($c, $gx, $gy);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PixelGridSig =
    copy(child = newChild)
}

object PixelGridSig {
  val FunctionName = "graft_pixel_grid_sig"

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sig", ArrayType(IntegerType, containsNull = false),
      nullable = false),
    StructField("ahash", LongType, nullable = false),
    StructField("dhash", LongType, nullable = false)))

  /** bytes → grid-signature InternalRow, or null. Static for codegen. */
  def sig(b: Array[Byte], gx: Int, gy: Int): InternalRow = {
    val d = PixelStats.decode(b)
    if (d == null || d.w < gx || d.h < gy) return null
    val sums = new Array[Long](gx * gy)
    val counts = new Array[Long](gx * gy)
    val stride = d.w * d.ch
    var y = 0
    while (y < d.h) {
      // LONG products: an extreme-aspect image (w ~40M fits the decode
      // cap at 1 channel) with a wide grid would wrap x*gx negative
      // and crash — NULL-never-error applies to shapes too
      val by = (y.toLong * gy / d.h).toInt
      var x = 0
      while (x < d.w) {
        val blk = by * gx + (x.toLong * gx / d.w).toInt
        val base = y * stride + x * d.ch
        var c = 0
        var s = 0L
        while (c < d.ch) { s += d.px(base + c) & 0xFF; c += 1 }
        sums(blk) += s
        counts(blk) += d.ch
        x += 1
      }
      y += 1
    }
    val sigArr = new Array[Int](gx * gy)
    var total = 0L
    var i = 0
    while (i < sigArr.length) {
      sigArr(i) = (sums(i) / counts(i)).toInt
      total += sigArr(i)
      i += 1
    }
    val mean = total / sigArr.length // integer floor — oracle-replayable
    var hash = 0L
    i = 0
    while (i < sigArr.length) {
      if (sigArr(i) > mean) hash |= 1L << i
      i += 1
    }
    // dhash: horizontal gradient signs between adjacent blocks —
    // (gx−1)·gy bits < gx·gy ≤ 63, so the same non-negative-long bound
    var dhash = 0L
    var by2 = 0
    while (by2 < gy) {
      var bx = 0
      while (bx < gx - 1) {
        if (sigArr(by2 * gx + bx + 1) > sigArr(by2 * gx + bx))
          dhash |= 1L << (by2 * (gx - 1) + bx)
        bx += 1
      }
      by2 += 1
    }
    InternalRow(UTF8String.fromString(d.fmt), d.w, d.h,
      new GenericArrayData(sigArr), hash, dhash)
  }
}
