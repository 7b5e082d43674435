package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native vector kernels for the product-quantization family: squared
  * L2 distance (codeword assignment metric) and dot product (the ADC
  * lookup-table entry for MIPS-style scoring).
  *
  * Same rationale as [[CosineSimilarity]]: `zip_with` + `aggregate`
  * are higher-order functions, excluded from whole-stage codegen —
  * these generate the tight primitive loop instead, so PQ encoding of
  * a 100 TB corpus stays inside WholeStageCodegen.
  *
  * Numeric contract (oracle-reproducible): per-element cast to
  * double, accumulate in element order, no rounding here — callers
  * round the RESULT to 6dp before any comparison. Length = min of the
  * two arrays; null only when an input array is null.
  */
abstract class VecKernel extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float|double> inputs, got " +
        s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
  }

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Fold one (x, y) element pair into the accumulator (interpreter). */
  protected def fold(acc: Double, x: Double, y: Double): Double

  /** Same fold as Java source for codegen: acc/x/y are local names. */
  protected def foldCode(acc: String, x: String, y: String): String

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0; var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      acc = fold(acc, x, y); i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val acc = ctx.freshName("acc"); val n = ctx.freshName("n")
      val i = ctx.freshName("i"); val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val getX =
        if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY =
        if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
        double $acc = 0.0;
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        for (int $i = 0; $i < $n; $i++) {
          double $x = $getX;
          double $y = $getY;
          ${foldCode(acc, x, y)}
        }
        ${ev.value} = $acc;
      """
    })
}

/** Squared euclidean distance: Σ (xᵢ − yᵢ)². */
case class L2SqDistance(left: Expression, right: Expression) extends VecKernel {
  override protected def fold(acc: Double, x: Double, y: Double): Double =
    acc + (x - y) * (x - y)
  override protected def foldCode(acc: String, x: String, y: String): String =
    s"$acc += ($x - $y) * ($x - $y);"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2SqDistance =
    copy(left = newLeft, right = newRight)
}

/** Dot product: Σ xᵢ·yᵢ. */
case class DotProduct(left: Expression, right: Expression) extends VecKernel {
  override protected def fold(acc: Double, x: Double, y: Double): Double =
    acc + x * y
  override protected def foldCode(acc: String, x: String, y: String): String =
    s"$acc += $x * $y;"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object VecDistance {
  val L2SqName = "graft_l2sq"
  val DotName = "graft_dot"
}
