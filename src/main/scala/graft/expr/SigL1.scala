package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Total L1 distance between two integer arrays — the verification
  * kernel of [[graft.operators.Multimodal.imageNearDup]]. The
  * composed form (`aggregate(zip_with(a, b, |a−b|), 0, +)`) is a
  * pair of HIGHER-ORDER functions, which Spark excludes from
  * whole-stage codegen — on q153's deliberately adversarial corpus
  * that interpreted lambda pair runs ~283k times (the 130:1
  * candidate:pair verify stress), exactly the HOF trap the Dedup
  * header documents for shingles. This is one tight primitive loop
  * with the same contract as [[VecDistance]]'s kernels.
  *
  * Exact integer arithmetic (sums of |int−int| in a long — no
  * overflow below 2^32 elements), so the q153 oracle's relational
  * replay is unchanged. Mismatched lengths → NULL (two signatures
  * from different grids are incomparable; the operator only compares
  * same-grid signatures, so NULL there means a caller bug surfaces
  * as missing pairs, not a wrong distance).
  */
case class SigL1(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"${SigL1.FunctionName} expects (array<int>, array<int>), " +
          s"got ${l.catalogString} / ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SigL1.dist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  // ev.value is a primitive long slot — route the boxed helper result
  // through a local so the null check compiles (a bare
  // `ev.value == null` is a janino compile error, and expression
  // codegen failures FALL BACK TO THE INTERPRETER silently — the
  // exact deoptimization this kernel exists to avoid; the
  // ExprConfigSpec codegen-compile test pins this).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("l1")
      s"""
         |java.lang.Long $boxed = graft.expr.SigL1.dist($a, $b);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? -1L : $boxed.longValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigL1 =
    copy(left = newLeft, right = newRight)
}

object SigL1 {
  val FunctionName = "graft_sig_l1"

  /** Boxed Long so codegen's null contract works (named dist, not
    * eval — the static-forwarder rule, see [[LangIdWide.evalLang]]).
    * Arrays may carry nulls in SQL-constructed inputs: a null element
    * makes the distance undefined → NULL.
    */
  def dist(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getInt(i) - b.getInt(i)
      acc += (if (d < 0) -d else d)
      i += 1
    }
    acc
  }
}
