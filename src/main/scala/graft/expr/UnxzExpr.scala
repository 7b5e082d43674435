package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** `graft_unxz(content)` → binary — the clean-room [[Xz]] LZMA2
  * decoder as a projection ([[Bunzip2Expr]]'s xz sibling): `.xz`
  * payload columns and kernel-style dump ingestion. NULL for
  * non-xz / corrupt input; output capped at [[Xz.MaxOutBytes]].
  * Pure per-row projection.
  */
case class UnxzExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${UnxzExpr.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(b: Any): Any =
    Xz.decode(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.expr.Xz.decode($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      UnxzExpr = copy(child = newChild)
}

object UnxzExpr {
  val FunctionName = "graft_unxz"
}
