package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** `graft_unzstd(content)` → binary — the clean-room [[Zstd]]
  * decoder as a projection ([[UnxzExpr]]'s zstd sibling): the
  * dominant `.jsonl.zst` / `.zst` packaging of modern dataset
  * releases. NULL for non-zstd / corrupt / dictionary-referencing
  * input; output capped at [[Zstd.MaxOutBytes]]. Pure per-row
  * projection.
  */
case class UnzstdExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${UnzstdExpr.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(b: Any): Any =
    Zstd.decode(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.expr.Zstd.decode($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      UnzstdExpr = copy(child = newChild)
}

object UnzstdExpr {
  val FunctionName = "graft_unzstd"
}
