package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** `graft_bunzip2(content)` → binary — the clean-room [[Bzip2]]
  * decoder as a projection: Wikipedia-style dump ingestion
  * (`*.xml.bz2` → the document tier) and any bz2-compressed payload
  * column. NULL for non-bzip2 / corrupt input (the decoder's triage
  * contract); output capped at [[Bzip2.MaxOutBytes]]. Pure per-row
  * projection.
  */
case class Bunzip2Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${Bunzip2Expr.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(b: Any): Any =
    Bzip2.decode(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.expr.Bzip2.decode($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      Bunzip2Expr = copy(child = newChild)
}

object Bunzip2Expr {
  val FunctionName = "graft_bunzip2"
}
