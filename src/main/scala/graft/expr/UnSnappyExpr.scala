package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** `graft_unsnappy(content)` → binary — the clean-room [[Snappy]]
  * decoder as a projection: framed `.snappy` shard files dispatch on
  * the stream-identifier magic (also via [[Decompress]]); RAW snappy
  * payloads (parquet-page style, no magic) decode through this
  * expression explicitly. NULL for non-snappy / corrupt input;
  * output capped at [[Snappy.MaxOutBytes]]. Pure per-row projection.
  */
case class UnSnappyExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${UnSnappyExpr.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(b: Any): Any =
    Snappy.decode(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.expr.Snappy.decode($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      UnSnappyExpr = copy(child = newChild)
}

object UnSnappyExpr {
  val FunctionName = "graft_unsnappy"
}
