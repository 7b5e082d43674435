package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** `graft_unlz4(content)` → binary — the clean-room [[Lz4]] decoder
  * as a projection ([[UnzstdExpr]]'s lz4 sibling): `.jsonl.lz4` /
  * `.lz4` shards from the parquet/avro/kafka ecosystems, both the
  * frame and legacy formats, all checksums verified. NULL for
  * non-lz4 / corrupt / dictionary-referencing input; output capped
  * at [[Lz4.MaxOutBytes]]. Pure per-row projection.
  */
case class UnLz4Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${UnLz4Expr.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(b: Any): Any =
    Lz4.decode(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.expr.Lz4.decode($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      UnLz4Expr = copy(child = newChild)
}

object UnLz4Expr {
  val FunctionName = "graft_unlz4"
}
