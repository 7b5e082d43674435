package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A timestamp constant that generated code reads by reference.
  *
  * Spark inlines a timestamp literal into the generated Java as a `long`
  * constant, so a plan that differs from the last one only in such a
  * value (a pipeline run's batch time, a filter's as-of time) generates
  * new class text and misses the codegen cache. This expression holds
  * the same value (microseconds since the epoch, as a `TimestampType`
  * literal does) but passes it through `ctx.addReferenceObj`, as Spark
  * already passes string literals: the class text is the same for every
  * value, and one compiled class serves all of them.
  *
  * Deterministic, never null, and deliberately not foldable — a foldable
  * expression is turned back into a literal by `ConstantFolding`.
  */
case class TimestampRef(micros: Long) extends LeafExpression {

  override def dataType: DataType = TimestampType

  override def nullable: Boolean = false

  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = micros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ts", java.lang.Long.valueOf(micros))
    ExprCode.forNonNullValue(JavaCode.global(s"$ref.longValue()", dataType))
  }

  override def prettyName: String = TimestampRef.FunctionName

  override def sql: String = s"$prettyName(${micros}L)"
}

object TimestampRef {
  val FunctionName = "graft_ts_ref"
}
