package graft.plans

import graft.expr.TimestampRef
import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryComparison, Cast, Expression, Literal}
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, UnwrapCastInBinaryComparison}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.FILTER
import org.apache.spark.sql.types.TimestampType

/** Makes a [[TimestampRef]] a literal again where a scan can use it.
  *
  * Spark pushes a filter into a data source (parquet row-group
  * skipping, partition pruning) only as a comparison of a column with a
  * literal, so a date-range filter on a scanned column
  * (`Filters.dateRange(col("o_orderdate").cast(TimestampType), …)`)
  * written with a reference would read every row group. In a filter
  * that sits directly on a relation, this rule folds each comparison of
  * a column, or a cast of one, with a constant holding a reference into
  * a comparison with a literal, and unwraps the cast as the optimizer
  * does, so the scan gets the same pushed filter as with `lit`. That
  * filter's class inlines the value again; references anywhere else (a
  * parsed string's bound, a merge's version columns) stay references.
  *
  * Injected by [[GraftExtensions]] into the operator-optimization batch
  * and by `Graft.tune` into the user-provided batch, which runs after
  * constant folding and cast unwrapping; hence the rule runs both on
  * the filters it rewrites.
  */
object ScanTimestampLiterals extends Rule[LogicalPlan] {

  private def column(e: Expression): Boolean = e match {
    case _: Attribute => true
    case c: Cast => column(c.child)
    case _ => false
  }

  /** `e` with its references as literals, when it is a constant
    * holding a reference.
    */
  private def inlined(e: Expression): Option[Expression] =
    if (!e.exists(_.isInstanceOf[TimestampRef])) None
    else Some(e.transform { case r: TimestampRef => Literal(r.micros, TimestampType) })
      .filter(_.foldable)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(FILTER)) {
      case f @ Filter(cond, _: LeafNode) if cond.exists(_.isInstanceOf[TimestampRef]) =>
        val rewritten = cond.transform {
          case b: BinaryComparison if column(b.left) && inlined(b.right).isDefined =>
            b.withNewChildren(Seq(b.left, inlined(b.right).get))
          case b: BinaryComparison if column(b.right) && inlined(b.left).isDefined =>
            b.withNewChildren(Seq(inlined(b.left).get, b.right))
        }
        if (rewritten eq cond) f
        else ConstantFolding(UnwrapCastInBinaryComparison(ConstantFolding(
          f.copy(condition = rewritten))))
    }
}
