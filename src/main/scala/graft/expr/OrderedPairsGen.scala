package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Lazy generator form of [[OrderedPairs]]: array<bigint> →
  * one (id1, id2) row per ordered index pair, yielded through a
  * REUSED mutable row instead of a materialized
  * array<struct<id1,id2>>.
  *
  * Why it exists (r16 optimization): `explode(graft_pairs(_ids))`
  * allocates the whole quadratic expansion per posting list before
  * the explode walks it — a GenericArrayData of GenericInternalRows
  * with two boxed Longs each. On the pair-kernel stages that is the
  * dominant allocation (hundreds of MB of short-lived garbage per
  * million pairs): the r16 StageProf runs measured the expansion
  * stage of q61/q153 spending 60-75 % of its task time in GC. This
  * generator yields each pair from one primitive-typed
  * SpecificInternalRow (no per-pair allocation at all); GenerateExec
  * immediately re-projects every yielded row through an
  * UnsafeProjection — itself a buffer-reusing operator, so the
  * downstream contract (operators that buffer must copy) is exactly
  * the one every Spark generator already has.
  *
  * Pair ORDER and null handling are identical to
  * `explode(graft_pairs(...))` (outer index ascending, then inner;
  * null slots skipped; null/short arrays generate nothing). The only
  * behavioral difference: the eager form ERRORS past 2^31 pairs per
  * list (it cannot allocate the array); the lazy form has no such
  * bound — the cap guidance (maxDocFreq / maxBucket) is unchanged,
  * since the quadratic ROW COUNT, not the allocation, is the scale
  * risk.
  */
case class OrderedPairsGen(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("id1", LongType, nullable = false),
    StructField("id2", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pairs_gen expects array<bigint>, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val xs = v.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val ids = new Array[Long](n)
    var m = 0
    var k = 0
    while (k < n) {
      if (!xs.isNullAt(k)) { ids(m) = xs.getLong(k); m += 1 }
      k += 1
    }
    val mm = m
    if (mm < 2) return Iterator.empty
    new Iterator[InternalRow] {
      private[this] val row =
        new SpecificInternalRow(Seq(LongType, LongType))
      private[this] var i = 0
      private[this] var j = 1
      override def hasNext: Boolean = i < mm - 1
      override def next(): InternalRow = {
        row.setLong(0, ids(i))
        row.setLong(1, ids(j))
        j += 1
        if (j >= mm) { i += 1; j = i + 1 }
        row
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): OrderedPairsGen =
    copy(child = newChild)
}

object OrderedPairsGen {
  val FunctionName = "graft_pairs_gen"
}
