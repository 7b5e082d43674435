package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All ordered index pairs of a long array:
  * [a0..an] → [(a_i, a_j) | i < j] as array<struct<id1,id2>> — the
  * posting-list pair-expansion kernel of the dedup family (inverted
  * shingle index, LSH band buckets, winnow fingerprint lists).
  *
  * Why an Expression: the composed form is a transform-in-transform
  * (`transform(ids, (x,i) => transform(slice(ids, i+2, n), ...))`) —
  * nested higher-order functions run interpreted and re-enter the
  * lambda machinery per ELEMENT PAIR, with `slice` allocating a fresh
  * array per outer element. This is one flat JVM loop allocating the
  * output once. Output order matches the composed form (outer index
  * ascending, then inner), and both sides feed an `explode`, so plans
  * are drop-in identical. CodegenFallback is deliberate: the producer
  * is an ObjectHashAggregate's collect_list and the consumer is a
  * Generate — neither participates in whole-stage codegen, so a
  * doGenCode here would buy nothing.
  */
case class OrderedPairs(child: Expression)
    extends UnaryExpression with CodegenFallback {

  private val pairType = StructType(Seq(
    StructField("id1", LongType, nullable = false),
    StructField("id2", LongType, nullable = false)))

  override def dataType: DataType = ArrayType(pairType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pairs expects array<bigint>, got ${other.catalogString}")
  }

  override def nullSafeEval(v: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    val n = xs.numElements()
    // the engine's producers (sort_array ∘ collect_list) never emit
    // null slots, but graft_pairs is a public SQL function — skip
    // nulls rather than fabricate id-0 pairs from unset slot bits
    val ids = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) { ids(m) = xs.getLong(i); m += 1 }
      i += 1
    }
    val total = m.toLong * (m - 1) / 2
    require(total <= Int.MaxValue,
      s"graft_pairs: posting list of $m ids expands to $total pairs — " +
        "cap the list (maxDocFreq) before pair expansion")
    val out = new Array[Any](total.toInt)
    var k = 0
    i = 0
    while (i < m) {
      val a = ids(i)
      var j = i + 1
      while (j < m) {
        out(k) = InternalRow(a, ids(j))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): OrderedPairs =
    copy(child = newChild)
}

object OrderedPairs {
  val FunctionName = "graft_pairs"
}
