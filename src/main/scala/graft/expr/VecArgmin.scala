package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Map-only nearest-candidate selection: given a vector and a
  * broadcastable codebook `array<struct<id: long, vec: array<float|
  * double>>>`, return `struct(id, score)` of the best candidate —
  * argmax of 6dp-rounded cosine ([[VecArgmaxCos]]) or argmin of
  * 6dp-rounded squared L2 ([[VecArgminL2]]), ties to the lowest id.
  *
  * This is the 100 TB shape for every cell/codeword assignment in the
  * IVF/PQ family. The alternatives all pay for the N·k candidate
  * expansion AFTER materializing it as rows: a row_number window
  * SORTS it with vectors attached (the 31.8 GB spill the 100× sweep
  * caught), and an argmin AGGREGATE with a struct- or array-typed
  * buffer is not UnsafeRow-mutable, so it plans as SortAggregate and
  * sorts the expansion anyway (measured 15–67 s per assignment pass
  * at 50×/k=256). Here the expansion never exists: one tight loop
  * scans the codebook per corpus row inside the projection — no join,
  * no aggregate, no exchange. Assignment becomes a pure map over the
  * corpus, composable with any upstream scan pushdown.
  *
  * Numeric contract (oracle-reproducible, identical to the join +
  * `round(…, 6)` form it replaces): per-candidate score accumulates
  * in double in element order (the [[CosineSimilarity]]/[[VecKernel]]
  * loop), then rounds EXACTLY like Spark's `round(col, 6)` on
  * DoubleType — `BigDecimal.valueOf(d).setScale(6, HALF_UP)
  * .doubleValue()` with NaN/Inf passed through (scala.math.BigDecimal
  * .apply(d) is valueOf-based; verified against RoundBase bytecode).
  * Comparisons happen on the ROUNDED score. Null vector or null/empty
  * codebook → null result. Codegen delegates the loop to one static
  * JVM method per row (the ImageMeta pattern) — JIT-compiled, no
  * per-element boxing.
  */
abstract class VecArgminBase extends BinaryExpression {

  override def dataType: DataType = VecArgmin.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def okVec(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val okCb = right.dataType match {
      case ArrayType(StructType(Array(f0, f1)), _) =>
        f0.dataType == LongType && okVec(f1.dataType)
      case _ => false
    }
    if (okVec(left.dataType) && okCb) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<float|double>, array<struct<long, " +
        s"array<float|double>>>), got ${left.dataType.catalogString} / " +
        s"${right.dataType.catalogString}")
  }

  protected def vecIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected def cbVecIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fields(1).dataType
      .asInstanceOf[ArrayType].elementType == FloatType

  /** Name of the static helper in [[VecArgmin]] implementing the scan. */
  protected def helper: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cb) => {
      s"""
         |${ev.value} = graft.expr.VecArgmin.$helper($v, $cb, $vecIsFloat, $cbVecIsFloat);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
}

/** Argmax of 6dp-rounded cosine similarity over the codebook. */
case class VecArgmaxCos(left: Expression, right: Expression)
    extends VecArgminBase {
  override protected def helper: String = "bestCos"
  override def nullSafeEval(l: Any, r: Any): Any =
    VecArgmin.bestCos(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      vecIsFloat, cbVecIsFloat)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecArgmaxCos =
    copy(left = newLeft, right = newRight)
}

/** Argmin of 6dp-rounded squared L2 distance over the codebook. */
case class VecArgminL2(left: Expression, right: Expression)
    extends VecArgminBase {
  override protected def helper: String = "bestL2"
  override def nullSafeEval(l: Any, r: Any): Any =
    VecArgmin.bestL2(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      vecIsFloat, cbVecIsFloat)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecArgminL2 =
    copy(left = newLeft, right = newRight)
}

object VecArgmin {
  val ArgmaxCosName = "graft_argmax_cos"
  val ArgminL2Name = "graft_argmin_l2"

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  /** EXACTLY Spark's `round(col, 6)` on DoubleType (RoundBase):
    * scala.math.BigDecimal(d) is valueOf-based; NaN/Inf pass through.
    */
  def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Best candidate by rounded cosine (desc, id asc); null if empty. */
  def bestCos(v: ArrayData, cb: ArrayData, vf: Boolean,
      cf: Boolean): InternalRow = {
    val n = cb.numElements()
    var bestId = 0L; var bestScore = 0.0; var any = false
    var i = 0
    while (i < n) {
      val st = cb.getStruct(i, 2)
      val id = st.getLong(0)
      val c = st.getArray(1)
      val m = math.min(v.numElements(), c.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < m) {
        val x = if (vf) v.getFloat(j).toDouble else v.getDouble(j)
        val y = if (cf) c.getFloat(j).toDouble else c.getDouble(j)
        dot += x * y; na += x * x; nb += y * y; j += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val s = round6(if (denom > 0.0) dot / denom else 0.0)
      // Double.compare, not primitive >: a NaN score (NaN vector
      // component) must order deterministically. Primitive comparisons
      // are all-false on NaN, so whichever candidate hit NaN first
      // froze as the winner; Double.compare places NaN greatest —
      // exactly Spark's total ordering, so the window/aggregate forms
      // this expression replaced agree on NaN-carrying inputs too.
      val cmp = java.lang.Double.compare(s, bestScore)
      if (!any || cmp > 0 || (cmp == 0 && id < bestId)) {
        bestId = id; bestScore = s; any = true
      }
      i += 1
    }
    if (!any) null
    else new GenericInternalRow(Array[Any](bestId, bestScore))
  }

  /** Best candidate by rounded squared L2 (asc, id asc); null if empty. */
  def bestL2(v: ArrayData, cb: ArrayData, vf: Boolean,
      cf: Boolean): InternalRow = {
    val n = cb.numElements()
    var bestId = 0L; var bestScore = 0.0; var any = false
    var i = 0
    while (i < n) {
      val st = cb.getStruct(i, 2)
      val id = st.getLong(0)
      val c = st.getArray(1)
      val m = math.min(v.numElements(), c.numElements())
      var acc = 0.0; var j = 0
      while (j < m) {
        val x = if (vf) v.getFloat(j).toDouble else v.getDouble(j)
        val y = if (cf) c.getFloat(j).toDouble else c.getDouble(j)
        val d = x - y; acc += d * d; j += 1
      }
      val s = round6(acc)
      // Double.compare for NaN determinism (see bestCos): NaN sorts
      // greatest, so for L2-asc a NaN distance LOSES to every real
      // one — matching Spark's NaN-last ascending sort order.
      val cmp = java.lang.Double.compare(s, bestScore)
      if (!any || cmp < 0 || (cmp == 0 && id < bestId)) {
        bestId = id; bestScore = s; any = true
      }
      i += 1
    }
    if (!any) null
    else new GenericInternalRow(Array[Any](bestId, bestScore))
  }
}
