package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native 60-bit SimHash over a token array.
  *
  * Bit-for-bit equivalent to the composed form the DuckDB oracle uses:
  * per token, h = int(md5(token ∥ "#0")[0:15 hex], 16); per bit i,
  * vote += (h>>i)&1 ? +1 : −1; fingerprint bit i set where vote > 0.
  *
  * Why native: even with staged projections, a token-hash array that is
  * referenced ONCE gets collapsed back into the per-bit lambda by
  * CollapseProject, and lambda-captured subexpressions re-evaluate per
  * element — the fingerprint became 60 × (tokenize + md5-all-tokens)
  * per document. One interpreted call per row removes the blowup
  * (measured 78 s → ~2 s for all-pairs SimHash at sf0.1).
  */
case class SimHash60(child: Expression) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val votes = new Array[Int](SimHash60.Bits)
    val md = java.security.MessageDigest.getInstance("MD5")
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      md.reset()
      md.update(arr.getUTF8String(j).getBytes)
      md.update(SimHash60.SeedSuffix)
      val d = md.digest()
      // first 15 hex chars = top 60 bits of the first 8 bytes
      val top = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      val h = top >>> 4
      var i = 0
      while (i < SimHash60.Bits) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      j += 1
    }
    var fp = 0L
    var i = 0
    while (i < SimHash60.Bits) {
      if (votes(i) > 0) fp |= (1L << i)
      i += 1
    }
    java.lang.Long.valueOf(fp)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  val Bits = 60
  private val SeedSuffix = "#0".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  val FunctionName = "graft_simhash"
}
