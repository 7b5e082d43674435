package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native MinHash signature: array<string> shingles → array<long> of
  * `numHashes` minima.
  *
  * The composed form (`numHashes` × `transform(sh, xxhash64)` +
  * `array_min`) walks the shingle array once per hash function through
  * the interpreter — 128 × |shingles| lambda evaluations per row. This
  * expression hashes each shingle ONCE (xxhash64, Spark's own
  * implementation) and derives the k hash functions with affine maps
  * g_i(h) = a_i·h + b_i over Z/2^64 (odd a_i — a standard universal
  * family for MinHash), maintaining all k minima in one pass. One
  * interpreted call per row instead of per element; ~100× faster at
  * 128 hashes.
  *
  * Note the signature VALUES differ from the composed per-seed xxhash
  * form — irrelevant by design: MinHash signatures are internal to LSH
  * candidate generation, and candidates are re-verified with exact
  * Jaccard (Dedup.minhashDedupPairs).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if numHashes > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects array<string> and numHashes > 0, got " +
            s"${other.catalogString} / $numHashes")
    }

  @transient private lazy val (coeffA, coeffB) =
    MinHashSignature.coefficients(numHashes)

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var j = 0
    val n = arr.numElements()
    while (j < n) {
      val h = XxHash64Function.hash(arr.getUTF8String(j), StringType, 42L)
      var i = 0
      while (i < numHashes) {
        val g = coeffA(i) * h + coeffB(i)
        if (g < mins(i)) mins(i) = g
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  val FunctionName = "graft_minhash_sig"

  /** Deterministic affine coefficients via SplitMix64; a_i forced odd. */
  def coefficients(k: Int): (Array[Long], Array[Long]) = {
    var state = 0x9E3779B97F4A7C15L
    def next(): Long = {
      state += 0x9E3779B97F4A7C15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val a = Array.fill(k)(next() | 1L)
    val b = Array.fill(k)(next())
    (a, b)
  }
}
