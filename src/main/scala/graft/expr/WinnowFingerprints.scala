package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
  * MOSS algorithm): normalize → hash every character k-gram → slide a
  * window of `w` consecutive k-gram hashes → keep each window's
  * minimum → return the DISTINCT selected hashes, ascending.
  *
  * Guarantees: any shared substring of length ≥ k + w − 1 between two
  * documents yields at least one shared fingerprint, and the density
  * of selected hashes is ~2/(w+1) — a position-free sketch for
  * plagiarism/near-dup detection that a plain shingle set can't give
  * at character granularity.
  *
  * Engine-portable semantics (the DuckDB oracle mirrors each step):
  *  - normalize: lowercase, strip every char outside [a-z0-9];
  *  - k-gram hash: int(md5(gram)[0:15 hex], 16) — 60 bits, same
  *    derivation as [[graft.functions.TextAnalysis.md5Long]];
  *  - windows: positions i..i+w−1 for i in [0, n−k+1−w]; documents
  *    with fewer than k normalized chars → empty array; with fewer
  *    than w k-grams → single window over what exists.
  *
  * Why native: per-row it is one linear pass; composed as
  * explode+window SQL it is a corpus-chars-sized shuffle, and as
  * nested HOF lambdas it re-evaluates the gram hashing per window
  * element (the O(n·w) interpreter trap — see Dedup.scala header).
  * A 100 TB deployment swaps md5 for a true rolling hash by changing
  * only this eval; md5 is kept because the hash VALUE is the
  * observable output the oracle checks.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && k > 0 && w > 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"winnow expects (string, k>0, w>0), got ${child.dataType.catalogString}/$k/$w")

  override def nullSafeEval(v: Any): Any = {
    val lowered = v.asInstanceOf[UTF8String].toLowerCase.toString
    val sb = new java.lang.StringBuilder(lowered.length)
    var ci = 0
    while (ci < lowered.length) {
      val c = lowered.charAt(ci)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) sb.append(c)
      ci += 1
    }
    val s = sb.toString
    val n = s.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val hashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      md.update(s.substring(i, i + k).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest()
      val top = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      hashes(i) = top >>> 4 // first 15 hex chars = top 60 bits
      i += 1
    }
    val out = new java.util.TreeSet[java.lang.Long]()
    val lastStart = math.max(n - w, 0)
    var j = 0
    while (j <= lastStart) {
      var m = java.lang.Long.MAX_VALUE
      var x = j
      val end = math.min(j + w, n)
      while (x < end) { if (hashes(x) < m) m = hashes(x); x += 1 }
      out.add(m)
      j += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var p = 0
    while (it.hasNext) { arr(p) = it.next().longValue(); p += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {
  val FunctionName = "graft_winnow"
}
