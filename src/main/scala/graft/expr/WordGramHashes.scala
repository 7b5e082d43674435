package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** POSITIONAL word k-gram hashes: tokenize (lowercase, [a-z0-9]+ runs
  * — the shared TextAnalysis.tokens contract), then one 60-bit md5
  * hash per start position of each k-token window, in document order
  * (duplicates preserved — position i of the output is the gram
  * starting at token i). Fewer than k tokens → empty array: a short
  * document participates in span dedup with no grams, it is never
  * collapsed to a whole-doc gram (unlike [[WordShingles]]' fallback,
  * whose DISTINCT set semantics also make it unusable here).
  *
  * Hash derivation is exactly `TextAnalysis.md5Long` (first 15 hex
  * chars of md5 of the space-joined gram), so the DuckDB oracle
  * mirrors it verbatim.
  *
  * Why native: the composed form (`transform(sequence(...), i ->
  * md5Long(concat_ws(" ", slice(toks, i, k))))`) is a higher-order
  * lambda that re-slices and re-joins per position in the interpreter
  * — measured ~2.6 µs/gram (18 s per pass over a 10× corpus, and the
  * operator consumes the gram table more than once). This is one
  * linear pass per row with a reused digest instance. A 100 TB
  * deployment swaps md5 for a true rolling hash by changing only this
  * eval; md5 is kept because the hash VALUE is what the oracle checks.
  */
case class WordGramHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && k > 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"word_gram_hashes expects (string, k>0), got ${child.dataType.catalogString}/$k")

  @transient private lazy val sep = java.util.regex.Pattern.compile("[^a-z0-9]+")

  override def nullSafeEval(v: Any): Any = {
    val lowered = v.asInstanceOf[UTF8String].toLowerCase.toString
    val toks = sep.split(lowered).filter(_.nonEmpty)
    val n = toks.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](n)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = i
      while (j < i + k) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      md.reset()
      md.update(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest()
      val top = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      out(i) = top >>> 4 // first 15 hex chars = top 60 bits
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramHashes =
    copy(child = newChild)
}

object WordGramHashes {
  val FunctionName = "graft_word_gram_hashes"
}
