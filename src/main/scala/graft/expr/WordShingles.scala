package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word-n-gram shingle set: string → array<string>.
  *
  * Semantics are EXACTLY the composed form used by the DuckDB oracle
  * (tokens = lowercase split on /[^a-z0-9]+/ minus empties; fewer than
  * n tokens → one whole-text shingle; shingles space-joined; distinct):
  * the output strings are identical, only the evaluation cost changes.
  * The composed `transform(sequence(...), i → concat_ws(slice(...)))`
  * walks the interpreter per shingle (~0.5 ms/doc); this is one call
  * per row (~10 µs/doc), and every dedup consumer (postings, sizes,
  * signatures, verify) shares the saving.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType && n > 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"shingles expects a string column and n > 0, got " +
        s"${child.dataType.catalogString} / $n")

  @transient private lazy val sep = java.util.regex.Pattern.compile("[^a-z0-9]+")

  override def nullSafeEval(v: Any): Any = {
    // UTF8String.toLowerCase for locale-independent lowering (same as
    // Spark's lower()).
    val lowered = v.asInstanceOf[UTF8String].toLowerCase.toString
    val toks = sep.split(lowered).filter(_.nonEmpty)
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length <= n) out.add(toks.mkString(" "))
    else {
      var i = 0
      val sb = new java.lang.StringBuilder()
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  val FunctionName = "graft_shingles"
}
