package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE encode of one word against a learned merge table — the
  * production-scale form of [[graft.operators.Corpus.bpeSegmentCol]],
  * whose chain-of-`replace` construction is pedagogically transparent
  * but carries ONE CATALYST NODE PER MERGE: a real 32k-merge
  * tokenizer is not expressible that way (the plan itself explodes),
  * and per-row cost is O(merges · |word|) regardless of which merges
  * can apply. This expression takes the merge list ONCE (a foldable
  * array literal, built per-JVM into a rank table) and encodes each
  * word with the classic lowest-rank-first loop (Sennrich et al. 2016
  * / the GPT-2 encoder shape):
  *
  *   symbols := characters of the word
  *   loop: among adjacent symbol pairs, find the one with the LOWEST
  *         merge rank; merge ALL its occurrences left-to-right;
  *         stop when no adjacent pair is in the table.
  *
  * For well-ordered merge lists — anything [[Corpus.bpeTrain]]
  * produces, where each merge's operands exist only via earlier
  * merges — this is provably the same result as the rank-order
  * replace chain, and the spec pins the equivalence on trained
  * tables; the q134 family's DuckDB oracle (which replays the chain)
  * re-checks it per round at two scale factors.
  *
  * Cost per word: O(applied-merges · |word|) with a hash probe per
  * adjacent pair — independent of the merge-table SIZE, which is the
  * property that makes 32k-merge vocabularies feasible. NULL word or
  * merge list → NULL.
  */
case class BpeEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) =>
        if (right.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"${BpeEncode.FunctionName} merges must be a foldable array " +
            "(the learned table is broadcast once, not a per-row column)")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"${BpeEncode.FunctionName} expects (string, array<string>), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }

  // the rank table builds ONCE per expression instance per JVM; the
  // codegen path closes over the instance via ctx.addReferenceObj.
  // A foldable NULL merges literal (cast(null as array<string>)) is
  // legal input — the expression's value is NULL via the binary
  // null short-circuit — but doGenCode forces this lazy val at PLAN
  // time, so it must not NPE: an empty table is the right stand-in
  // (the generated code never runs, the null check fires first).
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val evaluated = right.eval(null)
    if (evaluated == null) new java.util.HashMap[String, Integer](0)
    else {
      val arr = evaluated.asInstanceOf[ArrayData]
      val m = new java.util.HashMap[String, Integer](
        math.max(16, arr.numElements() * 2))
      var i = 0
      while (i < arr.numElements()) {
        val pair = arr.getUTF8String(i).toString
        if (!m.containsKey(pair)) m.put(pair, i)
        i += 1
      }
      m
    }
  }

  override def nullSafeEval(word: Any, merges: Any): Any =
    BpeEncode.encode(word.asInstanceOf[UTF8String].toString, ranks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (word, _) => {
      // the PREBUILT rank table rides as a reference object (the
      // BloomMightContain pattern) — the merges child is foldable and
      // never evaluated per row
      val ref = ctx.addReferenceObj("graftBpeRanks", ranks,
        "java.util.HashMap")
      s"${ev.value} = graft.expr.BpeEncode.encode($word.toString(), $ref);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeEncode =
    copy(left = newLeft, right = newRight)
}

object BpeEncode {
  val FunctionName = "graft_bpe_encode"

  /** Encode one word: characters → lowest-rank-first merging. Pairs
    * key as "left right" (symbols are whitespace-free by the
    * tokenizer's [a-z0-9]+ contract, which bpeTrain shares).
    */
  def encode(w: String,
      ranks: java.util.HashMap[String, Integer]): GenericArrayData = {
    if (w.isEmpty) return new GenericArrayData(Array.empty[Any])
    var syms = new Array[String](w.length)
    var i = 0
    while (i < w.length) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    var n = w.length
    var done = n < 2
    while (!done) {
      // lowest-rank adjacent pair present
      var best = Int.MaxValue
      var bl: String = null
      var br: String = null
      i = 0
      while (i < n - 1) {
        val r = ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r < best) { best = r; bl = syms(i); br = syms(i + 1) }
        i += 1
      }
      if (bl == null) done = true
      else {
        // merge ALL occurrences left-to-right in one pass
        val merged = bl + br
        var out = 0
        i = 0
        while (i < n) {
          if (i < n - 1 && syms(i) == bl && syms(i + 1) == br) {
            syms(out) = merged; i += 2
          } else { syms(out) = syms(i); i += 1 }
          out += 1
        }
        n = out
        if (n < 2) done = true
      }
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = UTF8String.fromString(syms(i)); i += 1 }
    new GenericArrayData(out)
  }
}
