package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the wide language ID — the composed Column form
  * (26 per-script + 24 marker regexp_replace counts + 57
  * array_intersect stopword hits + wide CASE chains in one
  * projection) exceeds janino's method limits, so whole-stage codegen
  * SILENTLY fell back to interpreted evaluation with no subexpression
  * reuse: 13 s for 5 000 docs. This expression does the same
  * arithmetic the obvious way — ONE pass over the characters
  * classifying all 26 scripts AND all refinement markers at once
  * (the marker probe is a direct 64K-entry table, no boxing), ONE
  * token-set build probed by all 570 stopwords — and returns in
  * milliseconds. Semantics are IDENTICAL to
  * [[graft.functions.TextAnalysis]]'s constants and rules (script
  * dominance `sMax·10 ≥ nonWs·3` on integer counts, within-script
  * marker refinement with all-zero → prior, stopword argmax with
  * lang-ascending ties, confidence = round(ratio, 4) exactly like
  * Spark's `round`), which the composed form and the generated DuckDB
  * oracle both replay — the spec asserts native ≡ composed.
  *
  * Inputs: (text string, toks array<string>) — the token array comes
  * from the shared tokenizer EXPRESSION so tokenization stays
  * bit-identical to every other text operator. Whitespace for the
  * non-whitespace denominator is Java regex `\s` = [ \t\n\x0B\f\r],
  * matching the column form it replaces. Null text → null struct.
  */
case class LangIdWide(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LangIdWide.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"${LangIdWide.FunctionName} expects (string, array<string>), " +
          s"got ${l.catalogString} / ${r.catalogString}")
    }

  override def nullSafeEval(t: Any, tk: Any): Any =
    LangIdWide.evalLang(t.asInstanceOf[UTF8String], tk.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, tk) => {
      s"""
         |${ev.value} = graft.expr.LangIdWide.evalLang($t, $tk);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LangIdWide =
    copy(left = newLeft, right = newRight)
}

object LangIdWide {
  val FunctionName = "graft_lang_id_wide"

  val Schema: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("confidence", DoubleType, nullable = false)))

  // Single source of truth: the tables compile from TextAnalysis's
  // public constants, so the column form, this kernel and the
  // generated oracle can never drift. Sorted DEFENSIVELY by language
  // code: the first-wins argmax below is the "ties to the lowest
  // code" rule only under that order, and the composed form and the
  // oracle generator both sort — an unsorted Seq entry must not be
  // able to diverge the kernel on a tie.
  private lazy val sortedScripts =
    graft.functions.TextAnalysis.ScriptRanges.sortBy(_._1)
  private lazy val scriptLangs: Array[String] =
    sortedScripts.map(_._1).toArray
  private lazy val scriptLo: Array[Char] =
    sortedScripts.map(_._2.charAt(0)).toArray
  private lazy val scriptHi: Array[Char] =
    sortedScripts.map(_._2.charAt(2)).toArray
  private lazy val sortedStops =
    graft.functions.TextAnalysis.WideStopwordLists.sortBy(_._1)
  private lazy val stopLangs: Array[String] =
    sortedStops.map(_._1).toArray
  private lazy val stopWords: Array[Array[String]] =
    sortedStops.map(_._2.toArray).toArray

  // within-script refinement tables (see TextAnalysis.ScriptRefinements)
  private lazy val refPriors: Array[String] =
    graft.functions.TextAnalysis.ScriptRefinements.map(_._1).toArray
  private lazy val refLangs: Array[Array[String]] =
    graft.functions.TextAnalysis.ScriptRefinements
      .map(_._2.map(_._1).toArray).toArray
  // BMP char → packed (group << 8) | (candidate + 1); 0 = not a
  // marker. A direct 64K-entry table instead of a HashMap: the probe
  // sits on the per-character hot path and must not box
  private lazy val markerTable: Array[Int] = {
    val t = new Array[Int](0x10000)
    for (((_, cands), g) <-
           graft.functions.TextAnalysis.ScriptRefinements.zipWithIndex;
         ((_, chars), c) <- cands.zipWithIndex; ch <- chars) {
      require(t(ch) == 0, s"marker '$ch' assigned twice — sets must be disjoint")
      t(ch) = (g << 8) | (c + 1)
    }
    t
  }

  // BMP char → script index + 1 (0 = no script). The same 64K-table
  // trick as markerTable, replacing the per-character linear range
  // scan whose constant grew with every added language: Latin text
  // (no range hit) scanned EVERY range per character — measured
  // 53 ns/char at 167 languages (LangIdProbe, the q117 round-13
  // regression) vs O(1) here. First-wins semantics preserved by fill
  // order: ranges are iterated ascending and only unset cells take.
  private lazy val scriptTable: Array[Short] = {
    val t = new Array[Short](0x10000)
    var k = 0
    while (k < scriptLo.length) {
      var c = scriptLo(k).toInt
      val hi = scriptHi(k).toInt
      while (c <= hi) {
        if (t(c) == 0) t(c) = (k + 1).toShort
        c += 1
      }
      k += 1
    }
    t
  }

  /** EXACTLY Spark's `round(col, 4)` on DoubleType (RoundBase). */
  private def round4(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Java regex \s: [ \t\n\x0B\f\r] — the set the column form used. */
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 11 || cp == '\f' ||
      cp == '\r'

  /** Named evalLang, NOT eval: the companion CLASS inherits
    * Expression.eval(InternalRow), and scalac suppresses a static
    * forwarder whenever the class has ANY member of the same name —
    * generated code calling `LangIdWide.eval(t, tk)` then fails
    * janino compilation and the whole stage silently drops to
    * interpreted evaluation (the exact failure mode this kernel
    * exists to avoid, rediscovered one level down).
    */
  def evalLang(text: UTF8String, toks: ArrayData): InternalRow = {
    val s = text.toString
    // one pass BY CODE POINT: the composed form's counts come from
    // Spark length()/regexp (code-point semantics), so a surrogate
    // pair must count as ONE non-ws character, not two — a
    // charAt-based loop diverges from the composed form and the
    // oracle on any emoji/astral-CJK text. Script ranges are BMP, so
    // supplementary code points can only feed the denominator.
    val sc = new Array[Int](scriptLangs.length)
    val rc = {
      val a = new Array[Array[Int]](refLangs.length)
      var g = 0
      while (g < a.length) { a(g) = new Array[Int](refLangs(g).length); g += 1 }
      a
    }
    var nonWs = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!isWs(cp)) nonWs += 1
      if (cp <= 0xFFFF) {
        val c = cp.toChar
        val si = scriptTable(c)
        if (si != 0) sc(si - 1) += 1
        val mi = markerTable(c)
        if (mi != 0) rc(mi >> 8)((mi & 0xFF) - 1) += 1
      }
      i += Character.charCount(cp)
    }
    var sMax = 0; var sArg = -1
    var k = 0
    while (k < sc.length) {
      // strictly greater keeps the FIRST (lang-ascending) winner —
      // ScriptRanges is ordered by language code
      if (sc(k) > sMax) { sMax = sc(k); sArg = k }
      k += 1
    }
    if (sMax > 0 && sMax.toLong * 10 >= nonWs.toLong * 3) {
      // refinement: if the winner is a refined prior, marker-count
      // argmax picks within the script (first wins ties — refLangs is
      // code-ascending); all-zero keeps the prior. Confidence stays
      // the script-dominance ratio.
      var lang = scriptLangs(sArg)
      var g = 0
      while (g < refPriors.length) {
        if (refPriors(g) == lang) {
          val counts = rc(g)
          var rMax = 0; var rArg = -1; var c2 = 0
          while (c2 < counts.length) {
            if (counts(c2) > rMax) { rMax = counts(c2); rArg = c2 }
            c2 += 1
          }
          if (rMax > 0) lang = refLangs(g)(rArg)
          g = refPriors.length
        } else g += 1
      }
      return new GenericInternalRow(Array[Any](
        UTF8String.fromString(lang),
        round4(sMax.toDouble / nonWs)))
    }
    // stopword tier: one token-set build, 790 probes. DISTINCT
    // stopword hits (array_intersect semantics) — set membership per
    // listed word, each word counted once.
    val n = toks.numElements()
    val set = new java.util.HashSet[String](math.max(n * 2, 4))
    i = 0
    while (i < n) { set.add(toks.getUTF8String(i).toString); i += 1 }
    var hMax = 0; var hArg = -1
    k = 0
    while (k < stopLangs.length) {
      val ws = stopWords(k)
      var hits = 0
      var j = 0
      while (j < ws.length) { if (set.contains(ws(j))) hits += 1; j += 1 }
      if (hits > hMax) { hMax = hits; hArg = k } // first wins ties (asc)
      k += 1
    }
    if (hMax == 0)
      new GenericInternalRow(Array[Any](UTF8String.fromString("und"), 0.0))
    else
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(stopLangs(hArg)),
        round4(hMax.toDouble / math.max(n, 1))))
  }
}
