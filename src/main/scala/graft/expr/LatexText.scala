package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** LaTeX → text — `graft_latex_text(content)`: the arXiv-class
  * corpus slice (paper sources ship as `.tex`, usually inside the
  * `.tar.gz` per-paper bundles the archive walk already opens). A
  * deterministic prose extractor, not a TeX engine:
  *
  *  - comments strip (`%` to end of line; `\\%` is a literal);
  *  - the `\\begin{document}` body extracts when present (preamble
  *    and anything after `\\end{document}` contribute nothing);
  *  - math drops: `$…$`, `$$…$$`, `\\(..\\)`, `\\[..\\]` and the
  *    equation/align/math/displaymath/eqnarray/gather/multline
  *    environments (starred forms too);
  *  - float/verbatim-class environments: figure/table/tabular
  *    bodies drop entirely (captions included — the common
  *    arXiv-cleaner convention); verbatim/lstlisting bodies keep
  *    RAW;
  *  - sectioning (`\\title`, `\\section`…`\\subparagraph`, starred
  *    forms) emits its argument on its own line; wrapper commands
  *    (`\\emph`, `\\textbf`, `\\textit`, `\\texttt`,
  *    `\\underline`, `\\mbox`, `\\caption`, `\\footnote` excepted —
  *    footnotes drop) unwrap to their argument;
  *  - reference/machinery commands (`\\cite`, `\\ref`, `\\eqref`,
  *    `\\label`, `\\url`, `\\href`'s url arg, `\\includegraphics`,
  *    `\\input`, `\\include`, `\\usepackage`, `\\documentclass`,
  *    `\\bibliography*`…) drop with their arguments;
  *  - `\\\\` breaks a line, `~` is a space, the escaped specials
  *    (`\\% \\& \\$ \\_ \\# \\{ \\}`) are literals, accent commands
  *    (`\\'e` → e) keep the letter, `\\item` bullets become lines;
  *  - any other `\\command[opt]` drops ITSELF (brace groups stay
  *    transparent), blank lines separate paragraphs, whitespace
  *    collapses per line.
  *
  * Output: one line per section heading / paragraph / item, the
  * conventions oracles can replay. NULL when nothing extractable or
  * the input does not look like TeX at all; pure per-row projection.
  */
case class LatexTextExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${LatexText.FunctionName} expects binary, got ${t.catalogString}")
    }
  override def nullSafeEval(v: Any): Any =
    LatexText.parse(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.LatexText.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression):
      LatexTextExpr = copy(child = newChild)
}

object LatexText {
  val FunctionName = "graft_latex_text"

  val MaxTextChars: Int = 16 << 20

  /** Sectioning commands: argument emitted on its own line. */
  private val Heading = Set("title", "chapter", "section", "subsection",
    "subsubsection", "paragraph", "subparagraph", "part")
  /** Wrappers: replaced by their argument in place. */
  private val Unwrap = Set("emph", "textbf", "textit", "texttt",
    "textsc", "textrm", "textsf", "underline", "mbox", "text",
    "caption", "author", "date", "thanks", "textsuperscript",
    "textsubscript")
  /** Dropped with ALL their arguments. */
  private val DropArgs = Set("cite", "citep", "citet", "ref", "eqref",
    "pageref", "autoref", "label", "url", "includegraphics", "input",
    "include", "usepackage", "documentclass", "bibliography",
    "bibliographystyle", "footnote", "footnotetext", "vspace",
    "hspace", "setlength", "newcommand", "renewcommand", "def",
    "pagestyle", "thispagestyle", "graphicspath", "footnotemark")
  /** Environments whose whole body drops. */
  private val DropEnv = Set("equation", "align", "math", "displaymath",
    "eqnarray", "gather", "multline", "figure", "table", "tabular",
    "tikzpicture", "thebibliography", "array")
  /** Environments whose body keeps RAW. */
  private val RawEnv = Set("verbatim", "lstlisting")

  /** Conservative sniff for the document dispatch: the first
    * non-blank, non-comment line opens with \\documentclass or
    * \\begin{document} appears in the head.
    */
  private[graft] def looksLikeTex(b: Array[Byte]): Boolean = {
    val n = math.min(b.length, 4096)
    val head = new String(b, 0, n,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val firstReal = head.linesIterator
      .map(_.trim).find(l => l.nonEmpty && !l.startsWith("%"))
    firstReal.exists(l => l.startsWith("\\documentclass") ||
      l.startsWith("\\begin{document}")) ||
      head.contains("\\begin{document}")
  }

  def parse(b: Array[Byte]): UTF8String = {
    if (b == null || b.length < 8 ||
        b.length > EmlText.MaxInputBytes) return null
    val raw = new String(b, java.nio.charset.StandardCharsets.UTF_8)
    if (!raw.contains("\\")) return null // not TeX at all
    var s = raw
    val bodyAt = s.indexOf("\\begin{document}")
    if (bodyAt >= 0) {
      val endAt = s.indexOf("\\end{document}")
      s = s.substring(bodyAt + "\\begin{document}".length,
        if (endAt > bodyAt) endAt else s.length)
    }

    val out = new java.lang.StringBuilder
    val n = s.length
    var i = 0
    def isLetter(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    /** past a balanced {...} group; returns exclusive end or -1 */
    def groupEnd(from: Int): Int = {
      if (from >= n || s.charAt(from) != '{') return -1
      var depth = 0
      var k = from
      while (k < n) {
        val c = s.charAt(k)
        if (c == '\\' && k + 1 < n) k += 1
        else if (c == '{') depth += 1
        else if (c == '}') {
          depth -= 1
          if (depth == 0) return k + 1
        }
        k += 1
      }
      -1
    }
    def skipOpts(from: Int): Int = {
      var k = from
      while (k < n && s.charAt(k) == '[') {
        var depth = 0
        var done = false
        while (!done && k < n) {
          val c = s.charAt(k)
          if (c == '[') depth += 1
          else if (c == ']') { depth -= 1; if (depth == 0) done = true }
          k += 1
        }
      }
      k
    }
    def envName(from: Int): (String, Int) = {
      // from points AFTER \begin or \end; expect {name}
      val e = groupEnd(from)
      if (e < 0) (null, from)
      else (s.substring(from + 1, e - 1).trim, e)
    }
    /** skip to the matching \end{name}; nesting of the SAME name */
    def skipEnv(name: String, from: Int): Int = {
      var k = from
      var depth = 1
      val begin = s"\\begin{$name}"
      val end = s"\\end{$name}"
      while (k < n && depth > 0) {
        val nb = s.indexOf(begin, k)
        val ne = s.indexOf(end, k)
        if (ne < 0) return n
        if (nb >= 0 && nb < ne) { depth += 1; k = nb + begin.length }
        else { depth -= 1; k = ne + end.length }
      }
      k
    }
    var newlines = 0 // pending paragraph/line breaks
    def emitBreak(): Unit =
      if (newlines > 0) {
        if (out.length > 0) out.append('\n')
        newlines = 0
      }
    def emitChar(c: Char): Unit = {
      if (out.length > MaxTextChars) return
      emitBreak()
      // collapse runs of spaces
      if (c == ' ') {
        if (out.length > 0 && out.charAt(out.length - 1) != ' ' &&
            out.charAt(out.length - 1) != '\n') out.append(' ')
      } else out.append(c)
    }
    def trimLineTail(): Unit =
      while (out.length > 0 && out.charAt(out.length - 1) == ' ')
        out.setLength(out.length - 1)

    while (i < n && out.length <= MaxTextChars) {
      val c = s.charAt(i)
      c match {
        case '\\' if i + 1 < n =>
          val c1 = s.charAt(i + 1)
          if (c1 == '\\') { trimLineTail(); newlines += 1; i += 2 }
          else if ("%&$_#{}".indexOf(c1) >= 0) { emitChar(c1); i += 2 }
          else if ("'`^\"~=.".indexOf(c1) >= 0 && i + 2 < n &&
              (isLetter(s.charAt(i + 2)) || s.charAt(i + 2) == '{')) {
            // accent: \'e or \'{e} → the letter
            if (s.charAt(i + 2) == '{') {
              val e = groupEnd(i + 2)
              if (e > 0) {
                var k = i + 3
                while (k < e - 1) { emitChar(s.charAt(k)); k += 1 }
                i = e
              } else i += 2
            } else { emitChar(s.charAt(i + 2)); i += 3 }
          } else if (c1 == '(') {
            val e = s.indexOf("\\)", i + 2)
            i = if (e < 0) n else e + 2
          } else if (c1 == '[') {
            val e = s.indexOf("\\]", i + 2)
            i = if (e < 0) n else e + 2
          } else if (isLetter(c1)) {
            var k = i + 1
            while (k < n && isLetter(s.charAt(k))) k += 1
            var name = s.substring(i + 1, k)
            if (k < n && s.charAt(k) == '*') { k += 1 } // starred
            if (name == "begin") {
              val (env, after) = envName(k)
              if (env == null) i = k
              else {
                val base = env.stripSuffix("*")
                if (DropEnv.contains(base)) i = skipEnv(env, after)
                else if (RawEnv.contains(base)) {
                  val endTag = s"\\end{$env}"
                  val e = s.indexOf(endTag, after)
                  val stop = if (e < 0) n else e
                  trimLineTail(); newlines += 1
                  var k2 = after
                  while (k2 < stop && out.length <= MaxTextChars) {
                    val cc = s.charAt(k2)
                    if (cc == '\n') { trimLineTail(); newlines += 1 }
                    else emitChar(cc)
                    k2 += 1
                  }
                  trimLineTail(); newlines += 1
                  i = if (e < 0) n else e + endTag.length
                } else i = after // transparent environment
              }
            } else if (name == "end") {
              val (_, after) = envName(k)
              i = after
            } else if (name == "item") {
              trimLineTail(); newlines += 1
              i = skipOpts(k)
            } else if (Heading.contains(name)) {
              val o = skipOpts(k)
              val e = groupEnd(o)
              if (e > 0) {
                trimLineTail(); newlines += 1
                var k2 = o + 1
                while (k2 < e - 1) { emitChar(s.charAt(k2)); k2 += 1 }
                trimLineTail(); newlines += 1
                i = e
              } else i = o
            } else if (Unwrap.contains(name)) {
              i = skipOpts(k) // body continues inside the brace group
            } else if (name == "href") {
              // \href{url}{text}: the url drops, the text keeps
              val e1 = groupEnd(skipOpts(k))
              i = if (e1 > 0) e1 else k
            } else if (DropArgs.contains(name)) {
              var o = skipOpts(k)
              var e = groupEnd(o)
              while (e > 0) { // every braced arg drops
                o = skipOpts(e)
                val nx = groupEnd(o)
                if (nx > 0) { e = nx } else { i = o; e = -1 }
              }
              if (i < o) i = o
            } else {
              // unknown command: itself (+opts) drops, braces stay
              i = skipOpts(k)
              // the space consumed by TeX after a control word
              if (i < n && s.charAt(i) == ' ') i += 1
            }
          } else i += 2 // \<symbol>: drop
        case '$' =>
          if (i + 1 < n && s.charAt(i + 1) == '$') {
            val e = s.indexOf("$$", i + 2)
            i = if (e < 0) n else e + 2
          } else {
            var e = i + 1
            while (e < n && (s.charAt(e) != '$' ||
                s.charAt(e - 1) == '\\')) e += 1
            i = if (e >= n) n else e + 1
          }
        case '{' | '}' => i += 1 // grouping is transparent
        case '%' =>
          // TeX comment: through the end of line INCLUDING its
          // newline (the lines join without a break)
          while (i < n && s.charAt(i) != '\n') i += 1
          if (i < n) i += 1
        case '~' => emitChar(' '); i += 1
        case '\n' =>
          // blank line = paragraph break; single newline = space
          var k = i
          var blanks = 0
          while (k < n && (s.charAt(k) == '\n' || s.charAt(k) == ' ' ||
              s.charAt(k) == '\t')) {
            if (s.charAt(k) == '\n') blanks += 1
            k += 1
          }
          if (blanks >= 2) { trimLineTail(); newlines += 1 }
          else emitChar(' ')
          i = k
        case '\t' | '\r' => emitChar(' '); i += 1
        case other => emitChar(other); i += 1
      }
    }
    trimLineTail()
    val text = out.toString.trim
    if (text.isEmpty) null
    else UTF8String.fromString(text + "\n")
  }
}
