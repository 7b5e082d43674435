package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** RTF → plain text — [[graft.functions.HtmlToText]]'s sibling for
  * the other legacy rich-text format crawl corpora carry. HTML
  * strips with a regexp chain because its droppable content sits in
  * FLAT elements; RTF's droppable content lives in NESTED groups
  * (`{\fonttbl {\f0 Arial;}}`, `{\*\themedata …}`, `{\pict …}`), so
  * a regex cannot bound it and this is a small native state machine
  * over the public RTF 1.x syntax instead:
  *
  *  - groups `{ … }` tracked by depth; a group opened by a skippable
  *    destination (`fonttbl colortbl stylesheet info pict object
  *    themedata fldinst header footer footnote`) or by the `\*`
  *    ignorable-destination marker drops its ENTIRE subtree;
  *  - control words `\word[-]N? ` map per spec: `par`/`line` → \n,
  *    `tab` → \t, `emdash`/`endash` → -, `lquote`/`rquote` → ',
  *    `ldblquote`/`rdblquote` → ", `bullet` → *, `\~` → space,
  *    `\{ \} \\` → literals; all other words are formatting and drop;
  *  - `\'hh` decodes as Latin-1 (the cp1252 superset differs only in
  *    0x80–0x9F, which real documents rarely carry — documented
  *    coarseness); `\uN` appends the BMP code point (negative N is
  *    the spec's signed-16-bit form) and skips the following `\ucN`
  *    fallback characters, with `\uc` scoped per group;
  *  - `\binN` skips N raw bytes (clamped to the remaining input — a
  *    crafted N cannot run past the buffer).
  *
  * Not RTF (no `{\rtf` magic) → NULL; unbalanced braces / truncated
  * input return the text extracted so far (the triage stance: a
  * truncated document still carries content). Output is RAW extracted
  * text — callers collapse whitespace with the shared normalizer so
  * the discipline matches the HTML path. Scale shape: one pass, a
  * depth-bounded int stack, codegen'd static call.
  */
case class RtfToText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${RtfToText.FunctionName} expects string, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    RtfToText.extract(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.RtfToText.extract($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RtfToText =
    copy(child = newChild)
}

object RtfToText {
  val FunctionName = "graft_rtf_to_text"

  /** Destinations whose whole group drops. The `\*` marker handles
    * everything else unknown per spec; these are the common ones
    * written WITHOUT the marker.
    */
  private val SkipDests = Set(
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "themedata", "fldinst", "header", "footer", "footnote")

  private val MaxDepthTracked = 4096

  /** UTF8String → extracted text UTF8String, or null. Static for
    * codegen.
    */
  def extract(u: UTF8String): UTF8String = {
    val t = u.toString
    if (!t.startsWith("{\\rtf")) return null
    val sb = new java.lang.StringBuilder(math.min(t.length, 1 << 16))
    var i = 0
    var depth = 0
    var skipDepth = -1 // >=0: inside the skipped group opened at that depth
    // \uc is group-scoped: a small stack of values, clamped in depth
    // (beyond the cap the value just stays — \uc rarely changes at all)
    val ucStack = new Array[Int](MaxDepthTracked)
    var uc = 1
    def skipping: Boolean = skipDepth >= 0

    while (i < t.length) {
      val c = t.charAt(i)
      if (c == '{') {
        if (depth < MaxDepthTracked) ucStack(depth) = uc
        depth += 1
        i += 1
      } else if (c == '}') {
        if (skipDepth == depth) skipDepth = -1
        depth -= 1
        if (depth >= 0 && depth < MaxDepthTracked) uc = ucStack(depth)
        if (depth < 0) depth = 0 // stray closer: tolerate
        i += 1
      } else if (c == '\\') {
        if (i + 1 >= t.length) i = t.length // trailing backslash
        else {
          val n = t.charAt(i + 1)
          if (n == '{' || n == '}' || n == '\\') {
            if (!skipping) sb.append(n)
            i += 2
          } else if (n == '~') {
            if (!skipping) sb.append(' ')
            i += 2
          } else if (n == '-' || n == '_') { // optional/nonbreaking hyphen
            if (!skipping && n == '_') sb.append('-')
            i += 2
          } else if (n == '*') {
            // ignorable destination: drop the enclosing group
            if (!skipping) skipDepth = depth
            i += 2
          } else if (n == '\'') {
            if (i + 3 < t.length) {
              val h = Character.digit(t.charAt(i + 2), 16)
              val l = Character.digit(t.charAt(i + 3), 16)
              if (h >= 0 && l >= 0) {
                if (!skipping) sb.append(((h << 4) | l).toChar) // Latin-1
                i += 4
              } else i += 2 // malformed escape: drop it, keep walking
            } else i = t.length
          } else if (n >= 'a' && n <= 'z') {
            // control word: letters, optional signed parameter, one
            // optional delimiting space
            var j = i + 1
            while (j < t.length && t.charAt(j) >= 'a' && t.charAt(j) <= 'z')
              j += 1
            val word = t.substring(i + 1, j)
            var neg = false
            var hasParam = false
            var param = 0L
            if (j < t.length && t.charAt(j) == '-') { neg = true; j += 1 }
            while (j < t.length && t.charAt(j) >= '0' && t.charAt(j) <= '9') {
              hasParam = true
              if (param < Int.MaxValue) param = param * 10 + (t.charAt(j) - '0')
              j += 1
            }
            if (neg) param = -param
            if (j < t.length && t.charAt(j) == ' ') j += 1 // delimiter
            i = j
            word match {
              case "par" | "line" => if (!skipping) sb.append('\n')
              case "tab" => if (!skipping) sb.append('\t')
              case "emdash" | "endash" => if (!skipping) sb.append('-')
              case "lquote" | "rquote" => if (!skipping) sb.append('\'')
              case "ldblquote" | "rdblquote" => if (!skipping) sb.append('"')
              case "bullet" => if (!skipping) sb.append('*')
              case "uc" => if (hasParam && param >= 0 && param <= 8)
                uc = param.toInt
              case "u" =>
                if (hasParam) {
                  var cp = param
                  if (cp < 0) cp += 65536 // signed-16-bit spec form
                  if (!skipping && cp > 0 && cp <= 0xFFFF &&
                      !Character.isSurrogate(cp.toChar))
                    sb.append(cp.toChar)
                  // skip the \uc fallback chars (plain or \'hh each)
                  var s = 0
                  while (s < uc && i < t.length) {
                    if (t.charAt(i) == '\\' && i + 3 < t.length &&
                        t.charAt(i + 1) == '\'') i += 4
                    else if (t.charAt(i) == '{' || t.charAt(i) == '}') s = uc
                    else i += 1
                    s += 1
                  }
                }
              case "bin" =>
                if (hasParam && param > 0)
                  i = math.min(t.length.toLong, i.toLong + param).toInt
              case w if SkipDests.contains(w) =>
                if (!skipping) skipDepth = depth
              case _ => () // formatting control word: drop
            }
          } else i += 2 // \<digit> or other control symbol: drop
        }
      } else {
        if (!skipping && c != '\r' && c != '\n') sb.append(c)
        i += 1
      }
    }
    UTF8String.fromString(sb.toString)
  }
}
