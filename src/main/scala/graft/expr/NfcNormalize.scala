package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native, codegen'd expression.
  *
  * Text corpora scraped from the web mix precomposed ("é" U+00E9) and
  * decomposed ("e" + U+0301) forms of the same glyph; every serious
  * training-data pipeline canonicalizes to NFC before hashing,
  * deduplicating or tokenizing, otherwise visually identical documents
  * fingerprint differently. Spark has no built-in for this (DuckDB has
  * `nfc_normalize`, Presto/Trino have `normalize`); a native unary
  * expression keeps it inside whole-stage codegen instead of paying the
  * Scala-UDF encode/decode tax per row.
  *
  * Semantics match `java.text.Normalizer.normalize(s, NFC)` — the same
  * Unicode-standard canonical composition DuckDB's `nfc_normalize`
  * implements, so results are engine-reproducible.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${NfcNormalize.FunctionName} expects string, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    NfcNormalize.nfc(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  val FunctionName = "graft_nfc"

  /** Fast path: pure-ASCII strings are NFC by definition, and the
    * byte scan costs no allocation at all — the common web-text row
    * returns the input UTF8String untouched. Non-ASCII rows fall back
    * to one String conversion for `isNormalized` (cheap scan), and
    * only strings that actually change pay the normalize+rebuild.
    */
  def nfc(s: UTF8String): UTF8String = {
    val n = s.numBytes()
    var i = 0
    while (i < n && (s.getByte(i) & 0x80) == 0) i += 1
    if (i == n) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
