package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Native codec→PCM decode over a binary column:
  * `graft_audio_decode(content)` — the EXPRESSION form of the
  * [[graft.operators.Multimodal.AudioDecoder]] seam, dispatching on
  * container magic to the engine's clean-room decoders:
  *
  *  - `RIFF…WAVE` → identity (the downstream native walk already
  *    decodes the whole WAV family: PCM 8–32, G.711 μ/A-law,
  *    IMA/MS ADPCM);
  *  - `fLaC` → [[FlacDecode]] (lossless, bit-exact);
  *  - `OggS` → [[VorbisDecode]] (Vorbis I; Opus/Theora BOS streams
  *    fail its header check → NULL, the triage contract);
  *  - MPEG sync / `ID3` → [[Mp3Decode]] (the documented conformance
  *    subset);
  *  - anything else → NULL, never an error.
  *
  * Why an expression when the seam exists: the seam's
  * `mapPartitions` projection serves the typed batch API, but an
  * Expression composes where a JVM-object decoder can't — the SQL
  * surface (`SELECT graft_audio_decode(content) …`), the native
  * streaming-ingest plans (no `udf(` in StreamingIngest is a
  * grep-enforced invariant), and directly under [[AudioEnvSig]] /
  * [[AudioStats]] calls in ONE whole-stage-codegen'd projection.
  * Cross-codec audio dedup-on-ingest
  * ([[graft.streaming.StreamingIngest.audioDedupIngestBatch]]) is
  * the first consumer.
  *
  * Cost model: pure per-row projection, no shuffle; each decoder is
  * bomb-guarded at its own layer (64 MiB PCM caps, crafted-header
  * allocation guards — see the decoders' scaladocs). The static
  * entry is named `decodeAuto`, NOT `eval` — an object method named
  * `eval` collides with Expression.eval's static forwarder and
  * silently breaks codegen (the H264Frames lesson, SCALE.md r14).
  */
case class AudioDecodeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${AudioDecodeExpr.FunctionName} expects binary, got " +
          t.catalogString)
    }

  override def nullSafeEval(b: Any): Any =
    AudioDecodeExpr.decodeAuto(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.expr.AudioDecodeExpr.decodeAuto($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      AudioDecodeExpr = copy(child = newChild)
}

object AudioDecodeExpr {
  val FunctionName = "graft_audio_decode"

  /** Magic-dispatched decode; static for codegen. */
  def decodeAuto(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 4) return null
    if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
        b.length >= 12 && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E') return b
    if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')
      return FlacDecode.decode(b)
    if (b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S')
      return VorbisDecode.decode(b)
    if ((b(0) == 'I' && b(1) == 'D' && b(2) == '3') ||
        ((b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0))
      return Mp3Decode.decode(b)
    null
  }
}
