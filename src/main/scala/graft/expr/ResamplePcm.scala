package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}

/** Audio RESAMPLE over a binary column — [[ResizePixels]]'s time-axis
  * sibling, completing the multimodal primitive set (decode /
  * feature-extract / resize / frame-sample): training pipelines feed
  * fixed-rate model inputs (16 kHz ASR fronts, 8 kHz telephony
  * models), so the rate conversion has to happen IN the engine, as a
  * per-row projection, for every codec the audio tier ingests.
  *
  * Input decodes through the SHARED [[AudioStats.decode]] walk
  * (PCM 8/16/24/32, G.711 μ/A-law, IMA and MS ADPCM — and MP3 via
  * the [[graft.operators.Multimodal.Mp3Decoder]] seam upstream);
  * output is a PCM16 WAV at the target rate that the whole audio
  * tier re-ingests.
  *
  * Semantics — integer-exact so a relational oracle replays them
  * (the [[ResizePixels]] box rule on the frame axis, per channel):
  *
  *  - output frame count dn = ⌊n·dstRate/srcRate⌋ (n = input
  *    frames); dn = 0 → NULL (too short to carry content);
  *  - output frame t2 averages input frames
  *    [⌊t2·n/dn⌋, ⌊(t2+1)·n/dn⌋), mean = TRUNCATING division
  *    (toward zero — symmetric around silence, so decimation adds no
  *    DC bias on signed audio, and it is both Java's and SQL's
  *    native integer division, so the oracle replays it verbatim);
  *  - UPSAMPLE (empty box): clamps to one frame — sample-and-hold,
  *    the same floor rule as the pixel path.
  *
  * Box-mean decimation is the honest zero-dependency choice (it is
  * a crude anti-alias low-pass; a windowed-sinc polyphase would beat
  * it on fidelity but is float and oracle-unreplayable) — the
  * documented trade, same as the envelope fingerprint's.
  *
  * Target rate bounds (1 kHz ≤ r ≤ 192 kHz) and an output cap
  * (dn·ch ≤ 2^24) bomb-guard the expansion side; undecodable
  * payloads → NULL, never an error. Pure per-row projection.
  */
case class ResamplePcm(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"${ResamplePcm.FunctionName} expects (binary, int), got " +
          s"(${a.catalogString}, ${b.catalogString})")
    }

  override def nullSafeEval(b: Any, r: Any): Any =
    ResamplePcm.resample(b.asInstanceOf[Array[Byte]], r.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, r) => {
      s"""
         |${ev.value} = graft.expr.ResamplePcm.resample($b, $r);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ResamplePcm =
    copy(left = newLeft, right = newRight)
}

object ResamplePcm {
  val FunctionName = "graft_resample_pcm"

  private final class Collect(inputBytes: Int) extends AudioStats.SampleSink {
    var ch = 0
    var rate = 0
    var n = 0
    var data: Array[Array[Int]] = _
    def start(format: String, c: Int, r: Int, bits: Int,
        frames: Long, lo: Int, hi: Int): Boolean = {
      // the buffer sizes from the DECLARED frame count, so the
      // declaration must be consistent with the payload that backs
      // it: no supported codec emits more than 8 frames per input
      // byte (4-bit ADPCM mono is 2; the factor is headroom), and
      // the absolute cap bounds the multi-channel product — a
      // crafted header cannot turn a small blob into a 512 MB
      // allocation. 2^24 total ints = 64 MiB of decoded buffer per
      // row, matching the OUTPUT-side dn*ch cap in resample(): with
      // 32 concurrent tasks that is ≤2 GiB of transient sample
      // buffers executor-wide, not ≤4 GiB as the old 2^25 allowed
      if (c < 1 || c > 8 || frames <= 0 || frames > (1L << 24) ||
          frames > 8L * math.max(inputBytes, 1) ||
          frames * c > (1L << 24)) return false
      ch = c; rate = r; n = frames.toInt
      data = Array.ofDim[Int](c, n)
      true
    }
    def sample(frame: Long, c: Int, v: Int): Unit =
      if (frame < n) data(c)(frame.toInt) = v
  }

  /** bytes + target rate → PCM16 WAV at that rate, or null. Static
    * for codegen.
    */
  def resample(b: Array[Byte], dstRate: Int): Array[Byte] = {
    if (b == null || dstRate < 1000 || dstRate > 192000) return null
    val sink = new Collect(b.length)
    if (AudioStats.decode(b, sink, strict = true) < 0) return null
    val n = sink.n
    val ch = sink.ch
    val dn = (n.toLong * dstRate / sink.rate).toInt
    if (dn <= 0 || dn.toLong * ch > (1L << 24)) return null
    val dataSize = dn * ch * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("ISO-8859-1")).putInt(36 + dataSize)
      .put("WAVE".getBytes("ISO-8859-1"))
      .put("fmt ".getBytes("ISO-8859-1")).putInt(16)
      .putShort(1).putShort(ch.toShort).putInt(dstRate)
      .putInt(dstRate * ch * 2).putShort((ch * 2).toShort).putShort(16)
      .put("data".getBytes("ISO-8859-1")).putInt(dataSize)
    var t2 = 0
    while (t2 < dn) {
      val lo = (t2.toLong * n / dn).toInt
      var hi = ((t2 + 1).toLong * n / dn).toInt
      if (hi <= lo) hi = math.min(lo + 1, n)
      var c = 0
      while (c < ch) {
        var sum = 0L
        var t = lo
        val d = sink.data(c)
        while (t < hi) { sum += d(t); t += 1 }
        val m = (sum / (hi - lo)).toInt // truncating: see scaladoc
        val p = if (m > 32767) 32767 else if (m < -32768) -32768 else m
        out.putShort(p.toShort)
        c += 1
      }
      t2 += 1
    }
    out.array()
  }
}
