package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Energy-envelope fingerprint over REAL decoded PCM —
  * [[PixelGridSig]]'s audio sibling, the map-side half of perceptual
  * AUDIO near-dup ([[graft.operators.Multimodal.audioNearDup]]): two
  * encodes of one clip that differ by gain, container padding, or a
  * ragged tail land on the same fingerprint even when their bytes
  * differ entirely.
  *
  * Recipe (the amplitude-envelope variant of the band-energy-sign
  * fingerprint family — Haitsma & Kalker's classic uses a filterbank;
  * with no FFT in a zero-dependency engine the time-domain envelope
  * is the honest equivalent, and its limits are documented: robust to
  * uniform gain and re-encoding, NOT to time shifts or speed change):
  *
  *  1. decode through [[AudioStats.decode]] — the SAME container
  *     walk and codec state machines as the stats tier (PCM 8–32,
  *     G.711 μ/A-law, IMA and MS ADPCM), in STRICT mode (a
  *     skipped damaged block would shift every later window), so
  *     the accept/reject sets cannot drift and two encodes of one
  *     clip in DIFFERENT codecs fingerprint comparably;
  *  2. split the frame axis into `nFrames` equal windows with the
  *     SAME integer boundary rule as the pixel grid
  *     (lo = w·frames / nFrames) so the oracle replays it with
  *     integer division; env[w] = Σ |sample| over ALL channels in
  *     the window — an exact integer;
  *  3. ehash bit w (w < nFrames−1) = 1 iff env[w+1] > env[w] — the
  *     gradient-sign rule of the image dHash. A uniform integer gain
  *     scales every env[w] together, so strict > is preserved and
  *     the hash is gain-invariant (absent clipping), the same
  *     argument as dhash's brightness invariance.
  *
  * Fewer than nFrames decoded frames → NULL (a window would be
  * empty; too short to fingerprint at this resolution). An ALL-ZERO
  * envelope → NULL: digital silence has no content to fingerprint,
  * and at corpus scale every silent clip would otherwise collide on
  * ehash 0 in every band — the mass-bucket pathology is cut at the
  * source instead of left to the downstream bucket cap (silence is
  * better handled by [[AudioStats]]'s `silent` flag + exact dedup).
  *
  * Returns struct(n_frames, env array<long>, ehash long); NULL for
  * anything undecodable — never an error. Scale shape: pure per-row
  * projection, one pass over the samples, `nFrames` longs of state;
  * the blob projects away immediately after.
  */
case class AudioEnvSig(child: Expression, nFrames: Int)
    extends UnaryExpression {

  override def dataType: DataType = AudioEnvSig.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${AudioEnvSig.FunctionName} expects binary, got " +
          child.dataType.catalogString)
    else if (nFrames < 2 || nFrames > 64)
      TypeCheckResult.TypeCheckFailure(
        s"${AudioEnvSig.FunctionName} nFrames must be in [2, 64] " +
          s"(ehash holds nFrames-1 gradient bits): $nFrames")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    AudioEnvSig.sig(v.asInstanceOf[Array[Byte]], nFrames)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.AudioEnvSig.sig($c, $nFrames);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AudioEnvSig =
    copy(child = newChild)
}

object AudioEnvSig {
  val FunctionName = "graft_audio_env_sig"

  val Schema: StructType = StructType(Seq(
    StructField("n_frames", LongType, nullable = false),
    StructField("env", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("ehash", LongType, nullable = false)))

  /** Envelope accumulation as an [[AudioStats.SampleSink]]: window
    * boundaries are the pixel-grid integer rule (lo = w·frames/nF),
    * tracked with a PER-CHANNEL running pointer — every codec emits
    * frames monotonically per channel even when channels interleave
    * (IMA word groups, MS-ADPCM nibble alternation), and env sums
    * across channels so the pointer per channel is all that's
    * needed. STRICT decode: a partial (skipped-block) stream would
    * silently shift every later window, so fingerprints refuse it.
    */
  private final class EnvSink(nFrames: Int) extends AudioStats.SampleSink {
    var env: Array[Long] = _
    var frames = 0L
    private var wptr: Array[Int] = _
    def start(format: String, ch: Int, rate: Int, bits: Int,
        frames0: Long, lo: Int, hi: Int): Boolean = {
      if (frames0 < nFrames) return false // a window would be empty
      frames = frames0
      env = new Array[Long](nFrames)
      wptr = new Array[Int](ch)
      true
    }
    def sample(frame: Long, c: Int, v: Int): Unit = {
      var w = wptr(c)
      // advance to the window holding `frame` (hi(w) = (w+1)·frames/nF)
      while (w < nFrames - 1 && frame >= (w + 1).toLong * frames / nFrames)
        w += 1
      wptr(c) = w
      env(w) += (if (v < 0) -v else v)
    }
  }

  /** bytes → (n_frames, env, ehash) InternalRow, or null. Static for
    * codegen (named `sig`, not `eval` — see [[LangIdWide.evalLang]]'s
    * static-forwarder note). Decode is [[AudioStats.decode]] — ONE
    * shared container walk and codec set, so every format the stats
    * tier decodes (PCM 8–32, G.711 μ/A-law, IMA and MS ADPCM) is
    * fingerprintable, and two encodes of one clip in DIFFERENT
    * codecs can near-dup when their decoded envelopes agree.
    */
  def sig(b: Array[Byte], nFrames: Int): InternalRow = {
    val sink = new EnvSink(nFrames)
    if (AudioStats.decode(b, sink, strict = true) < 0) return null
    val env = sink.env
    var ehash = 0L
    var allZero = true
    var w = 0
    while (w < nFrames - 1) {
      if (env(w) != 0L) allZero = false
      if (env(w + 1) > env(w)) ehash |= (1L << w)
      w += 1
    }
    if (env(nFrames - 1) != 0L) allZero = false
    if (allZero) return null // digital silence: no content to fingerprint
    new GenericInternalRow(Array[Any](nFrames.toLong,
      new GenericArrayData(env), ehash))
  }
}
