package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** REAL audio sample decode — [[PixelStats]]'s audio sibling, closing
  * the content-tier asymmetry where images had pixel stats (q150) but
  * audio stopped at container headers ([[AudioMeta]]): WAV PCM sample
  * access is zero-dependency (offset + width come straight from the
  * fmt chunk), so the per-clip content signals a curation pipeline
  * filters on — loudness, clipping, silence — decode natively with no
  * external codec. Formats that genuinely need one (FLAC/MP3 payload,
  * non-PCM WAV) stay behind the `Multimodal.MediaDecoder` seam and
  * yield NULL here.
  *
  * Supported: RIFF/WAVE, `fmt ` audio format 1 (integer PCM), bit
  * depth 16/24/32 (signed little-endian; 24/32-bit read their top
  * two bytes — the arithmetic >>8/>>16 — so stats run at 16-bit
  * precision without overflowing the exact-integer sumsq) or 8
  * (unsigned, recentered by −128 per the WAV convention so silence
  * is 0 in every depth). The
  * data chunk must be fully present — a declared size running past
  * the buffer is a truncated file → NULL (the PNG truncated-IDAT
  * trade); a trailing partial frame (data size not a multiple of
  * block align) is floored to whole frames, matching how players
  * treat ragged tails. A `fmt ` whose block align disagrees with
  * channels·depth is malformed → NULL.
  *
  * Four REAL compressed codecs also decode natively — all public
  * integer algorithms, so the stats stay oracle-replayable:
  *
  *  - format 7, G.711 μ-law (`wav_ulaw`): per-byte segment/mantissa
  *    expansion to ±32124 linear (ITU-T G.711; the classic
  *    `ulaw2linear` arithmetic: complement, (mant·8+132)·2^seg−132,
  *    sign from bit 7).
  *  - format 6, G.711 A-law (`wav_alaw`): XOR 0x55, segment 0 →
  *    mant·16+8, else (mant·16+264)·2^(seg−1), to ±32256; sign bit
  *    SET means positive (the A-law inversion).
  *  - format 0x11, IMA ADPCM (`wav_ima_adpcm`): block-structured
  *    4-bit DPCM per the IMA reference algorithm — per-block
  *    per-channel header (int16 predictor = the block's first output
  *    sample, step index clamped to [0,88]), then 4-byte data words
  *    round-robin across channels, low nibble first; per nibble
  *    diff = step/8 (+step if bit2, +step/2 if bit1, +step/4 if
  *    bit0), subtract when bit3, predictor clamped to int16, index
  *    stepped by the {−1,−1,−1,−1,2,4,6,8} table. The `fmt `
  *    extension's samplesPerBlock must equal the layout-derived
  *    (blockAlign−4·ch)·2/ch+1 (malformed → NULL, the blockAlign
  *    contract one level up); a ragged data tail floors to whole
  *    BLOCKS.
  *  - format 2, MS-ADPCM (`wav_ms_adpcm`): per-channel 7-byte block
  *    headers (coefficient-pair index into the fmt extension's table,
  *    int16 delta, the first two output samples), then 4-bit nibbles
  *    HIGH nibble first alternating channels; per nibble pred =
  *    (s1·c1 + s2·c2) >> 8 + signedNibble·delta clamped to int16,
  *    delta = max(16, adapt[nibble]·delta >> 8) capped by
  *    [[AudioStats.MsDeltaCap]]. samplesPerBlock must equal
  *    (blockAlign−7·ch)·2/ch+2; a block whose predictor index
  *    exceeds the file's coefficient count is SKIPPED (damaged-block
  *    triage), later blocks still decode.
  *
  * For the G.711 pair, `n_clipped` counts samples at the CODEC's
  * full-scale code (|v| = 32124 / 32256) — the analogue of the PCM
  * full-scale test; for IMA it counts samples at the int16 clamp
  * rails. `bit_depth` stays the STORED width (8 / 8 / 4) — `format`
  * distinguishes the codec; decoded values are 16-bit-range linear
  * in every case. Formats that genuinely need an external codec
  * (FLAC/MP3 payload, float PCM) still NULL here.
  *
  * Output struct (all EXACT integers, so a relational oracle replays
  * them from construction arithmetic): format, channels, sample_rate,
  * bit_depth, n_frames (decoded), n_samples (frames·channels), sum,
  * sumsq, peak (max |sample|), n_clipped (samples at full scale:
  * ±32767/−32768 at 16-bit, 0/255 raw at 8-bit), silent (1 iff every
  * sample is 0), plus PER-CHANNEL sumsq and peak arrays (channel
  * index = interleave position) — the per-channel RMS/peak a stereo
  * imbalance or dead-channel filter needs. Derived doubles (RMS,
  * clipping rate) belong downstream in ONE documented formula
  * ([[graft.operators.Multimodal.audioStats]]).
  *
  * Anything undecodable → NULL, never an error (the triage
  * contract). Scale shape: pure per-row projection, one pass over
  * the sample bytes, accumulator state = 2 longs + 2 small arrays of
  * `channels` entries; the blob projects away immediately after.
  */
case class AudioStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = AudioStats.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${AudioStats.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    AudioStats.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.AudioStats.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AudioStats =
    copy(child = newChild)
}

object AudioStats {
  val FunctionName = "graft_audio_stats"

  /** Sanity bound on the channel count: WAV stores channels as u16,
    * so a crafted header can claim 65535 — the per-channel
    * accumulators would still be tiny, but no real PCM file exceeds
    * this, and bounding it keeps the output arrays triage-sized.
    */
  val MaxChannels = 64

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bit_depth", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("sum", LongType, nullable = false),
    StructField("sumsq", LongType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("n_clipped", LongType, nullable = false),
    StructField("silent", IntegerType, nullable = false),
    StructField("ch_sumsq", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("ch_peak", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** IMA ADPCM step-size table (89 entries) and index-advance table,
    * from the IMA Recommended Practices for Enhancing Digital Audio
    * Compatibility — the public reference constants every IMA decoder
    * shares.
    */
  private[graft] val ImaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767)

  private[graft] val ImaIndexAdvance: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** MS-ADPCM adaptation table (indexed by the raw nibble) and the
    * seven standard coefficient pairs, from the public WAVE format
    * 2 documentation. Files may carry custom coefficient tables in
    * the `fmt ` extension; decode reads them from the file, and the
    * standard constants are what fixtures/oracles share.
    */
  private[graft] val MsAdapt: Array[Int] = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)
  private[graft] val MsStdCoef1: Array[Int] =
    Array(256, 512, 0, 192, 240, 460, 392)
  private[graft] val MsStdCoef2: Array[Int] =
    Array(0, -256, 0, 64, 0, -208, -232)

  /** Bomb guard on the MS-ADPCM delta: real encoders keep it around
    * int16 scale, but the ×3 worst-case growth per nibble
    * (adaptation 768/256) lets a crafted block overflow any fixed
    * width. The cap is part of the decode contract here (the oracle
    * replays it); beyond ~2^17 every nonzero nibble saturates the
    * int16 predictor clamp anyway, so the cap only changes the decay
    * trajectory of inputs no real encoder emits.
    */
  val MsDeltaCap: Int = 1 << 24

  /** G.711 μ-law byte → 16-bit linear (ITU-T G.711, the classic
    * `ulaw2linear` integer form). Full scale ±32124.
    */
  private def ulaw2lin(u0: Int): Int = {
    val u = (~u0) & 0xFF
    val t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law byte → 16-bit linear (XOR 0x55 form). Full scale
    * ±32256; sign bit SET means positive.
    */
  private def alaw2lin(a0: Int): Int = {
    val a = a0 ^ 0x55
    val seg = (a >> 4) & 7
    val m = (a & 0x0F) << 4
    val t =
      if (seg == 0) m + 8
      else (m + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** Sequential consumer for [[decode]] — the seam that lets the
    * stats and fingerprint kernels share ONE container walk and ONE
    * set of codec state machines, so their accept/reject sets cannot
    * drift (the round-11 codec additions would otherwise have left
    * [[AudioEnvSig]] silently PCM-only).
    */
  private[graft] trait SampleSink {
    /** Once after header validation, before any sample; false aborts
      * the decode (e.g. too short to fingerprint). `frames` is the
      * declared frame count (per channel); `clipLo`/`clipHi` are the
      * codec's full-scale rails.
      */
    def start(format: String, ch: Int, rate: Int, bits: Int,
        frames: Long, clipLo: Int, clipHi: Int): Boolean
    /** One decoded 16-bit-range sample. `frame` is monotonic PER
      * CHANNEL (channels may interleave in emission order).
      */
    def sample(frame: Long, c: Int, v: Int): Unit
  }

  /** Stats accumulation as a [[SampleSink]] (the parse() output). */
  private final class StatsSink extends SampleSink {
    var fmt: String = _
    var ch = 0; var rate = 0; var bits = 0
    var clipLo = 0; var clipHi = 0
    var sum = 0L; var sumsq = 0L; var peak = 0; var clipped = 0L
    var chSumsq: Array[Long] = _
    var chPeak: Array[Int] = _
    def start(format: String, ch0: Int, rate0: Int, bits0: Int,
        frames: Long, lo: Int, hi: Int): Boolean = {
      fmt = format; ch = ch0; rate = rate0; bits = bits0
      clipLo = lo; clipHi = hi
      chSumsq = new Array[Long](ch0)
      chPeak = new Array[Int](ch0)
      true
    }
    def sample(frame: Long, c: Int, v: Int): Unit = {
      sum += v
      val sq = v.toLong * v
      sumsq += sq
      chSumsq(c) += sq
      val a = if (v < 0) -v else v
      if (a > peak) peak = a
      if (a > chPeak(c)) chPeak(c) = a
      if (v >= clipHi || v <= clipLo) clipped += 1
    }
    def finish(frames: Long): InternalRow =
      InternalRow(UTF8String.fromString(fmt), ch, rate, bits,
        frames, frames * ch, sum, sumsq, peak, clipped,
        if (peak == 0) 1 else 0,
        new GenericArrayData(chSumsq), new GenericArrayData(chPeak))
  }

  /** bytes → sample-stats InternalRow, or null. Static for codegen. */
  def parse(b: Array[Byte]): InternalRow = {
    val sink = new StatsSink
    val frames = decode(b, sink, strict = false)
    if (frames < 0) null else sink.finish(frames)
  }

  /** Shared WAV walk + codec state machines: validates the container,
    * calls `sink.start` once, streams every decoded sample, returns
    * the DECODED frame count (−1 = undecodable or aborted by the
    * sink; the sink may have been started). `strict` refuses partial
    * content (an MS-ADPCM block with an out-of-table predictor index
    * aborts instead of being skipped) — fingerprints need a gapless
    * sample sequence, stats prefer whatever decodes.
    */
  private[graft] def decode(b: Array[Byte], sink: SampleSink,
      strict: Boolean): Long = {
    if (b == null || b.length < 12) return -1
    if (!(tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE")) return -1
    // chunk walk (the AudioMeta shape) tracking the data chunk's
    // OFFSET, not just its size — the sample pass needs the bytes
    var o = 12
    var fmtCode = 0; var ch = 0; var rate = 0L; var blockAlign = 0
    var bits = 0; var haveFmt = false; var spbDeclared = -1
    var fmtOff = -1; var fmtEnd = -1
    var dataOff = -1; var dataSize = -1L
    while (o + 8 <= b.length && (!haveFmt || dataOff < 0)) {
      val id = tag(b, o)
      val size = u32le(b, o + 4)
      if (id == "fmt " && size >= 16 && o + 8 + 16 <= b.length) {
        fmtCode = u16le(b, o + 8)
        ch = u16le(b, o + 10)
        rate = u32le(b, o + 12)
        blockAlign = u16le(b, o + 20)
        bits = u16le(b, o + 22)
        // ADPCM extension: cbSize at +16, samplesPerBlock at +18
        if (size >= 20 && o + 8 + 20 <= b.length)
          spbDeclared = u16le(b, o + 8 + 18)
        fmtOff = o + 8
        fmtEnd = math.min(o + 8 + size, b.length.toLong).toInt
        haveFmt = true
      } else if (id == "data") {
        dataOff = o + 8
        dataSize = size
      }
      val step = size + (size & 1L) // word alignment pad
      if (step < 0 || step > Int.MaxValue) return -1
      o += 8 + step.toInt
    }
    if (!haveFmt || dataOff < 0 || rate <= 0 || rate > Int.MaxValue) return -1
    if (ch <= 0 || ch > MaxChannels) return -1
    // truncated data chunk (declared size past the buffer) → NULL;
    // a ragged tail WITHIN the declared size floors to whole frames
    // (whole BLOCKS for ADPCM)
    if (dataOff.toLong + dataSize > b.length) return -1

    if (fmtCode == 1) {
      // 24/32-bit samples read their TOP TWO BYTES — exactly the
      // arithmetic >>8/>>16 of the stored value, so the stats run at
      // 16-bit precision (exact-integer, oracle-replayable as the
      // same two's-complement read; full precision would overflow
      // the sumsq long on crafted full-scale input). bit_depth
      // reports the STORED width; clipping tests the truncated
      // value against the int16 rails.
      if (bits != 8 && bits != 16 && bits != 24 && bits != 32) return -1
      val bytesPer = bits / 8
      if (blockAlign != ch * bytesPer) return -1 // malformed fmt
      val frames = dataSize / blockAlign
      val (lo, hi) = if (bits == 8) (-128, 127) else (-32768, 32767)
      if (!sink.start("wav", ch, rate.toInt, bits, frames, lo, hi)) return -1
      var f = 0L
      var p = dataOff
      while (f < frames) {
        var c = 0
        while (c < ch) {
          val v =
            if (bits == 8) (b(p) & 0xFF) - 128
            else {
              val t = p + bytesPer - 2 // top two bytes of the LE sample
              val raw = (b(t) & 0xFF) | ((b(t + 1) & 0xFF) << 8)
              if (raw >= 32768) raw - 65536 else raw
            }
          sink.sample(f, c, v)
          p += bytesPer
          c += 1
        }
        f += 1
      }
      frames
    } else if (fmtCode == 6 || fmtCode == 7) {
      // G.711: one byte per sample, stored depth 8
      if (bits != 8 || blockAlign != ch) return -1
      val frames = dataSize / blockAlign
      val ulaw = fmtCode == 7
      val full = if (ulaw) 32124 else 32256 // the codec's max code
      if (!sink.start(if (ulaw) "wav_ulaw" else "wav_alaw", ch, rate.toInt,
        bits, frames, -full, full)) return -1
      var f = 0L
      var p = dataOff
      while (f < frames) {
        var c = 0
        while (c < ch) {
          val v = if (ulaw) ulaw2lin(b(p) & 0xFF) else alaw2lin(b(p) & 0xFF)
          sink.sample(f, c, v)
          p += 1
          c += 1
        }
        f += 1
      }
      frames
    } else if (fmtCode == 0x11) {
      // IMA ADPCM: per-channel 4-byte block headers, then 4-byte data
      // words round-robin across channels, low nibble first
      if (bits != 4) return -1
      val dataBytes = blockAlign - 4 * ch
      if (dataBytes <= 0 || dataBytes % (4 * ch) != 0) return -1
      val spb = dataBytes / ch * 2 + 1
      if (spbDeclared >= 0 && spbDeclared != spb) return -1 // malformed fmt
      val blocks = dataSize / blockAlign // ragged tail → whole blocks
      if (!sink.start("wav_ima_adpcm", ch, rate.toInt, bits, blocks * spb,
        -32768, 32767)) return -1
      val pred = new Array[Int](ch)
      val idx = new Array[Int](ch)
      var blk = 0L
      while (blk < blocks) {
        val base = (dataOff + blk * blockAlign).toInt
        val f0 = blk * spb // frame of the block's header sample
        var c = 0
        while (c < ch) {
          val raw = (b(base + 4 * c) & 0xFF) | ((b(base + 4 * c + 1) & 0xFF) << 8)
          pred(c) = if (raw >= 32768) raw - 65536 else raw
          val i0 = b(base + 4 * c + 2) & 0xFF
          idx(c) = if (i0 > 88) 88 else i0 // clamp per spec
          // the header predictor IS the block's first output sample
          sink.sample(f0, c, pred(c))
          c += 1
        }
        val words = dataBytes / (4 * ch) // per channel
        var g = 0
        while (g < words) {
          c = 0
          while (c < ch) {
            val w = base + 4 * ch + (g * ch + c) * 4
            var j = 0
            while (j < 8) {
              val byte = b(w + (j >> 1)) & 0xFF
              val nib = if ((j & 1) == 0) byte & 0x0F else byte >> 4
              val step = ImaStep(idx(c))
              var diff = step >> 3
              if ((nib & 4) != 0) diff += step
              if ((nib & 2) != 0) diff += step >> 1
              if ((nib & 1) != 0) diff += step >> 2
              var v = if ((nib & 8) != 0) pred(c) - diff else pred(c) + diff
              if (v > 32767) v = 32767 else if (v < -32768) v = -32768
              pred(c) = v
              var ni = idx(c) + ImaIndexAdvance(nib)
              if (ni < 0) ni = 0 else if (ni > 88) ni = 88
              idx(c) = ni
              sink.sample(f0 + 1 + g * 8 + j, c, v)
              j += 1
            }
            c += 1
          }
          g += 1
        }
        blk += 1
      }
      blocks * spb
    } else if (fmtCode == 2) {
      // MS-ADPCM: per-channel 7-byte block headers (predictor index,
      // int16 delta, int16 sample1, int16 sample2 — s2/s1 are the
      // block's first two output samples, older first), then 4-bit
      // nibbles HIGH nibble first, alternating channels per sample.
      // The coefficient table comes from the `fmt ` extension (files
      // may carry custom pairs beyond the seven standard ones).
      if (bits != 4) return -1
      val dataBytes = blockAlign - 7 * ch
      if (dataBytes <= 0 || (dataBytes * 2) % ch != 0) return -1
      val spb = dataBytes * 2 / ch + 2
      if (spbDeclared >= 0 && spbDeclared != spb) return -1 // malformed fmt
      // coefficient table: numCoef at fmt+20, int16 pairs from +22
      if (fmtOff < 0 || fmtEnd - fmtOff < 22) return -1
      val numCoef = u16le(b, fmtOff + 20)
      if (numCoef < 1 || numCoef > 64 ||
        fmtEnd - fmtOff < 22 + 4 * numCoef) return -1
      def s16(off: Int): Int = {
        val raw = u16le(b, off)
        if (raw >= 32768) raw - 65536 else raw
      }
      val c1 = new Array[Int](numCoef)
      val c2 = new Array[Int](numCoef)
      var i = 0
      while (i < numCoef) {
        c1(i) = s16(fmtOff + 22 + 4 * i)
        c2(i) = s16(fmtOff + 22 + 4 * i + 2)
        i += 1
      }
      val blocks = dataSize / blockAlign // ragged tail → whole blocks
      if (!sink.start("wav_ms_adpcm", ch, rate.toInt, bits, blocks * spb,
        -32768, 32767)) return -1
      val pi = new Array[Int](ch)
      val dl = new Array[Long](ch)
      val s1 = new Array[Int](ch)
      val s2 = new Array[Int](ch)
      var decoded = 0L // frames emitted (skipped blocks compact away)
      var blk = 0L
      while (blk < blocks) {
        val base = (dataOff + blk * blockAlign).toInt
        var ok = true
        var c = 0
        while (c < ch) {
          pi(c) = b(base + c) & 0xFF
          if (pi(c) >= numCoef) ok = false // malformed block: skip it
          dl(c) = s16(base + ch + 2 * c).toLong
          s1(c) = s16(base + 3 * ch + 2 * c)
          s2(c) = s16(base + 5 * ch + 2 * c)
          c += 1
        }
        if (ok) {
          c = 0
          while (c < ch) { // older sample first
            sink.sample(decoded, c, s2(c))
            sink.sample(decoded + 1, c, s1(c))
            c += 1
          }
          val nNib = dataBytes * 2
          var j = 0
          while (j < nNib) {
            val byte = b(base + 7 * ch + (j >> 1)) & 0xFF
            val nib = if ((j & 1) == 0) byte >> 4 else byte & 0x0F
            val sn = if (nib >= 8) nib - 16 else nib
            val cc = j % ch
            var pred = ((s1(cc).toLong * c1(pi(cc)) +
              s2(cc).toLong * c2(pi(cc))) >> 8) + sn * dl(cc)
            if (pred > 32767) pred = 32767
            else if (pred < -32768) pred = -32768
            s2(cc) = s1(cc)
            s1(cc) = pred.toInt
            var nd = (MsAdapt(nib) * dl(cc)) >> 8
            if (nd < 16) nd = 16 else if (nd > MsDeltaCap) nd = MsDeltaCap
            dl(cc) = nd
            sink.sample(decoded + 2 + j / ch, cc, pred.toInt)
            j += 1
          }
          decoded += spb
        } else if (strict) return -1 // gapless contract for fingerprints
        blk += 1
      }
      decoded
    } else -1 // float PCM, … need an external decoder
  }
}
