package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native audio-header decode — the audio sibling of [[ImageMeta]]:
  * (format, channels, sample_rate, bit_depth, n_frames) parsed
  * straight from a `binary` column's bytes. Same multimodal contract:
  * container STRUCTURE decodes for real, sample decode stays behind
  * the pluggable `Multimodal.MediaDecoder`; cost per row is a bounded
  * chunk scan that never touches the audio payload, so the blob
  * projects away right after. Formats:
  *  - WAV: RIFF/WAVE container; chunk walk (sizes u32 LE, odd sizes
  *    padded per spec) to `fmt ` (channels, sample rate, block align,
  *    bits per sample) and `data` (n_frames = data size / block
  *    align). `fmt ` is required; a missing `data` chunk yields
  *    n_frames 0 (streaming-style headers).
  *  - FLAC: `fLaC` magic + STREAMINFO metadata block (bit-packed:
  *    20-bit sample rate, 3-bit channels−1, 5-bit bits−1, 36-bit
  *    total samples — n_frames = total inter-channel samples).
  *  - MP3 (MPEG-1/2/2.5 audio, all three layers): optional ID3v2 tag
  *    skipped via its syncsafe size (zero padding tolerated), then
  *    the first frame header's version/layer/bitrate-index/
  *    samplerate-index/channel-mode fields against the public
  *    ISO 11172-3 tables. n_frames is the CBR estimate
  *    (remaining bytes ÷ first frame's length) × samples-per-frame —
  *    integer arithmetic, deterministic, documented as an estimate
  *    (VBR files need the full frame walk a decoder does).
  *  - OGG: `OggS` page walk by segment-table sums (header-only, the
  *    payload is never decoded); the BOS page's identification packet
  *    dispatches Vorbis (`\x01vorbis`: channels, sample rate) vs
  *    Opus (`OpusHead`: channels; rate reported as 48000, the
  *    canonical Opus decode rate — the stored input rate is
  *    advisory). n_frames = the last complete page's granule
  *    position (total PCM samples for Vorbis; minus pre-skip for
  *    Opus, per RFC 7845 §4).
  *  - AAC (ADTS): the other half of the crawl's lossy audio. Sync
  *    0xFFF with LAYER 00 — the reserved layer value no MPEG
  *    audio frame carries, so the ADTS/MP3 dispatch is exact — then
  *    a REAL whole-stream frame walk (not the MP3 branch's CBR
  *    estimate): each 7/9-byte header (CRC adds 2) is re-validated,
  *    aac_frame_length advances the walk, and n_frames sums
  *    1024 × number_of_raw_data_blocks per frame. Rate/channels
  *    from the sampling_frequency_index table and
  *    channel_configuration (7 → 7.1 = 8 ch; 0 = PCE-defined →
  *    triage, the config lives inside the payload this walk never
  *    decodes). A truncated final frame stops the walk at the last
  *    complete frame; a mid-stream rate/channel flip triages (one
  *    stream, one format). Detection is raw-stream (ID3-tagged AAC
  *    triages — tag walk stays with the MP3 branch). SAMPLE decode
  *    stays behind the `Multimodal.AudioDecoder` seam: AAC's
  *    spectrum Huffman codebooks are tabulated spec data this
  *    clean-room build does not embed (the Mp3Decode registry
  *    honesty line).
  *
  * Lossy formats carry no PCM bit depth; they report 16, the decoded
  * width convention, so the one schema serves both families.
  *
  * Truncated/garbage/non-audio bytes → NULL, never an error (the
  * `meta IS NULL` triage contract).
  */
case class AudioMeta(child: Expression) extends UnaryExpression {

  override def dataType: DataType = AudioMeta.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${AudioMeta.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    AudioMeta.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.AudioMeta.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AudioMeta =
    copy(child = newChild)
}

object AudioMeta {
  val FunctionName = "graft_audio_meta"

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bit_depth", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false)))

  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  private def row(fmt: String, ch: Int, rate: Int, bits: Int,
      frames: Long): InternalRow =
    if (ch <= 0 || rate <= 0 || bits <= 0 || frames < 0) null
    else InternalRow(UTF8String.fromString(fmt), ch, rate, bits, frames)

  /** Header parse; null for anything undecodable. Public + static so
    * generated code can call it (the ImageMeta pattern).
    */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 7) return null // 7 = one bare ADTS header
    if (b.length >= 12 && tag(b, 0) == "RIFF" && tag(b, 8) == "WAVE")
      return parseWav(b)
    if (b.length >= 42 && tag(b, 0) == "fLaC") return parseFlac(b)
    if (tag(b, 0) == "OggS") return parseOgg(b)
    if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') return parseMp3(b)
    // layer 00 is reserved in MPEG audio and REQUIRED in ADTS — the
    // one header bit-pattern that separates the two syncs exactly
    if ((b(0) & 0xff) == 0xff && (b(1) & 0xf6) == 0xf0) return parseAdts(b)
    if ((b(0) & 0xff) == 0xff && (b(1) & 0xe0) == 0xe0) return parseMp3(b)
    null
  }

  // ---- AAC (ADTS) ------------------------------------------------------

  // ISO 13818-7 / 14496-3 sampling_frequency_index table
  private val AdtsRates: Array[Int] = Array(96000, 88200, 64000, 48000,
    44100, 32000, 24000, 22050, 16000, 12000, 11025, 8000, 7350)

  private def parseAdts(b: Array[Byte]): InternalRow = {
    var o = 0
    var ch = 0; var rate = 0; var samples = 0L; var n = 0
    while (o + 7 <= b.length &&
        (b(o) & 0xff) == 0xff && (b(o + 1) & 0xf6) == 0xf0) {
      val srIdx = (b(o + 2) >> 2) & 0xf
      if (srIdx >= AdtsRates.length) return null
      val chCfg = ((b(o + 2) & 0x1) << 2) | ((b(o + 3) & 0xff) >> 6)
      val frameLen = ((b(o + 3) & 0x3) << 11) | ((b(o + 4) & 0xff) << 3) |
        ((b(o + 5) & 0xff) >> 5)
      val blocks = (b(o + 6) & 0x3) + 1
      val hdrLen = if ((b(o + 1) & 0x1) == 0) 9 else 7 // CRC present = +2
      if (frameLen < hdrLen) return null
      val c = if (chCfg == 7) 8 else chCfg
      if (n == 0) { rate = AdtsRates(srIdx); ch = c }
      else if (AdtsRates(srIdx) != rate || c != ch) return null
      if (o + frameLen > b.length) o = b.length // truncated final frame
      else { samples += 1024L * blocks; o += frameLen; n += 1 }
    }
    if (n == 0) return null
    row("aac", ch, rate, 16, samples)
  }

  // ---- MP3 -----------------------------------------------------------

  // ISO 11172-3 / 13818-3 tables. Sample rates by version bits
  // (0 = MPEG2.5, 2 = MPEG2, 3 = MPEG1; 1 is reserved).
  private val Mp3Rates: Array[Array[Int]] = Array(
    Array(11025, 12000, 8000), null, Array(22050, 24000, 16000),
    Array(44100, 48000, 32000))
  // bitrates (kbps) by [mpeg1? 0 : 1][layer 1..3][index 1..14]
  private val Mp3Kbps: Array[Array[Array[Int]]] = Array(
    Array(null,
      Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
      Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
      Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)),
    Array(null,
      Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
      Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
      Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)))

  private def parseMp3(b: Array[Byte]): InternalRow = {
    var o = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      // ID3v2: syncsafe 28-bit size AFTER the 10-byte header
      val size = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      o = 10 + size
      if (o < 0 || o >= b.length) return null
    }
    // tolerate zero padding between tag and first frame, nothing else
    while (o < b.length && b(o) == 0) o += 1
    if (o + 4 > b.length) return null
    if ((b(o) & 0xff) != 0xff || (b(o + 1) & 0xe0) != 0xe0) return null
    val h1 = b(o + 1) & 0xff; val h2 = b(o + 2) & 0xff; val h3 = b(o + 3) & 0xff
    val verBits = (h1 >> 3) & 0x3
    val layerBits = (h1 >> 1) & 0x3 // 3=Layer I, 2=Layer II, 1=Layer III
    if (verBits == 1 || layerBits == 0) return null
    val brIdx = (h2 >> 4) & 0xf
    val srIdx = (h2 >> 2) & 0x3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return null // free-format / bad
    val padding = (h2 >> 1) & 0x1
    val ch = if (((h3 >> 6) & 0x3) == 3) 1 else 2
    val rate = Mp3Rates(verBits)(srIdx)
    val mpeg1 = verBits == 3
    val layer = 4 - layerBits // 1, 2, 3
    val kbps = Mp3Kbps(if (mpeg1) 0 else 1)(layer)(brIdx)
    val spf =
      if (layer == 1) 384
      else if (layer == 2) 1152
      else if (mpeg1) 1152 else 576
    // frame length per spec: Layer I counts in 4-byte slots
    val frameLen =
      if (layer == 1) (12 * (kbps * 1000) / rate + padding) * 4
      else (spf / 8) * (kbps * 1000) / rate + padding
    if (frameLen <= 4) return null
    val nFrames = ((b.length - o).toLong / frameLen) * spf // CBR estimate
    row("mp3", ch, rate, 16, nFrames)
  }

  // ---- OGG (Vorbis / Opus) -------------------------------------------

  private def u64le(b: Array[Byte], o: Int): Long =
    u32le(b, o) | (u32le(b, o + 4) << 32)

  private def parseOgg(b: Array[Byte]): InternalRow = {
    var o = 0
    var fmt: String = null
    var ch = 0; var rate = 0; var preskip = 0
    var granule = 0L
    var first = true
    while (o + 27 <= b.length && tag(b, o) == "OggS" && b(o + 4) == 0) {
      val pageGranule = u64le(b, o + 6)
      val nsegs = b(o + 26) & 0xff
      if (o + 27 + nsegs > b.length) return finishOgg(fmt, ch, rate, preskip, granule)
      var payload = 0
      var i = 0
      while (i < nsegs) { payload += b(o + 27 + i) & 0xff; i += 1 }
      val dataOff = o + 27 + nsegs
      if (first) {
        // BOS identification packet dispatches the codec
        if (payload >= 30 && dataOff + 16 <= b.length &&
            b(dataOff) == 1 && tag(b, dataOff + 1) == "vorb" &&
            b(dataOff + 5) == 'i' && b(dataOff + 6) == 's') {
          fmt = "vorbis"
          ch = b(dataOff + 11) & 0xff
          val r = u32le(b, dataOff + 12)
          if (r > Int.MaxValue) return null
          rate = r.toInt
        } else if (payload >= 19 && dataOff + 16 <= b.length &&
            tag(b, dataOff) == "Opus" && tag(b, dataOff + 4) == "Head") {
          fmt = "opus"
          ch = b(dataOff + 9) & 0xff
          preskip = u16le(b, dataOff + 10)
          rate = 48000 // Opus decodes at 48 kHz; the stored rate is advisory
        } else return null
        first = false
      }
      if (dataOff + payload > b.length)
        return finishOgg(fmt, ch, rate, preskip, granule) // truncated page
      // -1 granule = no packet finishes on this page (RFC 3533 §6)
      if (pageGranule != -1L) granule = pageGranule
      o = dataOff + payload
    }
    finishOgg(fmt, ch, rate, preskip, granule)
  }

  private def finishOgg(fmt: String, ch: Int, rate: Int, preskip: Int,
      granule: Long): InternalRow = {
    if (fmt == null) return null
    val frames =
      if (fmt == "opus") math.max(granule - preskip, 0L) else granule
    row(fmt, ch, rate, 16, frames)
  }

  private def parseWav(b: Array[Byte]): InternalRow = {
    var o = 12
    var ch = 0; var rate = 0L; var blockAlign = 0; var bits = 0
    var haveFmt = false; var dataSize = -1L
    while (o + 8 <= b.length && (!haveFmt || dataSize < 0)) {
      val id = tag(b, o)
      val size = u32le(b, o + 4)
      if (id == "fmt " && size >= 16 && o + 8 + 16 <= b.length) {
        ch = u16le(b, o + 10)
        rate = u32le(b, o + 12)
        blockAlign = u16le(b, o + 20)
        bits = u16le(b, o + 22)
        haveFmt = true
      } else if (id == "data") {
        dataSize = size
      }
      // chunks are word-aligned: odd sizes carry one pad byte
      val step = size + (size & 1L)
      if (step < 0 || step > Int.MaxValue) return null
      o += 8 + step.toInt
    }
    if (!haveFmt || rate > Int.MaxValue) return null
    val frames =
      if (dataSize >= 0 && blockAlign > 0) dataSize / blockAlign else 0L
    row("wav", ch, rate.toInt, bits, frames)
  }

  private def parseFlac(b: Array[Byte]): InternalRow = {
    // metadata block header at 4: 1 byte (last-flag | type), 3-byte BE
    // length; STREAMINFO is type 0 with a 34-byte body
    if ((b(4) & 0x7f) != 0) return null
    val len = ((b(5) & 0xff) << 16) | ((b(6) & 0xff) << 8) | (b(7) & 0xff)
    if (len < 34 || b.length < 8 + 34) return null
    val o = 8 + 10 // skip min/max blocksize (2+2) and min/max framesize (3+3)
    val rate = ((b(o) & 0xff) << 12) | ((b(o + 1) & 0xff) << 4) |
      ((b(o + 2) & 0xff) >> 4)
    val ch = ((b(o + 2) >> 1) & 0x7) + 1
    val bits = (((b(o + 2) & 0x1) << 4) | ((b(o + 3) & 0xff) >> 4)) + 1
    val frames = ((b(o + 3) & 0xfL) << 32) | ((b(o + 4) & 0xffL) << 24) |
      ((b(o + 5) & 0xffL) << 16) | ((b(o + 6) & 0xffL) << 8) | (b(o + 7) & 0xffL)
    row("flac", ch, rate, bits, frames)
  }
}
