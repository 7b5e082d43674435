package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native video-container decode — completes the [[ImageMeta]] /
  * [[AudioMeta]] triad: (format, width, height, duration_ms,
  * timescale) from a `binary` column, all three video containers the
  * frame tier extracts:
  *  - MP4/MOV (ISO BMFF): box walk to `moov`, `mvhd` (timescale +
  *    duration, v0/v1) and the first `trak`/`tkhd` with nonzero
  *    16.16 canvas dims (audio tracks carry 0×0);
  *  - AVI: `LIST hdrl` → `avih` (µs/frame, total frames, dims);
  *    timescale reports the integer frame rate;
  *  - animated GIF: logical-screen dims, frame count and summed
  *    graphic-control delays by a block walk that skips LZW
  *    sub-blocks without decoding (timescale 100 — centiseconds).
  *
  * Payloads are never touched, so per-row cost is bounded by the
  * header region. duration_ms is integer (long) arithmetic —
  * deterministic, oracle-mirrorable. Truncated/garbage/non-video
  * bytes → NULL (the `meta IS NULL` triage contract).
  */
case class VideoMeta(child: Expression) extends UnaryExpression {

  override def dataType: DataType = VideoMeta.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"${VideoMeta.FunctionName} expects binary, got ${other.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    VideoMeta.parse(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.VideoMeta.parse($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VideoMeta =
    copy(child = newChild)
}

object VideoMeta {
  val FunctionName = "graft_video_meta"

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("timescale", IntegerType, nullable = false)))

  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def u64(b: Array[Byte], o: Int): Long = (u32(b, o) << 32) | u32(b, o + 4)

  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Walk sibling boxes in [from, to); return (payloadStart,
    * payloadEnd) of the first box named `name`, or null.
    */
  private def findBox(b: Array[Byte], from: Int, to: Int,
      name: String): Array[Int] = {
    var o = from
    while (o + 8 <= to) {
      var size = u32(b, o)
      var hdr = 8
      if (size == 1 && o + 16 <= to) { size = u64(b, o + 8); hdr = 16 }
      else if (size == 0) size = (to - o).toLong
      if (size < hdr || size > to - o) return null
      if (tag(b, o + 4) == name) return Array(o + hdr, o + size.toInt)
      o += size.toInt
    }
    null
  }

  private def u16le(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** AVI: LIST hdrl → avih (MainAVIHeader): µs/frame, total frames,
    * dims. duration_ms = frames·µsPerFrame/1000; timescale reports
    * the integer frame rate (10⁶/µsPerFrame) — the "units per second"
    * reading of the schema field for a frame-addressed container.
    */
  private def parseAvi(b: Array[Byte]): InternalRow = {
    var o = 12
    while (o + 8 <= b.length) {
      val id = tag(b, o)
      val size = u32le(b, o + 4)
      if (size < 0 || o + 8 + size > b.length) return null
      if (id == "LIST" && size >= 4 && tag(b, o + 8) == "hdrl") {
        var p = o + 12
        val end = o + 8 + size.toInt
        while (p + 8 <= end) {
          val cid = tag(b, p)
          val csz = u32le(b, p + 4)
          if (csz < 0 || p + 8 + csz > b.length) return null
          if (cid == "avih" && csz >= 40) {
            val usPerFrame = u32le(b, p + 8)
            val totalFrames = u32le(b, p + 8 + 16)
            val w = u32le(b, p + 8 + 32)
            val h = u32le(b, p + 8 + 36)
            if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue ||
                usPerFrame <= 0) return null
            val fps = 1000000L / usPerFrame
            if (fps <= 0 || fps > Int.MaxValue) return null
            return InternalRow(UTF8String.fromString("avi"),
              w.toInt, h.toInt, totalFrames * usPerFrame / 1000, fps.toInt)
          }
          p += 8 + csz.toInt + (csz & 1L).toInt
        }
        return null
      }
      o += 8 + size.toInt + (size & 1L).toInt
    }
    null
  }

  /** GIF: logical-screen dims; frames + duration by walking blocks
    * (image descriptors counted, graphic-control delays summed —
    * centiseconds, so duration_ms = Σdelay·10 and timescale = 100).
    * LZW payloads are skipped sub-block by sub-block, never decoded.
    * A frameless GIF → null; a static single frame → duration 0.
    */
  private def parseGif(b: Array[Byte]): InternalRow = {
    val w = u16le(b, 6)
    val h = u16le(b, 8)
    if (w <= 0 || h <= 0) return null
    var o = 13
    if ((b(10) & 0x80) != 0) o += 3 * (2 << (b(10) & 0x7))
    var frames = 0
    var delayCs = 0L
    def skipSubBlocks(p0: Int): Int = {
      var p = p0
      while (p < b.length) {
        val len = b(p) & 0xFF
        if (len == 0) return p + 1
        p += 1 + len
      }
      -1
    }
    var done = false
    while (!done && o < b.length) {
      (b(o) & 0xFF) match {
        case 0x3B => done = true
        case 0x21 =>
          if (o + 2 > b.length) done = true
          else {
            if ((b(o + 1) & 0xFF) == 0xF9 && o + 4 <= b.length &&
                (b(o + 2) & 0xFF) >= 4 && o + 5 <= b.length)
              delayCs += u16le(b, o + 4)
            val nxt = skipSubBlocks(o + 2)
            if (nxt < 0) done = true else o = nxt
          }
        case 0x2C =>
          if (o + 10 > b.length) done = true
          else {
            frames += 1
            var p = o + 10
            if ((b(o + 9) & 0x80) != 0) p += 3 * (2 << (b(o + 9) & 0x7))
            p += 1 // LZW minimum code size
            val nxt = if (p <= b.length) skipSubBlocks(p) else -1
            if (nxt < 0) done = true else o = nxt
          }
        case _ => done = true
      }
    }
    if (frames == 0) return null
    InternalRow(UTF8String.fromString("gif"), w, h, delayCs * 10, 100)
  }

  /** Header parse; null for anything undecodable. Public + static so
    * generated code can call it (the ImageMeta pattern).
    */
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 16) return null
    if (tag(b, 0) == "RIFF" && tag(b, 8) == "AVI ") return parseAvi(b)
    if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a') return parseGif(b)
    // raw H.264 Annex B elementary stream: start code + an SPS NAL
    // (the raw-.h264 convention, and the anti-false-positive rule for
    // zero-leading binaries). Elementary streams carry no clock —
    // duration_ms/timescale report 0 and n/a; dims come from the SPS
    // with cropping applied; the real per-NAL frame walk is
    // graft_h264_frames' job.
    if (b(0) == 0 && b(1) == 0 &&
        ((b(2) == 1 && (b(3) & 0x9f) == 7) ||
         (b(2) == 0 && b(3) == 1 && (b(4) & 0x9f) == 7))) {
      val m = H264.meta(b)
      if (m == null) return null
      return InternalRow(UTF8String.fromString("h264"), m._1, m._2, 0L, 0)
    }
    // an ISO BMFF file leads with ftyp (mp4/mov brands); require it so
    // arbitrary binaries with a lucky moov string don't parse
    if (tag(b, 4) != "ftyp") return null
    val moov = findBox(b, 0, b.length, "moov")
    if (moov == null) return null
    val mvhd = findBox(b, moov(0), moov(1), "mvhd")
    if (mvhd == null || mvhd(1) - mvhd(0) < 20) return null
    val mv = mvhd(0)
    val ver = b(mv) & 0xff
    val (timescale, duration) =
      if (ver == 1) {
        if (mvhd(1) - mv < 32) return null
        (u32(b, mv + 20), u64(b, mv + 24))
      } else (u32(b, mv + 12), u32(b, mv + 16))
    if (timescale <= 0 || timescale > Int.MaxValue || duration < 0) return null
    // first trak whose tkhd carries nonzero 16.16 dims
    var w = 0; var h = 0
    var o = moov(0)
    while (o < moov(1) && (w == 0 || h == 0)) {
      val trak = findBox(b, o, moov(1), "trak")
      if (trak == null) o = moov(1)
      else {
        val tk = findBox(b, trak(0), trak(1), "tkhd")
        if (tk != null) {
          val base = tk(0)
          val tver = b(base) & 0xff
          // v0: width at +76, height at +80; v1 adds 12 bytes of
          // 64-bit times/duration before the layer block
          val wOff = if (tver == 1) 88 else 76
          if (tk(1) - base >= wOff + 8) {
            val tw = (u32(b, base + wOff) >> 16).toInt
            val th = (u32(b, base + wOff + 4) >> 16).toInt
            if (tw > 0 && th > 0) { w = tw; h = th }
          }
        }
        o = trak(1)
      }
    }
    if (w <= 0 || h <= 0) return null
    InternalRow(UTF8String.fromString("mp4"), w, h,
      duration * 1000L / timescale, timescale.toInt)
  }
}
