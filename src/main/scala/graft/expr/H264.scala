package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Clean-room H.264/AVC Annex B parsing and the exactly-decodable
  * I_PCM slice of the format — the real-video sibling of the MP3
  * registry honesty line. Reference scope: the reference pipeline
  * stores video attachments as opaque bytes; decoding is this
  * engine's extension tier.
  *
  * What is ALGORITHMIC in H.264 — and therefore shipped in full —
  * is the stream layer: Annex B start codes, emulation-prevention
  * unescaping, Exp-Golomb entropy for every header field, SPS
  * (incl. high-profile chroma/bit-depth/scaling-list skipping and
  * frame cropping arithmetic), PPS, and slice headers. What is
  * TABULATED is the residual entropy layer (CAVLC's coeff_token
  * VLC tables; CABAC's context tables) — spec data below this
  * build's clean-room shipping bar, exactly like the unshipped MP3
  * linbits tables. The one macroblock type that carries NO entropy
  * coding is I_PCM: raw byte-aligned samples, decodable exactly by
  * construction. So:
  *
  *  - METADATA (dims from SPS with cropping, slice counts) ships
  *    for every H.264 elementary stream;
  *  - PIXELS ship for IDR frames whose macroblocks are all I_PCM
  *    (CAVLC mode, 4:2:0, 8-bit, frame-coded, single slice) —
  *    bit-exact, oracle-gated;
  *  - everything else triages to NULL at its frame position (the
  *    [[graft.operators.Multimodal.VideoDecoder]] contract keeps
  *    positions so temporal windows don't shift) — never a wrong
  *    decode.
  *
  * Real-world I_PCM streams are rare (the type exists for encoder
  * worst-case fallback), so the honest value here is the METADATA
  * walk over wild video plus a conformance-exact seam the
  * perceptual tier already composes with ([[H264Frames]] slots into
  * `videoFrames`' dispatch, so near-dup/stats run on whatever
  * decodes). Extending pixels to entropy-coded intra frames means
  * shipping the CAVLC tables — the registry drop-in line documents
  * where.
  */
private[graft] object H264 {

  /** MSB-first bit reader over an unescaped RBSP. */
  private final class Br(val b: Array[Byte]) {
    var pos = 0
    val end: Int = b.length * 8
    var overrun = false
    def bit(): Int = {
      val p = pos
      pos += 1
      if (p >= end) { overrun = true; 0 }
      else (b(p >> 3) >> (7 - (p & 7))) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    def ue(): Int = {
      var lz = 0
      while (bit() == 0 && !overrun && lz < 31) lz += 1
      if (lz >= 31 || overrun) { overrun = true; return -1 }
      ((1 << lz) | bits(lz)) - 1
    }
    def se(): Int = {
      val k = ue()
      if (k < 0) 0
      else if ((k & 1) == 1) (k + 1) / 2
      else -(k / 2)
    }
    def byteAlign(): Unit = while ((pos & 7) != 0) bit()
    def bytesLeft: Int = (end - pos) / 8
    def readByte(): Int = bits(8)
  }

  /** Strip emulation-prevention bytes (00 00 03 -> 00 00). */
  private def unescape(b: Array[Byte], from: Int, to: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(to - from)
    var zeros = 0
    var i = from
    while (i < to) {
      val v = b(i) & 0xff
      if (zeros >= 2 && v == 3) zeros = 0 // drop the escape byte
      else {
        out.write(v)
        zeros = if (v == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  /** NAL units as (type, rbspStart, rbspEnd) offsets into `b`
    * (rbsp range still escaped; start code + header excluded).
    */
  private def nals(b: Array[Byte], max: Int): Seq[(Int, Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    var i = 0
    // find start codes 00 00 01 (with optional extra leading zeros)
    def nextStart(from: Int): Int = {
      var j = from
      while (j + 3 <= b.length) {
        if (b(j) == 0 && b(j + 1) == 0 && b(j + 2) == 1) return j + 3
        j += 1
      }
      -1
    }
    i = nextStart(0)
    while (i >= 0 && i < b.length && out.size < max) {
      val hdr = b(i) & 0xff
      if ((hdr & 0x80) != 0) return out.toSeq // forbidden bit: corrupt
      val nalType = hdr & 0x1f
      val nxt = nextStart(i + 1)
      val end0 = if (nxt < 0) b.length else nxt - 3
      // trim the trailing zeros that belong to the next start code
      var end = end0
      while (end > i + 1 && b(end - 1) == 0 && nxt >= 0) end -= 1
      out += ((nalType, i, math.max(end, i + 1)))
      i = nxt
    }
    out.toSeq
  }

  private final case class Sps(profile: Int, chroma: Int,
      bitDepth: Int, log2MaxFrameNum: Int, pocType: Int,
      log2MaxPoc: Int, widthMbs: Int, heightMapUnits: Int,
      frameMbsOnly: Boolean, cropL: Int, cropR: Int, cropT: Int,
      cropB: Int) {
    def width: Int = {
      val cropX = if (chroma == 0) 1 else if (chroma == 3) 1 else 2
      widthMbs * 16 - (cropL + cropR) * cropX
    }
    def height: Int = {
      val subH = if (chroma == 1) 2 else 1
      val cropY = (if (chroma == 0) 1 else subH) *
        (if (frameMbsOnly) 1 else 2)
      (if (frameMbsOnly) 1 else 2) * heightMapUnits * 16 -
        (cropT + cropB) * cropY
    }
  }

  private val HighProfiles =
    Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)

  private def parseSps(rbsp: Array[Byte]): Sps = {
    val r = new Br(rbsp)
    val profile = r.bits(8)
    r.bits(8) // constraint flags + reserved
    r.bits(8) // level
    r.ue() // sps id
    var chroma = 1
    var bitDepth = 8
    if (HighProfiles.contains(profile)) {
      chroma = r.ue()
      if (chroma == 3) r.bit() // separate_colour_plane
      bitDepth = 8 + r.ue()
      r.ue() // bit_depth_chroma
      r.bit() // qpprime
      if (r.bit() == 1) { // scaling matrices present: skip the lists
        val n = if (chroma == 3) 12 else 8
        var i = 0
        while (i < n) {
          if (r.bit() == 1) {
            val size = if (i < 6) 16 else 64
            var lastScale = 8
            var nextScale = 8
            var j = 0
            while (j < size) {
              if (nextScale != 0) {
                val delta = r.se()
                nextScale = (lastScale + delta + 256) % 256
              }
              lastScale = if (nextScale == 0) lastScale else nextScale
              j += 1
            }
          }
          i += 1
        }
      }
    }
    val log2Fn = r.ue() + 4
    val pocType = r.ue()
    var log2Poc = 4
    if (pocType == 0) log2Poc = r.ue() + 4
    else if (pocType == 1) {
      r.bit(); r.se(); r.se()
      val n = r.ue()
      var i = 0
      while (i < n && !r.overrun) { r.se(); i += 1 }
    }
    r.ue() // max_num_ref_frames
    r.bit() // gaps allowed
    val wMbs = r.ue() + 1
    val hMap = r.ue() + 1
    val fmo = r.bit() == 1
    if (!fmo) r.bit() // mb_adaptive
    r.bit() // direct_8x8
    var cl = 0; var cr = 0; var ct = 0; var cb = 0
    if (r.bit() == 1) { cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue() }
    if (r.overrun || log2Fn > 16 || log2Poc > 16 || wMbs < 1 ||
        hMap < 1 || wMbs > 1024 || hMap > 1024 || chroma < 0 ||
        chroma > 3 || cl < 0 || cr < 0 || ct < 0 || cb < 0) return null
    Sps(profile, chroma, bitDepth, log2Fn, pocType, log2Poc, wMbs,
      hMap, fmo, cl, cr, ct, cb)
  }

  private final case class Pps(cabac: Boolean, bottomFieldOrder: Boolean,
      sliceGroups: Int, deblockControl: Boolean, redundantPresent: Boolean)

  private def parsePps(rbsp: Array[Byte]): Pps = {
    val r = new Br(rbsp)
    r.ue(); r.ue() // pps id, sps id
    val cabac = r.bit() == 1
    val bottom = r.bit() == 1
    val groups = r.ue() + 1
    if (groups > 1) return Pps(cabac, bottom, groups, false, false)
    r.ue(); r.ue() // num_ref_idx defaults
    r.bit(); r.bits(2) // weighted pred flag + idc
    r.se(); r.se(); r.se() // init qp, qs, chroma offset
    val deblock = r.bit() == 1
    r.bit() // constrained intra
    val redundant = r.bit() == 1
    if (r.overrun) return null
    Pps(cabac, bottom, groups, deblock, redundant)
  }

  /** Decode one IDR slice whose macroblocks are all I_PCM. Returns
    * the PPM frame, or null (the triage arm: CABAC, multi-group,
    * non-frame coding, chroma != 4:2:0, depth != 8, a first_mb != 0
    * slice, any entropy-coded macroblock, truncation).
    */
  private def decodeIpcmSlice(sps: Sps, pps: Pps, nalRefIdc: Int,
      rbsp: Array[Byte]): Array[Byte] = {
    if (sps == null || pps == null) return null
    if (pps.cabac || pps.sliceGroups != 1) return null
    if (!sps.frameMbsOnly || sps.chroma != 1 || sps.bitDepth != 8) return null
    val wMbs = sps.widthMbs
    val hMbs = sps.heightMapUnits
    if (wMbs.toLong * hMbs * 384 > PixelStats.MaxRawBytes) return null
    val r = new Br(rbsp)
    if (r.ue() != 0) return null // first_mb_in_slice: single slice only
    val sliceType = r.ue()
    if (sliceType != 2 && sliceType != 7) return null // I slices only
    r.ue() // pps id
    r.bits(sps.log2MaxFrameNum) // frame_num
    r.ue() // idr_pic_id
    if (sps.pocType == 0) {
      r.bits(sps.log2MaxPoc)
      if (pps.bottomFieldOrder) r.se()
    }
    if (pps.redundantPresent) r.ue()
    if (nalRefIdc != 0) { r.bit(); r.bit() } // IDR ref pic marking
    r.se() // slice_qp_delta
    if (pps.deblockControl) {
      val disable = r.ue()
      if (disable != 1) { r.se(); r.se() }
    }
    // macroblock layer: every MB must be I_PCM (ue 25 in I slices)
    val y = new Array[Byte](wMbs * 16 * hMbs * 16)
    val cb = new Array[Byte](wMbs * 8 * hMbs * 8)
    val cr = new Array[Byte](wMbs * 8 * hMbs * 8)
    var mb = 0
    val nMbs = wMbs * hMbs
    while (mb < nMbs) {
      if (r.ue() != 25) return null // entropy-coded MB: triage
      r.byteAlign() // pcm_alignment_zero_bit
      if (r.bytesLeft < 384) return null
      val mbx = mb % wMbs
      val mby = mb / wMbs
      var i = 0
      while (i < 256) {
        y((mby * 16 + i / 16) * (wMbs * 16) + mbx * 16 + i % 16) =
          r.readByte().toByte
        i += 1
      }
      i = 0
      while (i < 64) {
        cb((mby * 8 + i / 8) * (wMbs * 8) + mbx * 8 + i % 8) =
          r.readByte().toByte
        i += 1
      }
      i = 0
      while (i < 64) {
        cr((mby * 8 + i / 8) * (wMbs * 8) + mbx * 8 + i % 8) =
          r.readByte().toByte
        i += 1
      }
      mb += 1
    }
    if (r.overrun) return null
    // crop + BT.601 YCbCr → RGB (the JpegDecode convention), PPM out
    val w = sps.width
    val h = sps.height
    if (w <= 0 || h <= 0) return null
    val hdr = s"P6\n$w $h\n255\n".getBytes("ISO-8859-1")
    val out = new Array[Byte](hdr.length + w * h * 3)
    System.arraycopy(hdr, 0, out, 0, hdr.length)
    val x0 = sps.cropL * 2
    val y0 = sps.cropT * 2
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        val sy = yy + y0
        val sx = xx + x0
        val lum = y(sy * (wMbs * 16) + sx) & 0xff
        val u = (cb((sy / 2) * (wMbs * 8) + sx / 2) & 0xff) - 128
        val v = (cr((sy / 2) * (wMbs * 8) + sx / 2) & 0xff) - 128
        def clamp(q: Int) = if (q < 0) 0 else if (q > 255) 255 else q
        val rr = clamp(lum + ((91881 * v + 32768) >> 16))
        val gg = clamp(lum - ((22554 * u + 46802 * v + 32768) >> 16))
        val bb = clamp(lum + ((116130 * u + 32768) >> 16))
        val o = hdr.length + (yy * w + xx) * 3
        out(o) = rr.toByte; out(o + 1) = gg.toByte; out(o + 2) = bb.toByte
        xx += 1
      }
      yy += 1
    }
    out
  }

  private val MaxNals = 4096

  /** Elementary-stream metadata: dims from the first SPS (with
    * cropping), slice-NAL count as n_frames. Null if the stream does
    * not LEAD with an SPS (the raw-.h264 convention — and the
    * anti-false-positive rule for zero-leading binaries).
    */
  def meta(b: Array[Byte]): (Int, Int, Int) = {
    if (b == null || b.length < 8) return null
    val ns = nals(b, MaxNals)
    if (ns.isEmpty || ns.head._1 != 7) return null
    val sps = parseSps(unescape(b, ns.head._2 + 1, ns.head._3))
    if (sps == null) return null
    val frames = ns.count(n => n._1 == 1 || n._1 == 5)
    (sps.width, sps.height, frames)
  }

  /** Decode every coded-slice NAL position: IDR all-I_PCM frames
    * become PPM blobs, everything else a null at its position. Null
    * overall when the stream isn't an SPS-led Annex B stream or has
    * no slices.
    */
  def frames(b: Array[Byte], maxFrames: Int): Array[Array[Byte]] = {
    if (b == null || b.length < 8) return null
    val ns = nals(b, MaxNals)
    if (ns.isEmpty || ns.head._1 != 7) return null
    var sps: Sps = null
    var pps: Pps = null
    val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    for ((t, from, to) <- ns if out.size < maxFrames) t match {
      case 7 => sps = parseSps(unescape(b, from + 1, to))
      case 8 => pps = parsePps(unescape(b, from + 1, to))
      case 5 =>
        val refIdc = (b(from) >> 5) & 0x3
        out += decodeIpcmSlice(sps, pps, refIdc,
          unescape(b, from + 1, to))
      case 1 => out += null // inter-coded frame: position kept, triaged
      case _ => ()
    }
    if (out.isEmpty) null else out.toArray
  }
}

/** `graft_h264_frames(content, maxFrames)` — Annex B H.264 bytes →
  * array of PPM frame blobs (null elements at positions that don't
  * decode, per the VideoDecoder position contract). Slots into
  * [[graft.operators.Multimodal.videoFrames]]'s coalesce dispatch
  * next to AVI/MP4/GIF.
  */
case class H264Frames(child: Expression, maxFrames: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(BinaryType, containsNull = true)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${H264Frames.FunctionName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxFrames < 1 || maxFrames > 4096)
      TypeCheckResult.TypeCheckFailure(
        s"${H264Frames.FunctionName} maxFrames must be in [1, 4096]: $maxFrames")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    H264Frames.framesEval(v.asInstanceOf[Array[Byte]], maxFrames)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.H264Frames.framesEval($c, $maxFrames);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): H264Frames =
    copy(child = newChild)
}

object H264Frames {
  val FunctionName = "graft_h264_frames"

  /** Named framesEval, NOT eval: the companion CLASS inherits
    * Expression.eval(InternalRow) and scalac suppresses the static
    * forwarder for any same-named object member — generated code
    * calling `H264Frames.eval(bytes, n)` fails janino compilation
    * and the stage silently drops to interpreted evaluation (the
    * LangIdWide.evalLang lesson, re-learned at sf0.01 verify).
    */
  def framesEval(b: Array[Byte], maxFrames: Int): GenericArrayData = {
    val fs = H264.frames(b, maxFrames)
    if (fs == null) null else new GenericArrayData(fs.asInstanceOf[Array[Any]])
  }
}
