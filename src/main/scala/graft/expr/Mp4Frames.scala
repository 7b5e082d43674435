package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Video FRAME extraction for MP4/MOV (ISO BMFF) containers —
  * [[AviFrames]]'s sibling for the container that actually dominates
  * real video corpora. ISO/IEC 14496-12 stores frame payloads as
  * SAMPLES addressed by three `stbl` tables of the video track:
  * `stsz` (per-sample sizes, or one fixed size), `stco`/`co64`
  * (absolute chunk offsets, 32/64-bit), and `stsc` (which chunks hold
  * how many samples, as first-chunk runs). Sample j of chunk c starts
  * at chunkOffset(c) + Σ sizes of the chunk's earlier samples — pure
  * table arithmetic, no codec. The video track is the first `trak`
  * whose `mdia/hdlr` handler is `vide` (audio tracks are `soun`);
  * `tkhd` dims are NOT used — a 0×0 or damaged tkhd still extracts
  * (triage is about content, not strict validation), matching
  * AviFrames' header-optional stance.
  *
  * Like AviFrames, the walk is codec-agnostic: MJPEG samples are
  * complete JPEGs and pixel-decode downstream through the existing
  * [[PixelStats]]/[[PixelGridSig]] tiers; inter-frame codec payloads
  * (H.264 etc.) extract but NULL-stat downstream — the honest
  * boundary, since they genuinely need an external decoder
  * (the `Multimodal.MediaDecoder` seam).
  *
  * Bomb guards mirror [[AviFrames]]: at most `maxFrames` samples, no
  * sample above 8 MiB, 64 MiB total; a sample range running past the
  * buffer ends the walk with the frames already collected (truncated
  * mdat == truncated file). Table sanity is checked against the BOX
  * sizes (a crafted entry count cannot drive reads past its table),
  * and chunk offsets are absolute file positions validated per read.
  *
  * Not BMFF (no `ftyp`), no `vide` track, unusable tables, or zero
  * samples → NULL, never an error. Scale shape: pure per-row
  * projection; the caller explodes the result and the container blob
  * projects away immediately.
  *
  * Reference behavior: the reference pipeline has no video tier at
  * all; this extends the multimodal triage surface a training-data
  * pipeline needs (SURVEY.md training-data addenda).
  */
case class Mp4Frames(child: Expression, maxFrames: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${Mp4Frames.FunctionName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxFrames < 1 || maxFrames > 4096)
      TypeCheckResult.TypeCheckFailure(
        s"${Mp4Frames.FunctionName} maxFrames must be in [1, 4096]: $maxFrames")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    Mp4Frames.frames(v.asInstanceOf[Array[Byte]], maxFrames)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.Mp4Frames.frames($c, $maxFrames);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Mp4Frames =
    copy(child = newChild)
}

object Mp4Frames {
  val FunctionName = "graft_mp4_frames"

  val MaxFrameBytes: Int = 8 << 20   // 8 MiB per sample
  val MaxTotalBytes: Long = 64L << 20 // 64 MiB per container

  private def u32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def u64(b: Array[Byte], o: Int): Long =
    (u32(b, o) << 32) | u32(b, o + 4)

  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** Walk sibling boxes in [from, to); return (payloadStart,
    * payloadEnd) of the first box named `name` at or after `from`, or
    * null. Same contract as VideoMeta.findBox (64-bit and
    * to-end-of-enclosing sizes handled).
    *
    * Damage triage (header-optional stance): a size field smaller
    * than its own header is one corrupt box, not proof the siblings
    * are gone — skip the header and rescan rather than abort the
    * walk. A size running past the enclosure is clamped to it: if
    * that box IS the target the truncated payload is returned (the
    * stbl table sanity checks downstream decide whether it's
    * usable), and the walk ends there either way since the declared
    * size claims everything that remains.
    */
  private def findBox(b: Array[Byte], from: Int, to: Int,
      name: String): Array[Int] = {
    var o = from
    while (o + 8 <= to) {
      var size = u32(b, o)
      var hdr = 8
      if (size == 1 && o + 16 <= to) { size = u64(b, o + 8); hdr = 16 }
      else if (size == 0) size = (to - o).toLong
      if (size < hdr) {
        o += hdr // corrupt size: skip this header, keep scanning
      } else {
        val end = if (size > to - o) to else o + size.toInt
        if (tag(b, o + 4) == name) return Array(o + hdr, end)
        o = end
      }
    }
    null
  }

  /** The `stbl` of the first trak in [from, to) whose hdlr is `vide`
    * AND has a usable minf/stbl; advances across non-video traks and
    * across DAMAGED video traks (a vide trak missing its minf/stbl is
    * one damaged track, not a verdict on the file — a later intact
    * video trak still extracts, per the header-optional triage
    * stance). Returns null when none.
    */
  private def videoStbl(b: Array[Byte], moovFrom: Int, moovTo: Int): Array[Int] = {
    var o = moovFrom
    while (o < moovTo) {
      val trak = findBox(b, o, moovTo, "trak")
      if (trak == null) return null
      val mdia = findBox(b, trak(0), trak(1), "mdia")
      if (mdia != null) {
        val hdlr = findBox(b, mdia(0), mdia(1), "hdlr")
        // handler_type at payload +8 (after version/flags + pre_defined)
        if (hdlr != null && hdlr(1) - hdlr(0) >= 12 &&
            tag(b, hdlr(0) + 8) == "vide") {
          val minf = findBox(b, mdia(0), mdia(1), "minf")
          val stbl =
            if (minf == null) null else findBox(b, minf(0), minf(1), "stbl")
          if (stbl != null) return stbl
        }
      }
      o = trak(1)
    }
    null
  }

  /** bytes → array of sample blobs of the first video track, or null.
    * Static for codegen.
    */
  def frames(b: Array[Byte], maxFrames: Int): GenericArrayData = {
    if (b == null || b.length < 16) return null
    if (tag(b, 4) != "ftyp") return null
    val moov = findBox(b, 0, b.length, "moov")
    if (moov == null) return null
    val stbl = videoStbl(b, moov(0), moov(1))
    if (stbl == null) return null

    // ---- stsz: fixed sample_size or per-sample entry table
    val stsz = findBox(b, stbl(0), stbl(1), "stsz")
    if (stsz == null || stsz(1) - stsz(0) < 12) return null
    val fixedSize = u32(b, stsz(0) + 4)
    val sampleCount0 = u32(b, stsz(0) + 8)
    if (sampleCount0 <= 0 || sampleCount0 > Int.MaxValue) return null
    // entry table must fit its box when sizes vary
    if (fixedSize == 0 && stsz(1) - stsz(0) - 12 < sampleCount0 * 4) return null
    val sampleCount = math.min(sampleCount0, maxFrames.toLong).toInt
    def sampleSize(i: Int): Long =
      if (fixedSize != 0) fixedSize else u32(b, stsz(0) + 12 + 4 * i)

    // ---- stco / co64: absolute chunk offsets
    val stco = findBox(b, stbl(0), stbl(1), "stco")
    val co64 = if (stco == null) findBox(b, stbl(0), stbl(1), "co64") else null
    val (coBox, coWidth) =
      if (stco != null) (stco, 4) else if (co64 != null) (co64, 8) else return null
    if (coBox(1) - coBox(0) < 8) return null
    val chunkCount = u32(b, coBox(0) + 4)
    if (chunkCount <= 0 || coBox(1) - coBox(0) - 8 < chunkCount * coWidth)
      return null
    def chunkOffset(c: Int): Long = // c is 0-based
      if (coWidth == 4) u32(b, coBox(0) + 8 + 4 * c)
      else u64(b, coBox(0) + 8 + 8 * c)

    // ---- stsc: (first_chunk, samples_per_chunk) runs, 1-based chunks
    val stsc = findBox(b, stbl(0), stbl(1), "stsc")
    if (stsc == null || stsc(1) - stsc(0) < 8) return null
    val stscCount = u32(b, stsc(0) + 4)
    if (stscCount <= 0 || stsc(1) - stsc(0) - 8 < stscCount * 12) return null
    def stscFirstChunk(e: Int): Long = u32(b, stsc(0) + 8 + 12 * e)
    def stscPerChunk(e: Int): Long = u32(b, stsc(0) + 8 + 12 * e + 4)

    val out = new java.util.ArrayList[Array[Byte]]()
    var total = 0L
    var sample = 0            // global sample index
    var entry = 0             // current stsc run
    var chunk = 0             // 0-based chunk index
    var ok = true
    while (ok && sample < sampleCount && chunk < chunkCount) {
      // advance the stsc run when the NEXT run starts at this chunk
      while (entry + 1 < stscCount &&
          stscFirstChunk(entry + 1) <= chunk + 1) entry += 1
      val perChunk = stscPerChunk(entry)
      if (perChunk <= 0 || perChunk > sampleCount0) { ok = false }
      else {
        var off = chunkOffset(chunk)
        var j = 0L
        while (ok && j < perChunk && sample < sampleCount) {
          val size = sampleSize(sample)
          if (size < 0 || size > MaxFrameBytes) ok = false // bomb guard
          else if (total + size > MaxTotalBytes) ok = false
          else if (off < 0 || off + size > b.length) ok = false // truncated
          else {
            val f = new Array[Byte](size.toInt)
            System.arraycopy(b, off.toInt, f, 0, size.toInt)
            out.add(f)
            total += size
            off += size
            sample += 1
          }
          j += 1
        }
        chunk += 1
      }
    }
    if (out.isEmpty) return null
    val arr = new Array[Any](out.size)
    var i = 0
    while (i < out.size) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }
}
