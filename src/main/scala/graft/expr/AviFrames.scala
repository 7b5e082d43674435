package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Video FRAME extraction for MJPEG-class AVI files — the honest
  * zero-codec slice of the video content tier. AVI is a RIFF
  * container (the WAV walk one level deeper): frames live as `##dc` /
  * `##db` chunks inside `LIST movi` (optionally grouped one level
  * down in `LIST rec ` — both handled). Motion-JPEG stores each
  * frame as a COMPLETE ordinary JPEG, so once extracted the existing
  * [[PixelStats]] / [[PixelGridSig]] tiers decode real content —
  * per-frame stats, per-frame perceptual signatures, frame-level
  * near-dup — with no new codec. Inter-frame codecs (H.264 etc.)
  * genuinely need a decoder and stay behind the
  * `Multimodal.MediaDecoder` seam; their `##dc` payloads still
  * extract here (the chunk walk is codec-agnostic), they just won't
  * pixel-decode downstream.
  *
  * Only stream-0 video chunks (`00dc`/`00db`) are frames: AVI
  * interleaves audio (`01wb`) and index chunks alongside them, and
  * the first video stream is stream 00 by construction in the
  * `hdrl` stream order (the standard MJPEG layout). `hdrl` itself is
  * NOT required — a header-damaged file's frames still extract
  * (triage is about content, not strict validation).
  *
  * Bomb guards mirror [[PixelStats]]: at most `maxFrames` frames are
  * returned (the rest of the movi list is ignored, not an error —
  * callers sample anyway), no single frame above 8 MiB, 64 MiB total
  * extracted; a declared chunk size running past the buffer ends the
  * walk with the frames already collected (truncated tail ==
  * truncated file, same trade as the ragged WAV tail). Word-aligned
  * padding bytes after odd-sized chunks are skipped per RIFF.
  *
  * Not a RIFF/'AVI ' file, or no video frames found → NULL, never an
  * error. Scale shape: pure per-row projection; the caller explodes
  * the result and the container blob projects away immediately.
  */
case class AviFrames(child: Expression, maxFrames: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${AviFrames.FunctionName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxFrames < 1 || maxFrames > 4096)
      TypeCheckResult.TypeCheckFailure(
        s"${AviFrames.FunctionName} maxFrames must be in [1, 4096]: $maxFrames")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    AviFrames.frames(v.asInstanceOf[Array[Byte]], maxFrames)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.AviFrames.frames($c, $maxFrames);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): AviFrames =
    copy(child = newChild)
}

object AviFrames {
  val FunctionName = "graft_avi_frames"

  val MaxFrameBytes: Int = 8 << 20   // 8 MiB per frame
  val MaxTotalBytes: Long = 64L << 20 // 64 MiB per container

  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** bytes → array of frame blobs, or null. Static for codegen. */
  def frames(b: Array[Byte], maxFrames: Int): GenericArrayData = {
    if (b == null || b.length < 12) return null
    if (!(tag(b, 0) == "RIFF" && tag(b, 8) == "AVI ")) return null
    val out = new java.util.ArrayList[Array[Byte]]()
    var total = 0L

    // walk one chunk run [from, until); depth 0 = top level, 1 =
    // inside movi (frames at this level), 2 = inside a rec group.
    // Depth is EXPLICITLY bounded at 2: per the RIFF/AVI spec rec
    // groups never nest, so a `LIST rec ` seen at depth 2 is skipped
    // as an opaque chunk rather than recursed — a crafted AVI of
    // nested 12-byte rec headers would otherwise drive recursion
    // ~len/12 deep (millions under the 64 MiB cap) and
    // StackOverflowError past the NULL-never-error contract.
    // Returns false when the walk must stop (caps hit or truncated
    // declared size).
    def walk(from: Int, until: Int, depth: Int): Boolean = {
      var o = from
      while (o + 8 <= until && out.size < maxFrames) {
        val id = tag(b, o)
        val size = u32le(b, o + 4)
        if (size < 0 || o + 8 + size > until) return false // truncated
        val dataOff = o + 8
        if (id == "LIST" && size >= 4) {
          val listType = tag(b, dataOff)
          if (listType == "movi" && depth == 0) {
            if (!walk(dataOff + 4, dataOff + size.toInt, depth = 1))
              return false
          } else if (listType == "rec " && depth == 1) {
            if (!walk(dataOff + 4, dataOff + size.toInt, depth = 2))
              return false
          }
          // other lists (hdrl, odml, …) and rec-within-rec (spec
          // violation) carry no frames — skipped
        } else if (depth >= 1 && (id == "00dc" || id == "00db")) {
          if (size > MaxFrameBytes) return false // bomb guard
          if (total + size > MaxTotalBytes) return false
          val f = new Array[Byte](size.toInt)
          System.arraycopy(b, dataOff, f, 0, size.toInt)
          out.add(f)
          total += size
        }
        o = dataOff + size.toInt + (size & 1L).toInt // word-aligned pad
      }
      true
    }
    walk(12, b.length, depth = 0)
    if (out.isEmpty) return null // an AVI with no stream-0 video frames
    val arr = new Array[Any](out.size)
    var i = 0
    while (i < out.size) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }
}
