package graft.expr

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{BinaryType, DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Container-level TAG extraction over video blobs:
  * `graft_video_tags(content)` → `map<string,string>` — completing
  * the [[AudioTags]]/[[ImageTags]] trilogy for the video tier:
  *
  *  - '''MP4/MOV''' (ISO BMFF): box walk `moov → udta → meta →
  *    ilst`, the iTunes-style item list — each item box's type is
  *    the key, its child `data` box (type-indicator 1 = UTF-8 text)
  *    the value; the `©xxx` well-known items map to canonical names
  *    (`©nam` title, `©ART` artist, `©alb` album, `©day` date,
  *    `©gen` genre, `©cmt` comment, `©too` encoder); other
  *    four-char items key as their ASCII type; `meta` is a FullBox
  *    (4 version/flag bytes before children), 64-bit box sizes
  *    walked structurally;
  *  - '''AVI''' (RIFF): `LIST`/`INFO` sub-chunks exactly as the WAV
  *    form ([[AudioTags]]) — same ids (`INAM`, `IART`, `ISFT`, …),
  *    same word-alignment padding.
  *
  * Matroska/WebM tags (EBML) are out of scope — the binary EBML id
  * space is a different machine; MP4 + AVI cover the dominant crawl
  * containers whose metadata is flat-walkable.
  *
  * Triage contract shared with the siblings: unrecognized container
  * → NULL; recognized but tagless → empty map; malformed box stops
  * the walk with tags already collected. [[AudioTags.MaxTags]] /
  * [[AudioTags.MaxValueLen]] caps. Pure per-row projection.
  */
case class VideoTags(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MapType(StringType, StringType,
    valueContainsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${VideoTags.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(b: Any): Any =
    VideoTags.tagsMapData(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.MapData)
         |  graft.expr.VideoTags.tagsMapData($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      VideoTags = copy(child = newChild)
}

object VideoTags {
  val FunctionName = "graft_video_tags"

  def tagsMapData(b: Array[Byte]): ArrayBasedMapData = {
    val m = tags(b)
    if (m == null) null
    else {
      val keys = new Array[Any](m.size)
      val vals = new Array[Any](m.size)
      var i = 0
      m.foreach { case (k, v) =>
        keys(i) = UTF8String.fromString(k)
        vals(i) = UTF8String.fromString(v)
        i += 1
      }
      new ArrayBasedMapData(new GenericArrayData(keys),
        new GenericArrayData(vals))
    }
  }

  def tags(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
    if (b == null || b.length < 12) return null
    try {
      if (b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p')
        return mp4(b)
      if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          b(8) == 'A' && b(9) == 'V' && b(10) == 'I' && b(11) == ' ')
        return avi(b)
      null
    } catch { case _: Exception => null }
  }

  private def put(m: mutable.LinkedHashMap[String, String], k: String,
      v: String): Boolean = {
    if (m.size >= AudioTags.MaxTags) return false
    val vv = if (v.length > AudioTags.MaxValueLen)
      v.substring(0, AudioTags.MaxValueLen) else v
    if (k.nonEmpty && vv.nonEmpty && !m.contains(k)) m.put(k, vv)
    true
  }

  // ------------------------------------------------------------------
  // MP4 / ISO BMFF
  // ------------------------------------------------------------------

  private val ItemNames = Map(
    "©nam" -> "title", "©ART" -> "artist",
    "©alb" -> "album", "©day" -> "date",
    "©gen" -> "genre", "©cmt" -> "comment",
    "©too" -> "encoder")

  private def be32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  private def be64(b: Array[Byte], o: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(o + i) & 0xffL); i += 1 }
    v
  }

  /** Walks children of [from, until); `descend` names container
    * boxes to recurse into, `fullBox` the ones whose payload starts
    * with 4 version/flag bytes.
    */
  private def mp4Walk(b: Array[Byte], from: Int, until: Int, path: List[String],
      m: mutable.LinkedHashMap[String, String]): Unit = {
    var o = from
    while (o + 8 <= until) {
      var size = be32(b, o)
      val typ = new String(b, o + 4, 4, "ISO-8859-1")
      var hdr = 8
      if (size == 1 && o + 16 <= until) { size = be64(b, o + 8); hdr = 16 }
      else if (size == 0) size = (until - o).toLong // box extends to end
      if (size < hdr || o + size > until) return
      val inner = o + hdr
      val innerEnd = (o + size).toInt
      path match {
        case Nil if typ == "moov" =>
          mp4Walk(b, inner, innerEnd, List("moov"), m)
        case List("moov") if typ == "udta" =>
          mp4Walk(b, inner, innerEnd, List("moov", "udta"), m)
        case List("moov", "udta") if typ == "meta" =>
          // FullBox: 4 bytes version/flags before children
          if (inner + 4 <= innerEnd)
            mp4Walk(b, inner + 4, innerEnd, List("moov", "udta", "meta"), m)
        case List("moov", "udta", "meta") if typ == "ilst" =>
          mp4Walk(b, inner, innerEnd, List("ilst"), m)
        case List("ilst") =>
          // item box: children are 'data' boxes
          var p = inner
          while (p + 16 <= innerEnd) {
            val dsize = be32(b, p)
            val dtyp = new String(b, p + 4, 4, "ISO-8859-1")
            if (dsize < 16 || p + dsize > innerEnd) { p = innerEnd }
            else {
              if (dtyp == "data") {
                val wellKnown = be32(b, p + 8) & 0xffffffL
                if (wellKnown == 1L) { // UTF-8 text
                  val v = new String(b, p + 16, (dsize - 16).toInt, "UTF-8")
                  put(m, ItemNames.getOrElse(typ, typ), v)
                }
              }
              p += dsize.toInt
            }
          }
        case _ => ()
      }
      o += size.toInt
    }
  }

  private def mp4(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    mp4Walk(b, 0, b.length, Nil, m)
    m
  }

  // ------------------------------------------------------------------
  // AVI RIFF INFO
  // ------------------------------------------------------------------

  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  private def avi(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    var o = 12
    while (o + 8 <= b.length) {
      val cid = new String(b, o, 4, "ISO-8859-1")
      val clen = le32(b, o + 4)
      if (clen < 0 || o + 8 + clen > b.length) return m
      if (cid == "LIST" && clen >= 4 &&
          new String(b, o + 8, 4, "ISO-8859-1") == "INFO") {
        var p = o + 12
        val end = o + 8 + clen.toInt
        var ok = true
        while (ok && p + 8 <= end) {
          val iid = new String(b, p, 4, "ISO-8859-1")
          val ilen = le32(b, p + 4)
          if (ilen < 0 || p + 8 + ilen > end) ok = false
          else {
            var vlen = ilen.toInt
            while (vlen > 0 && b(p + 8 + vlen - 1) == 0) vlen -= 1
            if (!put(m, iid, new String(b, p + 8, vlen, "ISO-8859-1")))
              ok = false
            p += 8 + ilen.toInt
            if ((ilen & 1) == 1) p += 1
          }
        }
      }
      o += 8 + clen.toInt
      if ((clen & 1) == 1) o += 1
    }
    m
  }
}
