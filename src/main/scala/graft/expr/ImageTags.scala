package graft.expr

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{BinaryType, DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Container-level TAG extraction over image blobs:
  * `graft_image_tags(content)` → `map<string,string>` —
  * [[AudioTags]]'s image sibling and [[ExifOrientation]]'s
  * text-metadata superset: the curation keys an image-crawl pipeline
  * filters and groups on (camera make/model dedup cohorts, capture
  * timestamps for temporal sampling, author/copyright routing,
  * embedded comments). All container walking, no pixel decode:
  *
  *  - '''JPEG''': marker walk — APP1 `Exif\0\0` → the embedded TIFF
  *    structure (both byte orders); APP1 with the XMP identifier →
  *    the packet under key `xmp`; `COM` segments → `comment`; the
  *    walk stops at SOS (entropy data);
  *  - '''TIFF''' (bare II/MM): the same IFD walk directly;
  *  - '''PNG''': `tEXt` (latin-1), `zTXt` (deflate latin-1) and
  *    `iTXt` (UTF-8, plain or deflate) chunks, keyed by their
  *    keyword;
  *  - '''GIF''' 87a/89a: comment extension blocks → `comment`
  *    (generic sub-block skipping walks any frame/extension mix);
  *  - '''WEBP''': `EXIF` chunk (raw TIFF or `Exif\0\0`-prefixed —
  *    both wild forms) and `XMP ` chunk → `xmp`.
  *
  * Exif keys use canonical names for the universal ASCII tags
  * (0x010E description, 0x010F make, 0x0110 model, 0x0131 software,
  * 0x0132 datetime, 0x013B artist, 0x8298 copyright; the Exif
  * sub-IFD's 0x9003/0x9004 as datetime_original/datetime_digitized);
  * other tags are skipped — surfacing every unknown tag id would
  * make the map a fingerprinting surface instead of a filter feed.
  *
  * Triage: unrecognized container → NULL; recognized but tagless →
  * empty map; malformed chunk/segment stops the walk with tags
  * already collected (ragged tail). [[AudioTags.MaxTags]] /
  * [[AudioTags.MaxValueLen]] caps apply; inflated text is capped at
  * [[MaxInflate]] before decode (a 60-byte zTXt bomb cannot balloon
  * memory). Pure per-row projection.
  */
case class ImageTags(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MapType(StringType, StringType,
    valueContainsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${ImageTags.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(b: Any): Any =
    ImageTags.tagsMapData(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.MapData)
         |  graft.expr.ImageTags.tagsMapData($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      ImageTags = copy(child = newChild)
}

object ImageTags {
  val FunctionName = "graft_image_tags"

  /** Decompressed-text cap for zTXt/iTXt (pre-decode bound). */
  val MaxInflate: Int = 1 << 16

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
    if (b == null || b.length < 8) return null
    try {
      if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) return jpeg(b)
      if ((b(0) & 0xff) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
        return png(b)
      if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
          (b(4) == '7' || b(4) == '9') && b(5) == 'a') return gif(b)
      if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
          b(3) == 'F' && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
          b(11) == 'P') return webp(b)
      if (b.length >= 8 && ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 &&
          b(3) == 0) || (b(0) == 'M' && b(1) == 'M' && b(2) == 0 &&
          b(3) == 42))) {
        val m = mutable.LinkedHashMap.empty[String, String]
        tiffTags(b, 0, m)
        return m
      }
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
  // TIFF / Exif IFD walk
  // ------------------------------------------------------------------

  private val Ifd0Names = Map(
    0x010e -> "description", 0x010f -> "make", 0x0110 -> "model",
    0x0131 -> "software", 0x0132 -> "datetime", 0x013b -> "artist",
    0x8298 -> "copyright")
  private val ExifIfdNames = Map(
    0x9003 -> "datetime_original", 0x9004 -> "datetime_digitized")

  private def tiffTags(b: Array[Byte], base: Int,
      m: mutable.LinkedHashMap[String, String]): Unit = {
    if (base + 8 > b.length) return
    val le = b(base) == 'I'
    if (!(le && b(base + 1) == 'I') && !(!le && b(base + 1) == 'M')) return
    def u16(o: Int): Int =
      if (o + 2 > b.length) -1
      else if (le) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    def u32(o: Int): Long =
      if (o + 4 > b.length) -1L
      else if (le) (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      else ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    if (u16(base + 2) != 42) return

    def ascii(valOff: Int, count: Int): String = {
      if (count <= 0 || valOff < 0 || valOff + count > b.length) return null
      var n = count
      while (n > 0 && b(valOff + n - 1) == 0) n -= 1
      new String(b, valOff, n, "UTF-8")
    }

    def walk(ifdOff: Long, names: Map[Int, String],
        followExif: Boolean): Unit = {
      if (ifdOff < 0 || base + ifdOff + 2 > b.length) return
      val o0 = (base + ifdOff).toInt
      val n = u16(o0)
      if (n < 0 || n > 512) return
      var i = 0
      while (i < n) {
        val e = o0 + 2 + i * 12
        if (e + 12 > b.length) return
        val tag = u16(e)
        val typ = u16(e + 2)
        val count = u32(e + 4)
        if (tag == 0x8769 && followExif && typ == 4)
          walk(u32(e + 8), ExifIfdNames, followExif = false)
        else names.get(tag) match {
          case Some(name) if typ == 2 && count > 0 &&
              count <= AudioTags.MaxValueLen =>
            val valOff =
              if (count <= 4) e + 8
              else (base + u32(e + 8)).toInt
            val s = ascii(valOff, count.toInt)
            if (s != null) put(m, name, s)
          case _ => ()
        }
        i += 1
      }
    }
    walk(u32(base + 4), Ifd0Names, followExif = true)
  }

  // ------------------------------------------------------------------
  // JPEG marker walk
  // ------------------------------------------------------------------

  private val XmpId = "http://ns.adobe.com/xap/1.0/\u0000"

  private def jpeg(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    var o = 2
    var walking = true
    while (walking && o + 4 <= b.length) {
      if ((b(o) & 0xff) != 0xff) walking = false
      else {
        val marker = b(o + 1) & 0xff
        if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) o += 2
        else if (marker == 0xd9 || marker == 0xda) walking = false
        else {
          val len = ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
          if (len < 2 || o + 2 + len > b.length) walking = false
          else {
            val p = o + 4
            val plen = len - 2
            if (marker == 0xe1 && plen >= 6 &&
                b(p) == 'E' && b(p + 1) == 'x' && b(p + 2) == 'i' &&
                b(p + 3) == 'f' && b(p + 4) == 0 && b(p + 5) == 0)
              tiffTags(b, p + 6, m)
            else if (marker == 0xe1 && plen > XmpId.length &&
                new String(b, p, XmpId.length, "ISO-8859-1") == XmpId)
              put(m, "xmp", new String(b, p + XmpId.length,
                plen - XmpId.length, "UTF-8"))
            else if (marker == 0xfe)
              put(m, "comment", new String(b, p, plen, "UTF-8"))
            o += 2 + len
          }
        }
      }
    }
    m
  }

  // ------------------------------------------------------------------
  // PNG text chunks
  // ------------------------------------------------------------------

  private def inflate(b: Array[Byte], from: Int, len: Int): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(b, from, len)
    val out = new java.io.ByteArrayOutputStream(math.min(len * 4, 4096))
    val buf = new Array[Byte](4096)
    try {
      while (!inf.finished() && out.size() < MaxInflate) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) return out.toByteArray
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }

  private def png(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    var o = 8
    var walking = true
    while (walking && o + 8 <= b.length) {
      val len = ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
        ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
      val typ = new String(b, o + 4, 4, "ISO-8859-1")
      if (len < 0 || o + 12 + len > b.length) walking = false
      else {
        val p = o + 8
        def keywordEnd(): Int = {
          var q = p
          while (q < p + len && b(q) != 0) q += 1
          q
        }
        typ match {
          case "tEXt" =>
            val ke = keywordEnd()
            if (ke < p + len)
              walking = put(m, new String(b, p, ke - p, "ISO-8859-1"),
                new String(b, ke + 1, p + len - ke - 1, "ISO-8859-1"))
          case "zTXt" =>
            val ke = keywordEnd()
            if (ke + 2 <= p + len && b(ke + 1) == 0) {
              val txt = inflate(b, ke + 2, p + len - ke - 2)
              walking = put(m, new String(b, p, ke - p, "ISO-8859-1"),
                new String(txt, "ISO-8859-1"))
            }
          case "iTXt" =>
            val ke = keywordEnd()
            if (ke + 3 <= p + len) {
              val compressed = b(ke + 1) == 1
              var q = ke + 3
              while (q < p + len && b(q) != 0) q += 1 // language tag
              q += 1
              while (q < p + len && b(q) != 0) q += 1 // translated kw
              q += 1
              if (q <= p + len) {
                val raw =
                  if (compressed) inflate(b, q, p + len - q)
                  else java.util.Arrays.copyOfRange(b, q, p + len)
                walking = put(m, new String(b, p, ke - p, "ISO-8859-1"),
                  new String(raw, "UTF-8"))
              }
            }
          case "IEND" => walking = false
          case _ => ()
        }
        o += 12 + len
      }
    }
    m
  }

  // ------------------------------------------------------------------
  // GIF comment extensions
  // ------------------------------------------------------------------

  private def gif(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    if (b.length < 13) return m
    val flags = b(10) & 0xff
    var o = 13 + (if ((flags & 0x80) != 0) 3 << ((flags & 7) + 1) else 0)
    def skipSubBlocks(from: Int): Int = {
      var q = from
      while (q < b.length && b(q) != 0) q += 1 + (b(q) & 0xff)
      q + 1
    }
    var walking = true
    while (walking && o < b.length) {
      (b(o) & 0xff) match {
        case 0x3b => walking = false
        case 0x21 =>
          if (o + 2 > b.length) walking = false
          else if ((b(o + 1) & 0xff) == 0xfe) {
            val sb = new java.io.ByteArrayOutputStream()
            var q = o + 2
            while (q < b.length && b(q) != 0 &&
                sb.size() < AudioTags.MaxValueLen) {
              val l = b(q) & 0xff
              sb.write(b, q + 1, math.min(l, b.length - q - 1))
              q += 1 + l
            }
            walking = put(m, "comment", new String(sb.toByteArray, "UTF-8"))
            o = skipSubBlocks(o + 2)
          } else o = skipSubBlocks(o + 2)
        case 0x2c =>
          if (o + 10 > b.length) walking = false
          else {
            val lf = b(o + 9) & 0xff
            var q = o + 10 +
              (if ((lf & 0x80) != 0) 3 << ((lf & 7) + 1) else 0)
            q += 1 // LZW code size
            o = skipSubBlocks(q)
          }
        case _ => walking = false
      }
    }
    m
  }

  // ------------------------------------------------------------------
  // WEBP chunks
  // ------------------------------------------------------------------

  private def webp(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    var o = 12
    while (o + 8 <= b.length) {
      val id = new String(b, o, 4, "ISO-8859-1")
      val len = (b(o + 4) & 0xff) | ((b(o + 5) & 0xff) << 8) |
        ((b(o + 6) & 0xff) << 16) | ((b(o + 7) & 0xff) << 24)
      if (len < 0 || o + 8 + len > b.length) return m
      val p = o + 8
      if (id == "EXIF") {
        // both wild forms: raw TIFF, or Exif\0\0-prefixed
        if (len >= 6 && b(p) == 'E' && b(p + 1) == 'x' && b(p + 2) == 'i' &&
            b(p + 3) == 'f' && b(p + 4) == 0 && b(p + 5) == 0)
          tiffTags(b, p + 6, m)
        else tiffTags(b, p, m)
      } else if (id == "XMP ") {
        put(m, "xmp", new String(b, p, len, "UTF-8"))
      }
      o += 8 + len + (len & 1)
    }
    m
  }
}
