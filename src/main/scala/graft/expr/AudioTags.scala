package graft.expr

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.{BinaryType, DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Container-level TAG extraction over audio blobs:
  * `graft_audio_tags(content)` → `map<string,string>` — the metadata
  * sibling of [[AudioMeta]] (which reads the FORMAT: rate, channels,
  * frames) and the filter/dedup-key feed a training pipeline needs
  * (group podcast re-uploads by title, drop tracks by artist
  * blocklists, route by genre). Every supported tag system is
  * algorithmic container walking — no codec decode, no spec tables:
  *
  *  - '''ID3v2''' (MP3 and friends; v2.2 is triaged, v2.3 plain
  *    sizes, v2.4 syncsafe sizes): text frames `Txxx` with encodings
  *    0 (latin-1), 1 (UTF-16 + BOM), 2 (UTF-16BE), 3 (UTF-8);
  *    key = the raw 4-char frame id (`TIT2`, `TPE1`, …); `TXXX`
  *    user frames key as `TXXX:<description>`; the unsync flag and
  *    extended headers are honored structurally (v2.4 per-frame
  *    unsync undone; whole-tag v2.3 unsync undone);
  *  - '''FLAC''' VORBIS_COMMENT metadata block (type 4):
  *    `vendor` plus each `KEY=value` with the key lowercased (the
  *    spec makes keys case-insensitive; lowercase is the canonical
  *    form);
  *  - '''OGG''': the second logical packet — a Vorbis comment header
  *    (type 3 + "vorbis") or an `OpusTags` packet (RFC 7845) — same
  *    vendor + `KEY=value` structure;
  *  - '''WAV''' RIFF `LIST`/`INFO` chunk: each info id (`INAM`,
  *    `IART`, …) with its NUL-terminated latin-1 text.
  *
  * Triage: unrecognized container / malformed header → NULL map; a
  * recognized container whose walk yields no tags → empty map; a
  * malformed FRAME stops the walk with the tags already collected
  * (the ragged-tail convention). Values are capped at
  * [[MaxValueLen]] chars and tag count at [[MaxTags]] — crafted
  * blobs cannot balloon the map. Pure per-row projection.
  */
case class AudioTags(child: Expression) extends UnaryExpression {

  override def dataType: DataType = MapType(StringType, StringType,
    valueContainsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${AudioTags.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(b: Any): Any =
    AudioTags.tagsMapData(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = (org.apache.spark.sql.catalyst.util.MapData)
         |  graft.expr.AudioTags.tagsMapData($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      AudioTags = copy(child = newChild)
}

object AudioTags {
  val FunctionName = "graft_audio_tags"

  val MaxTags = 256
  val MaxValueLen = 4096

  /** Codegen + eval entry: the map as Catalyst MapData (or null). */
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
      new ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
    }
  }

  /** Ordered tag extraction (insertion order — deterministic). NULL
    * for unrecognized containers.
    */
  def tags(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
    if (b == null || b.length < 4) return null
    try {
      if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') return id3v2(b)
      if (b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C')
        return flac(b)
      if (b(0) == 'O' && b(1) == 'g' && b(2) == 'g' && b(3) == 'S')
        return ogg(b)
      if (b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
          b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
          b(11) == 'E') return wavInfo(b)
      null
    } catch { case _: Exception => null }
  }

  private def put(m: mutable.LinkedHashMap[String, String], k: String,
      v: String): Boolean = {
    if (m.size >= MaxTags) return false
    val vv = if (v.length > MaxValueLen) v.substring(0, MaxValueLen) else v
    if (k.nonEmpty && !m.contains(k)) m.put(k, vv)
    true
  }

  // ------------------------------------------------------------------
  // ID3v2
  // ------------------------------------------------------------------

  private def syncsafe(b: Array[Byte], o: Int): Int =
    ((b(o) & 0x7f) << 21) | ((b(o + 1) & 0x7f) << 14) |
      ((b(o + 2) & 0x7f) << 7) | (b(o + 3) & 0x7f)

  private def be32(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  /** Undo ID3 unsynchronisation: FF 00 → FF. */
  private def deUnsync(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var i = 0
    while (i < b.length) {
      out.write(b(i))
      if ((b(i) & 0xff) == 0xff && i + 1 < b.length && b(i + 1) == 0) i += 1
      i += 1
    }
    out.toByteArray
  }

  private def decodeText(enc: Int, b: Array[Byte], from: Int,
      until: Int): String = {
    val len = math.max(0, until - from)
    val cs = enc match {
      case 0 => "ISO-8859-1"
      case 1 => "UTF-16" // BOM-driven
      case 2 => "UTF-16BE"
      case 3 => "UTF-8"
      case _ => return null
    }
    val s = new String(b, from, len, cs)
    // strip trailing NULs (both widths decode to U+0000)
    var end = s.length
    while (end > 0 && s.charAt(end - 1) == '\u0000') end -= 1
    s.substring(0, end)
  }

  private def id3v2(raw: Array[Byte]):
      mutable.LinkedHashMap[String, String] = {
    if (raw.length < 10) return null
    val ver = raw(3) & 0xff
    if (ver != 3 && ver != 4) return null // v2.2 / future: triage
    val flags = raw(5) & 0xff
    val size = syncsafe(raw, 6)
    if (size < 0 || 10 + size > raw.length) return null
    var body = java.util.Arrays.copyOfRange(raw, 10, 10 + size)
    if (ver == 3 && (flags & 0x80) != 0) body = deUnsync(body)
    val m = mutable.LinkedHashMap.empty[String, String]
    var o = 0
    // v2.3 extended header: plain 4-byte size NOT counting itself;
    // v2.4: syncsafe size INCLUDING itself
    if ((flags & 0x40) != 0 && body.length >= 4) {
      o = if (ver == 3) 4 + be32(body, 0) else syncsafe(body, 0)
      if (o < 0 || o > body.length) return m
    }
    var walking = true
    while (walking && o + 10 <= body.length) {
      if (body(o) == 0) walking = false // padding
      else {
        val id = new String(body, o, 4, "ISO-8859-1")
        if (!id.forall(c => c.isUpper || c.isDigit)) walking = false
        else {
          val fsize = if (ver == 4) syncsafe(body, o + 4)
            else be32(body, o + 4)
          val fflags = ((body(o + 8) & 0xff) << 8) | (body(o + 9) & 0xff)
          if (fsize < 0 || o + 10 + fsize > body.length) walking = false
          else {
            if (id.charAt(0) == 'T' && fsize >= 1) {
              var fb = java.util.Arrays.copyOfRange(body, o + 10,
                o + 10 + fsize)
              // v2.4 per-frame unsync flag (bit 1 of the second
              // flag byte); compressed/encrypted frames skipped
              if (ver == 4 && (fflags & 0x02) != 0) fb = deUnsync(fb)
              if ((fflags & 0x0c) == 0) {
                val enc = fb(0) & 0xff
                if (id == "TXXX") {
                  // description NUL value (NUL width follows encoding)
                  val wide = enc == 1 || enc == 2
                  var p = 1
                  var descEnd = -1
                  while (descEnd < 0 && p < fb.length) {
                    if (wide) {
                      if (p + 1 < fb.length && fb(p) == 0 && fb(p + 1) == 0)
                        descEnd = p
                      else p += 2
                    } else if (fb(p) == 0) descEnd = p
                    else p += 1
                  }
                  if (descEnd >= 0) {
                    val desc = decodeText(enc, fb, 1, descEnd)
                    val vStart = descEnd + (if (wide) 2 else 1)
                    val v = decodeText(enc, fb, vStart, fb.length)
                    if (desc != null && v != null)
                      walking = put(m, s"TXXX:$desc", v)
                  }
                } else {
                  val v = decodeText(enc, fb, 1, fb.length)
                  if (v != null) walking = put(m, id, v) && walking
                }
              }
            }
            o += 10 + fsize
          }
        }
      }
    }
    m
  }

  // ------------------------------------------------------------------
  // Vorbis-comment structure (FLAC block 4, OGG comment packets)
  // ------------------------------------------------------------------

  private def le32(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)

  /** vendor string + KEY=value list at offset `o`; keys lowercased. */
  private def vorbisComments(b: Array[Byte], o0: Int,
      m: mutable.LinkedHashMap[String, String]): Unit = {
    var o = o0
    if (o + 4 > b.length) return
    val vlen = le32(b, o)
    o += 4
    if (vlen < 0 || o + vlen > b.length) return
    put(m, "vendor", new String(b, o, vlen.toInt, "UTF-8"))
    o += vlen.toInt
    if (o + 4 > b.length) return
    val count = le32(b, o)
    o += 4
    var i = 0L
    while (i < count && o + 4 <= b.length) {
      val clen = le32(b, o)
      o += 4
      if (clen < 0 || o + clen > b.length) return
      val s = new String(b, o, clen.toInt, "UTF-8")
      o += clen.toInt
      val eq = s.indexOf('=')
      if (eq > 0) {
        if (!put(m, s.substring(0, eq).toLowerCase(java.util.Locale.ROOT),
          s.substring(eq + 1))) return
      }
      i += 1
    }
  }

  private def flac(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
    val m = mutable.LinkedHashMap.empty[String, String]
    var o = 4
    var last = false
    while (!last && o + 4 <= b.length) {
      val h = b(o) & 0xff
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      val len = ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) |
        (b(o + 3) & 0xff)
      if (typ == 127 || o.toLong + 4 + len > b.length) return m
      if (typ == 4) vorbisComments(b, o + 4, m)
      o += 4 + len
    }
    m
  }

  private def ogg(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
    // reassemble the first pages' packets (same walk discipline as
    // VorbisDecode, bounded: stop once packet 2 is complete)
    val packets = mutable.ArrayBuffer.empty[Array[Byte]]
    val pending = new java.io.ByteArrayOutputStream()
    var o = 0
    var done = false
    while (!done && o + 27 <= b.length && packets.length < 2) {
      if (!(b(o) == 'O' && b(o + 1) == 'g' && b(o + 2) == 'g' &&
            b(o + 3) == 'S' && b(o + 4) == 0)) done = true
      else {
        val nSeg = b(o + 26) & 0xff
        if (o + 27 + nSeg > b.length) done = true
        else {
          var bo = o + 27 + nSeg
          var i = 0
          while (i < nSeg && packets.length < 2) {
            val lace = b(o + 27 + i) & 0xff
            if (bo + lace > b.length) { done = true; i = nSeg }
            else {
              pending.write(b, bo, lace)
              bo += lace
              if (lace < 255) {
                packets += pending.toByteArray
                pending.reset()
              }
              i += 1
            }
          }
          var total = 0
          i = 0
          while (i < nSeg) { total += b(o + 27 + i) & 0xff; i += 1 }
          o += 27 + nSeg + total
        }
      }
    }
    if (packets.length < 2) return null
    val p = packets(1)
    val m = mutable.LinkedHashMap.empty[String, String]
    if (p.length >= 7 && (p(0) & 0xff) == 3 && p(1) == 'v' &&
        p(2) == 'o' && p(3) == 'r' && p(4) == 'b' && p(5) == 'i' &&
        p(6) == 's') {
      vorbisComments(p, 7, m)
      m
    } else if (p.length >= 8 && new String(p, 0, 8, "ISO-8859-1")
        == "OpusTags") {
      vorbisComments(p, 8, m)
      m
    } else m // recognized OGG, untagged second packet → empty
  }

  // ------------------------------------------------------------------
  // RIFF LIST/INFO
  // ------------------------------------------------------------------

  private def wavInfo(b: Array[Byte]): mutable.LinkedHashMap[String, String] = {
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
            // values are NUL-terminated; strip
            while (vlen > 0 && b(p + 8 + vlen - 1) == 0) vlen -= 1
            if (!put(m, iid, new String(b, p + 8, vlen, "ISO-8859-1")))
              ok = false
            p += 8 + ilen.toInt
            if ((ilen & 1) == 1) p += 1 // word alignment pad
          }
        }
      }
      o += 8 + clen.toInt
      if ((clen & 1) == 1) o += 1
    }
    m
  }
}
