package graft.expr

import graft.fixtures.FixtureBytes.Writer

/** Independent TNEF WRITER for fixture construction — little-endian
  * fields through the shared fixture [[graft.fixtures.FixtureBytes.Writer]],
  * per-attribute byte-sum checksums, and a MAPI property-list encoder
  * (standard + named properties, fixed and variable values with 4-byte
  * padding); nothing shared with [[Tnef]]'s reading direction, so
  * parse(build(·)) is a genuine structural differential.
  */
private[graft] object TnefBuild {

  private def cp1252(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.Charset.forName("windows-1252"))

  private def attribute(w: Writer, level: Int, idType: Long,
      data: Array[Byte]): Unit = {
    w.u8(level)
    w.le32(idType)
    w.le32(data.length.toLong)
    w.bytes(data)
    var sum = 0
    data.foreach(b => sum = (sum + (b & 0xff)) & 0xffff)
    w.le16(sum)
  }

  private def atpStr(s: String): Array[Byte] = {
    val w = new Writer
    w.bytes(cp1252(s)); w.u8(0)
    w.result
  }

  /** One MAPI property for the list encoder. */
  sealed trait Prop { def id: Int }
  final case class PStr8(id: Int, v: String) extends Prop
  final case class PUni(id: Int, v: String) extends Prop
  final case class PBin(id: Int, v: Array[Byte]) extends Prop
  final case class PLong(id: Int, v: Long) extends Prop
  /** Named string property — exists to exercise the reader's skip. */
  final case class PNamed(id: Int, name: String, v: String) extends Prop

  private def mapi(props: Seq[Prop]): Array[Byte] = {
    val w = new Writer
    w.le32(props.length.toLong)
    props.foreach { p =>
      val ptype = p match {
        case _: PStr8 | _: PNamed => 0x001e
        case _: PUni => 0x001f
        case _: PBin => 0x0102
        case _: PLong => 0x0003
      }
      w.le32(((p.id.toLong & 0xffff) << 16) | ptype)
      p match {
        case PNamed(_, name, _) =>
          (0 until 16).foreach(_ => w.u8(0x42)) // property-set GUID
          w.le32(1) // kind: by name
          val nb = (name + "\u0000").getBytes("UTF-16LE")
          w.le32(nb.length.toLong); w.bytes(nb); w.pad(4)
        case _ => ()
      }
      p match {
        case PLong(_, v) => w.le32(v)
        case PStr8(_, v) =>
          val raw = cp1252(v) :+ 0.toByte
          w.le32(1); w.le32(raw.length.toLong); w.bytes(raw); w.pad(4)
        case PNamed(_, _, v) =>
          val raw = cp1252(v) :+ 0.toByte
          w.le32(1); w.le32(raw.length.toLong); w.bytes(raw); w.pad(4)
        case PUni(_, v) =>
          val raw = (v + "\u0000").getBytes("UTF-16LE")
          w.le32(1); w.le32(raw.length.toLong); w.bytes(raw); w.pad(4)
        case PBin(_, v) =>
          w.le32(1); w.le32(v.length.toLong); w.bytes(v); w.pad(4)
      }
    }
    w.result
  }

  /** One attachment: title (attAttachTitle), optional MAPI long
    * filename + mime, and its bytes — via attAttachData when
    * `byValue`, else a MAPI PidTagAttachDataBinary value.
    */
  final case class Attach(title: String, longName: String = null,
    mime: String = null, content: Array[Byte], byValue: Boolean = true)

  /** A complete winmail.dat: message attributes (subject/body as
    * plain attributes, or through attMAPIProps when `viaMapi`), then
    * attachment groups opened by attAttachRendData.
    */
  def tnef(subject: String, body: String, viaMapi: Boolean = false,
      atts: Seq[Attach] = Nil): Array[Byte] = {
    val w = new Writer
    w.le32(Tnef.Signature)
    w.le16(0x1234) // legacy key
    attribute(w, 1, 0x00089006L, { // attTnefVersion
      val v = new Writer; v.le32(0x00010000L); v.result
    })
    attribute(w, 1, 0x00069007L, { // attOemCodepage
      val v = new Writer; v.le32(1252L); v.le32(0L); v.result
    })
    if (viaMapi) {
      val props = scala.collection.mutable.ArrayBuffer.empty[Prop]
      props += PNamed(0x8501, "x-custom", "skipped fine")
      props += PLong(0x0e07, 1L) // message flags: fixed-size skip
      if (subject != null) props += PStr8(0x0037, subject)
      if (body != null) props += PUni(0x1000, body)
      attribute(w, 1, 0x00069003L, mapi(props.toSeq))
    } else {
      if (subject != null) attribute(w, 1, 0x00018004L, atpStr(subject))
      if (body != null) attribute(w, 1, 0x0001800cL, atpStr(body))
    }
    atts.foreach { a =>
      attribute(w, 2, 0x00069002L, new Array[Byte](14)) // rend data
      if (a.title != null) attribute(w, 2, 0x00018010L, atpStr(a.title))
      if (a.byValue) attribute(w, 2, 0x0006800fL, a.content)
      val props = scala.collection.mutable.ArrayBuffer.empty[Prop]
      if (a.longName != null) props += PStr8(0x3707, a.longName)
      if (a.mime != null) props += PStr8(0x370e, a.mime)
      if (!a.byValue) props += PBin(0x3701, a.content)
      if (props.nonEmpty) attribute(w, 2, 0x00069005L, mapi(props.toSeq))
    }
    w.result
  }
}
