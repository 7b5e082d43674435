package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wire-level tests for [[graft.expr.ImageTags]] — fixtures built
  * byte-by-byte from the public container layouts (TIFF 6.0 IFDs in
  * both byte orders, JPEG marker segments, PNG chunks with real CRCs
  * omitted deliberately — the walk is length-driven per spec — GIF
  * extension blocks, WEBP chunks).
  */
class ImageTagsSpec extends AnyFunSuite {

  import graft.expr.ImageTags
  import graft.fixtures.FixtureBytes._

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** Little-endian TIFF with IFD0 ASCII entries (+ optional Exif
    * sub-IFD holding 0x9003).
    */
  private def tiffLE(entries: Seq[(Int, String)],
      dtOriginal: Option[String] = None): Array[Byte] = {
    val n = entries.length + dtOriginal.size
    val ifdLen = 2 + n * 12 + 4
    var dataOff = 8 + ifdLen
    val sub = dtOriginal.map { _ => dataOff }
    dataOff += dtOriginal.map(_ => 2 + 12 + 4).getOrElse(0)
    val subData = dtOriginal.map { s =>
      val vb = ascii(s) :+ 0.toByte
      (dataOff, vb)
    }
    dataOff += subData.map(_._2.length).getOrElse(0)
    val out = new java.io.ByteArrayOutputStream()
    out.write(ascii("II")); out.write(bytes(42, 0)); out.write(le32(8))
    out.write(le16(n))
    val valueBlobs = new java.io.ByteArrayOutputStream()
    entries.foreach { case (tag, v) =>
      val vb = ascii(v) :+ 0.toByte
      out.write(le16(tag)); out.write(le16(2)); out.write(le32(vb.length))
      if (vb.length <= 4) {
        out.write(vb); (vb.length until 4).foreach(_ => out.write(0))
      } else {
        out.write(le32(dataOff + valueBlobs.size()))
        valueBlobs.write(vb)
      }
      ()
    }
    sub.foreach { off =>
      out.write(le16(0x8769)); out.write(le16(4)); out.write(le32(1))
      out.write(le32(off))
    }
    out.write(le32(0)) // next IFD
    subData.foreach { case (voff, vb) =>
      out.write(le16(1)) // one entry
      out.write(le16(0x9003)); out.write(le16(2)); out.write(le32(vb.length))
      out.write(le32(voff))
      out.write(le32(0))
      out.write(vb)
    }
    out.write(valueBlobs.toByteArray)
    out.toByteArray
  }

  test("bare TIFF IFD0 + Exif sub-IFD, little-endian") {
    val t = tiffLE(Seq(0x010f -> "CamCo", 0x0110 -> "X100",
      0x0132 -> "2024:01:02 03:04:05"), Some("2023:12:31 23:59:59"))
    val m = ImageTags.tags(t)
    assert(m("make") == "CamCo")
    assert(m("model") == "X100")
    assert(m("datetime") == "2024:01:02 03:04:05")
    assert(m("datetime_original") == "2023:12:31 23:59:59")
  }

  test("big-endian TIFF: inline short value") {
    val out = new java.io.ByteArrayOutputStream()
    out.write(ascii("MM")); out.write(bytes(0, 42)); out.write(be32(8))
    out.write(bytes(0, 1)) // one entry
    out.write(bytes(0x01, 0x0f)) // make
    out.write(bytes(0, 2)) // ASCII
    out.write(be32(3)) // "ab\0" fits inline
    out.write(ascii("ab")); out.write(bytes(0, 0))
    out.write(be32(0))
    val m = ImageTags.tags(out.toByteArray)
    assert(m("make") == "ab")
  }

  test("JPEG: Exif APP1 + COM + XMP APP1; walk stops at SOS") {
    val tiff = tiffLE(Seq(0x010f -> "JCam"))
    val exifPayload = ascii("Exif") ++ bytes(0, 0) ++ tiff
    val xmpPayload = ascii("http://ns.adobe.com/xap/1.0/") ++ bytes(0) ++
      ascii("<x:xmpmeta>t</x:xmpmeta>")
    val com = ascii("a comment")
    val out = new java.io.ByteArrayOutputStream()
    out.write(bytes(0xff, 0xd8))
    out.write(bytes(0xff, 0xe1)); out.write(bytes(
      (exifPayload.length + 2) >> 8, (exifPayload.length + 2) & 0xff))
    out.write(exifPayload)
    out.write(bytes(0xff, 0xfe)); out.write(bytes(0, com.length + 2))
    out.write(com)
    out.write(bytes(0xff, 0xe1)); out.write(bytes(
      (xmpPayload.length + 2) >> 8, (xmpPayload.length + 2) & 0xff))
    out.write(xmpPayload)
    out.write(bytes(0xff, 0xda, 0, 2)) // SOS: stop
    out.write(ascii("entropy bytes with no FF structure"))
    val m = ImageTags.tags(out.toByteArray)
    assert(m("make") == "JCam")
    assert(m("comment") == "a comment")
    assert(m("xmp") == "<x:xmpmeta>t</x:xmpmeta>")
  }

  test("PNG: tEXt, zTXt (deflate) and iTXt (utf-8)") {
    def chunk(typ: String, data: Array[Byte]): Array[Byte] =
      be32(data.length) ++ ascii(typ) ++ data ++ be32(0) // CRC unchecked
    def deflate(s: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(s); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val ihdr = chunk("IHDR", be32(1) ++ be32(1) ++ bytes(8, 0, 0, 0, 0))
    val text = chunk("tEXt", ascii("Title") ++ bytes(0) ++ ascii("pt"))
    val ztxt = chunk("zTXt", ascii("Author") ++ bytes(0, 0) ++
      deflate(ascii("za")))
    val itxt = chunk("iTXt", ascii("Desc") ++ bytes(0, 0, 0) ++
      ascii("en") ++ bytes(0) ++ bytes(0) ++ "ünïcode".getBytes("UTF-8"))
    val png = bytes(0x89) ++ ascii("PNG\r\n") ++ bytes(0x1a, 0x0a) ++
      ihdr ++ text ++ ztxt ++ itxt ++ chunk("IEND", Array.emptyByteArray)
    val m = ImageTags.tags(png)
    assert(m("Title") == "pt")
    assert(m("Author") == "za")
    assert(m("Desc") == "ünïcode")
  }

  test("GIF: comment extension found after a frame") {
    val lsd = le16(2) ++ le16(2) ++ bytes(0, 0, 0) // no GCT
    val frame = bytes(0x2c) ++ le16(0) ++ le16(0) ++ le16(2) ++ le16(2) ++
      bytes(0) ++ // no LCT
      bytes(2) ++ // LZW min code size
      bytes(1, 0x4c) ++ bytes(0) // one data sub-block, terminator
    val comment = bytes(0x21, 0xfe) ++ bytes(5) ++ ascii("gifco") ++ bytes(0)
    val gif = ascii("GIF89a") ++ lsd ++ frame ++ comment ++ bytes(0x3b)
    val m = ImageTags.tags(gif)
    assert(m("comment") == "gifco")
  }

  test("WEBP: EXIF chunk (both wild forms) and XMP chunk") {
    val tiff = tiffLE(Seq(0x0110 -> "WModel"))
    def riff(chunks: Array[Byte]): Array[Byte] =
      ascii("RIFF") ++ le32(4 + chunks.length) ++ ascii("WEBP") ++ chunks
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      ascii(id) ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) bytes(0) else Array.emptyByteArray)
    val raw = riff(chunk("EXIF", tiff) ++ chunk("XMP ", ascii("<xmp/>")))
    val prefixed = riff(chunk("EXIF", ascii("Exif") ++ bytes(0, 0) ++ tiff))
    assert(ImageTags.tags(raw)("model") == "WModel")
    assert(ImageTags.tags(raw)("xmp") == "<xmp/>")
    assert(ImageTags.tags(prefixed)("model") == "WModel")
  }

  test("triage: foreign container null; tagless containers empty") {
    assert(ImageTags.tags(null) == null)
    assert(ImageTags.tags(ascii("%PDF-1.4")) == null)
    assert(ImageTags.tags(ascii("P6\n1 1\n255\n...")) == null)
    val bare = bytes(0x89) ++ ascii("PNG\r\n") ++ bytes(0x1a, 0x0a) ++
      be32(13) ++ ascii("IHDR") ++ be32(1) ++ be32(1) ++
      bytes(8, 0, 0, 0, 0) ++ be32(0) ++
      be32(0) ++ ascii("IEND") ++ be32(0)
    assert(ImageTags.tags(bare).isEmpty)
  }
}
