package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wire-level tests for [[graft.expr.VideoTags]] — hand-built ISO
  * BMFF box trees (incl. 64-bit sizes and size-0 to-end boxes) and
  * RIFF AVI INFO chunks.
  */
class VideoTagsSpec extends AnyFunSuite {

  import graft.expr.VideoTags
  import graft.fixtures.FixtureBytes._

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private def box(typ: String, payload: Array[Byte]): Array[Byte] =
    be32(8 + payload.length) ++ ascii(typ) ++ payload

  private def dataBox(text: String): Array[Byte] = {
    val tb = text.getBytes("UTF-8")
    be32(16 + tb.length) ++ ascii("data") ++ be32(1) ++ be32(0) ++ tb
  }

  private def ftyp: Array[Byte] =
    box("ftyp", ascii("isom") ++ be32(0) ++ ascii("isomiso2"))

  test("MP4 ilst: canonical item names and raw four-char fallbacks") {
    val ilst = box("ilst",
      box("©nam", dataBox("vid title")) ++
      box("©ART", dataBox("vid artist")) ++
      box("tven", dataBox("e01")))
    val meta = box("meta", be32(0) ++ box("hdlr",
      be32(0) ++ ascii("mdir") ++ ascii("appl") ++ be32(0) ++ be32(0) ++
      bytes(0)) ++ ilst)
    val mp4 = ftyp ++ box("moov", box("udta", meta))
    val m = VideoTags.tags(mp4)
    assert(m("title") == "vid title")
    assert(m("artist") == "vid artist")
    assert(m("tven") == "e01")
  }

  test("MP4: 64-bit moov size and non-text data items skipped") {
    val ilst = box("ilst",
      box("©nam", dataBox("t")) ++
      box("trkn", be32(16 + 4) ++ ascii("data") ++ be32(0) ++ be32(0) ++
        be32(7))) // type 0 binary → skipped
    val meta = box("meta", be32(0) ++ ilst)
    val udta = box("udta", meta)
    val moovPayload = udta
    val moov64 = be32(1) ++ ascii("moov") ++
      bytes(0, 0, 0, 0) ++ be32(16 + moovPayload.length) ++ moovPayload
    val mp4 = ftyp ++ moov64
    val m = VideoTags.tags(mp4)
    assert(m("title") == "t")
    assert(!m.contains("trkn"))
  }

  test("MP4: size-0 (to-end) final box walks") {
    val ilst = box("ilst", box("©cmt", dataBox("last box")))
    val meta = box("meta", be32(0) ++ ilst)
    val moovPayload = box("udta", meta)
    val moov0 = be32(0) ++ ascii("moov") ++ moovPayload // extends to EOF
    val m = VideoTags.tags(ftyp ++ moov0)
    assert(m("comment") == "last box")
  }

  test("AVI LIST/INFO: ids, NUL strip, alignment padding") {
    val inam = ascii("INAM") ++ le32(6) ++ ascii("movie") ++ bytes(0)
    val isft = ascii("ISFT") ++ le32(3) ++ ascii("sw") ++ bytes(0) ++ bytes(0)
    val info = ascii("INFO") ++ inam ++ isft
    val list = ascii("LIST") ++ le32(info.length) ++ info
    val hdrl = ascii("LIST") ++ le32(4) ++ ascii("hdrl")
    val body = ascii("AVI ") ++ hdrl ++ list
    val avi = ascii("RIFF") ++ le32(body.length) ++ body
    val m = VideoTags.tags(avi)
    assert(m("INAM") == "movie")
    assert(m("ISFT") == "sw")
  }

  test("triage: foreign containers null; tagless recognized empty") {
    assert(VideoTags.tags(null) == null)
    assert(VideoTags.tags(ascii("RIFF????WAVE")) == null)
    assert(VideoTags.tags(ascii("not a container at all")) == null)
    assert(VideoTags.tags(ftyp ++ box("moov", box("mvhd",
      be32(0)))).isEmpty)
    val noInfo = ascii("RIFF") ++ le32(4) ++ ascii("AVI ")
    assert(VideoTags.tags(noInfo).isEmpty)
  }
}
