package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wire-level tests for [[graft.expr.AudioTags]] — every fixture is
  * built byte-by-byte from the PUBLIC container layouts (ID3v2.3/2.4,
  * FLAC metadata blocks, OGG pages + Vorbis/Opus comment packets,
  * RIFF LIST/INFO), independent of the extractor's own walk.
  */
class AudioTagsSpec extends AnyFunSuite {

  import graft.expr.AudioTags
  import graft.fixtures.FixtureBytes._

  private def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  private def syncsafe(v: Int): Array[Byte] =
    bytes((v >> 21) & 0x7f, (v >> 14) & 0x7f, (v >> 7) & 0x7f, v & 0x7f)

  // ---- ID3v2 ----

  private def id3Frame(ver: Int, id: String, payload: Array[Byte],
      flags: Int = 0): Array[Byte] =
    ascii(id) ++ (if (ver == 4) syncsafe(payload.length)
      else be32(payload.length)) ++
      bytes(flags >> 8, flags & 0xff) ++ payload

  private def id3(ver: Int, frames: Array[Byte], tagFlags: Int = 0):
      Array[Byte] =
    ascii("ID3") ++ bytes(ver, 0, tagFlags) ++ syncsafe(frames.length) ++
      frames

  test("ID3v2.3: latin-1, UTF-16 BOM, UTF-16BE, UTF-8 text frames") {
    val frames =
      id3Frame(3, "TIT2", bytes(0) ++ ascii("My Title") ++ bytes(0)) ++
      id3Frame(3, "TPE1",
        bytes(1, 0xff, 0xfe) ++ "Árt".getBytes("UTF-16LE")) ++
      id3Frame(3, "TALB", bytes(2) ++ "Albüm".getBytes("UTF-16BE")) ++
      id3Frame(3, "TCON", bytes(3) ++ "ジャンル".getBytes("UTF-8"))
    val m = AudioTags.tags(id3(3, frames))
    assert(m("TIT2") == "My Title") // trailing NUL stripped
    assert(m("TPE1") == "Árt")
    assert(m("TALB") == "Albüm")
    assert(m("TCON") == "ジャンル")
  }

  test("ID3v2.4: syncsafe frame sizes and TXXX user frames") {
    val frames =
      id3Frame(4, "TIT2", bytes(3) ++ "t".getBytes("UTF-8")) ++
      id3Frame(4, "TXXX",
        bytes(3) ++ ascii("replaygain") ++ bytes(0) ++ ascii("-6.2 dB"))
    val m = AudioTags.tags(id3(4, frames))
    assert(m("TIT2") == "t")
    assert(m("TXXX:replaygain") == "-6.2 dB")
  }

  test("ID3v2.3 whole-tag unsynchronisation undone") {
    // a UTF-16 title whose BOM FF FE is written FF 00 FE under unsync
    val payload = bytes(1, 0xff, 0xfe) ++ "Z".getBytes("UTF-16LE")
    val frame = id3Frame(3, "TIT2", payload)
    val unsynced = frame.flatMap(b =>
      if ((b & 0xff) == 0xff) Array(b, 0.toByte) else Array(b))
    val m = AudioTags.tags(id3(3, unsynced, tagFlags = 0x80))
    assert(m("TIT2") == "Z")
  }

  test("ID3: padding stops the walk; junk version triages to null") {
    val frames = id3Frame(3, "TIT2", bytes(0) ++ ascii("x")) ++
      Array.fill[Byte](64)(0)
    assert(AudioTags.tags(id3(3, frames))("TIT2") == "x")
    assert(AudioTags.tags(ascii("ID3") ++ bytes(2, 0, 0) ++
      syncsafe(0)) == null) // v2.2 triage
  }

  // ---- FLAC ----

  private def vorbisCommentBody(vendor: String,
      tags: Seq[(String, String)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val vb = vendor.getBytes("UTF-8")
    out.write(le32(vb.length)); out.write(vb)
    out.write(le32(tags.length))
    tags.foreach { case (k, v) =>
      val kv = s"$k=$v".getBytes("UTF-8")
      out.write(le32(kv.length)); out.write(kv)
    }
    out.toByteArray
  }

  test("FLAC VORBIS_COMMENT block: vendor + lowercased keys") {
    val base = graft.expr.FlacBuild.encode(
      Array(Array.tabulate(64)(_ % 5)), 8000, 16, 64, "indep",
      "verbatim", partOrder = 0)
    // STREAMINFO is 4(hdr)+34 bytes after 'fLaC'; clear its
    // last-block bit and splice the comment block behind it
    val si = base.clone()
    si(4) = (si(4) & 0x7f).toByte
    val cb = vorbisCommentBody("vend", Seq("TITLE" -> "t1", "Artist" -> "a1"))
    val block = bytes(0x84, (cb.length >> 16) & 0xff,
      (cb.length >> 8) & 0xff, cb.length & 0xff) ++ cb
    val withTags = si.take(4 + 4 + 34) ++ block ++ si.drop(4 + 4 + 34)
    val m = AudioTags.tags(withTags)
    assert(m("vendor") == "vend")
    assert(m("title") == "t1")
    assert(m("artist") == "a1")
    // and the decoder still decodes the spliced stream (block skipped)
    assert(graft.expr.FlacDecode.decode(withTags) != null)
  }

  // ---- OGG ----

  test("OGG Vorbis comment packet and OpusTags both extract") {
    val idPkt = graft.expr.VorbisBuild.idHeader(1, 8000)
    def commentPkt: Array[Byte] =
      bytes(3) ++ ascii("vorbis") ++
        vorbisCommentBody("ogv", Seq("TITLE" -> "ot", "track" -> "7")) ++
        bytes(1)
    val vorbisStream =
      graft.expr.VorbisBuild.page(5, 0, 0, 0x02, Seq(idPkt)) ++
      graft.expr.VorbisBuild.page(5, 1, 0, 0, Seq(commentPkt))
    val mv = AudioTags.tags(vorbisStream)
    assert(mv("vendor") == "ogv" && mv("title") == "ot" && mv("track") == "7")

    val opusHead = ascii("OpusHead") ++ bytes(1, 2) ++
      bytes(0, 0) ++ le32(48000) ++ bytes(0, 0, 0)
    val opusTags = ascii("OpusTags") ++
      vorbisCommentBody("opv", Seq("ARTIST" -> "oa"))
    val opusStream =
      graft.expr.VorbisBuild.page(6, 0, 0, 0x02, Seq(opusHead)) ++
      graft.expr.VorbisBuild.page(6, 1, 0, 0, Seq(opusTags))
    val mo = AudioTags.tags(opusStream)
    assert(mo("vendor") == "opv" && mo("artist") == "oa")
  }

  // ---- WAV ----

  test("WAV LIST/INFO chunk with word-alignment padding") {
    val inam = ascii("INAM") ++ le32(5) ++ ascii("name") ++ bytes(0) // odd→pad
    val iart = ascii("IART") ++ le32(3) ++ ascii("ab") ++ bytes(0)
    val info = ascii("INFO") ++ inam ++ bytes(0) ++ iart ++ bytes(0)
    val list = ascii("LIST") ++ le32(info.length) ++ info
    val fmt = ascii("fmt ") ++ le32(16) ++ bytes(1, 0, 1, 0) ++
      le32(8000) ++ le32(16000) ++ bytes(2, 0, 16, 0)
    val data = ascii("data") ++ le32(2) ++ bytes(0, 0)
    val body = ascii("WAVE") ++ fmt ++ list ++ data
    val wav = ascii("RIFF") ++ le32(body.length) ++ body
    val m = AudioTags.tags(wav)
    assert(m("INAM") == "name")
    assert(m("IART") == "ab")
    // a plain WAV without INFO → recognized container, empty map
    val plain = ascii("RIFF") ++ le32(4 + fmt.length + data.length) ++
      ascii("WAVE") ++ fmt ++ data
    assert(AudioTags.tags(plain).isEmpty)
  }

  // ---- triage + caps ----

  test("triage: foreign bytes null; caps bound crafted blobs") {
    assert(AudioTags.tags(null) == null)
    assert(AudioTags.tags(ascii("abc")) == null)
    assert(AudioTags.tags(ascii("%PDF-1.4 not audio")) == null)
    // 1000 comment fields → capped at MaxTags (incl. vendor)
    val many = vorbisCommentBody("v",
      (0 until 1000).map(i => s"K$i" -> "x"))
    val block = bytes(0x84, (many.length >> 16) & 0xff,
      (many.length >> 8) & 0xff, many.length & 0xff) ++ many
    val si = graft.expr.FlacBuild.encode(Array(Array.fill(64)(0)), 8000,
      16, 64, "indep", "constant", partOrder = 0).clone()
    si(4) = (si(4) & 0x7f).toByte
    val blob = si.take(42) ++ block ++ si.drop(42)
    val m = AudioTags.tags(blob)
    assert(m.size == AudioTags.MaxTags)
  }
}
