package graft

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The NULL-never-error triage contract, enforced mechanically across
  * EVERY native decoder: hostile bytes must produce NULL (or a row),
  * never an exception or an Error — at 100 TB a single crafted file
  * must not kill a task. Three input families per decoder:
  *
  *  1. pure random bytes (seeded — failures reproduce);
  *  2. random bytes behind each format's REAL magic, so the walks get
  *     past their cheap front gate and into the structural parsing
  *     where the bugs live;
  *  3. truncations of a VALID container at every byte boundary — the
  *     mid-field cuts that break length-prefixed walks.
  *
  * This is the spec-level analogue of the round-9/10 hardening work
  * (the AviFrames nested-rec bomb, Mp4Frames sibling damage): those
  * defects were found by reading; this sweep catches the same class
  * by construction for every decoder at once, including future ones —
  * add the entry point to [[decoders]] and the families apply.
  */
class DecoderFuzzSpec extends AnyFunSuite {
  import graft.fixtures.FixtureBytes._

  private val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
    "AudioStats" -> (b => graft.expr.AudioStats.parse(b)),
    "AudioMeta" -> (b => graft.expr.AudioMeta.parse(b)),
    "AudioEnvSig" -> (b => graft.expr.AudioEnvSig.sig(b, 8)),
    "AviFrames" -> (b => graft.expr.AviFrames.frames(b, 16)),
    "Mp4Frames" -> (b => graft.expr.Mp4Frames.frames(b, 16)),
    "GifFrames" -> (b => graft.expr.GifFrames.frames(b, 16)),
    "VideoMeta" -> (b => graft.expr.VideoMeta.parse(b)),
    "ImageMeta" -> (b => graft.expr.ImageMeta.parse(b)),
    "PixelStats" -> (b => graft.expr.PixelStats.parse(b)),
    "PixelGridSig" -> (b => graft.expr.PixelGridSig.sig(b, 9, 7)),
    "WarcRecords" -> (b => graft.expr.WarcRecords.records(b, 64)),
    "HttpText" -> (b => graft.expr.HttpText.parse(b)),
    "HttpBody" -> (b => graft.expr.HttpBody.parse(b)),
    "RtfToText" -> (b => graft.expr.RtfToText.extract(
      UTF8String.fromBytes(b))),
    "EpubText" -> (b => graft.expr.EpubText.parse(b)),
    "PdfText" -> (b => graft.expr.PdfText.parse(b)),
    "DocxText" -> (b => graft.expr.DocxText.parse(b)),
    "ExifOrientation" -> (b => graft.expr.ExifOrientation.parse(b)),
    "OrientPixels" -> (b => graft.expr.OrientPixels.orient(b, 6)),
    "Mp3Decode" -> (b => graft.expr.Mp3Decode.decode(b)),
    "FlacDecode" -> (b => graft.expr.FlacDecode.decode(b)),
    "VorbisDecode" -> (b => graft.expr.VorbisDecode.decode(b)),
    "AudioDecodeExpr" -> (b => graft.expr.AudioDecodeExpr.decodeAuto(b)),
    "AudioTags" -> (b => graft.expr.AudioTags.tags(b)),
    "ImageTags" -> (b => graft.expr.ImageTags.tags(b)),
    "VideoTags" -> (b => graft.expr.VideoTags.tags(b)),
    "TarEntries" -> (b => graft.expr.TarEntries.entries(b, 64)),
    "ZipEntries" -> (b => graft.expr.ZipEntries.entries(b)),
    "ArEntries" -> (b => graft.expr.ArEntries.entries(b, 64)),
    "CpioEntries" -> (b => graft.expr.CpioEntries.entries(b, 64)),
    "Bzip2" -> (b => graft.expr.Bzip2.decode(b)),
    "Xz" -> (b => graft.expr.Xz.decode(b)),
    "Zstd" -> (b => graft.expr.Zstd.decode(b)),
    "Lz4" -> (b => graft.expr.Lz4.decode(b)),
    "Snappy" -> (b => graft.expr.Snappy.decode(b)),
    "Lzw" -> (b => graft.expr.Lzw.decode(b)),
    "SevenZip" -> (b => graft.expr.SevenZip.entries(b, 64)),
    "DocText" -> (b => graft.expr.DocText.parse(b)),
    "XlsText" -> (b => graft.expr.LegacyOffice.xls(b)),
    "PptText" -> (b => graft.expr.LegacyOffice.ppt(b)),
    "OdfText" -> (b => graft.expr.OdfText.parse(b)),
    "EmlText" -> (b => graft.expr.EmlText.parse(b)),
    "MboxMessages" -> (b => graft.expr.EmlText.mbox(b, 16)),
    "EmlAttachments" -> (b => graft.expr.EmlText.attachments(b, 16)),
    "MsgText" -> (b => graft.expr.MsgText.parse(b)),
    "MsgAttachments" -> (b => graft.expr.MsgText.attachments(b, 16)),
    "TnefText" -> (b => graft.expr.Tnef.parse(b)),
    "TnefAttachments" -> (b => graft.expr.Tnef.attachments(b, 16)),
    "VcardText" -> (b => graft.expr.VcardText.vcard(b)),
    "IcsText" -> (b => graft.expr.VcardText.ics(b)),
    "LatexText" -> (b => graft.expr.LatexText.parse(b)),
    "DocumentText" -> (b => graft.expr.DocumentText.parse(b)),
    "PptxText" -> (b => graft.expr.OfficeText.pptx(b)),
    "XlsxText" -> (b => graft.expr.OfficeText.xlsx(b)),
    "Decompress" -> (b => graft.expr.Decompress.decode(b)),
    "ResizePixels" -> (b => graft.expr.ResizePixels.resize(b, 7, 5)),
    "ResamplePcm" -> (b => graft.expr.ResamplePcm.resample(b, 8000)),
    "Vp8lDecode" -> (b => graft.expr.Vp8lDecode.decode(b)),
    "H264Frames" -> (b => graft.expr.H264.frames(b, 16)),
    "H264Meta" -> (b => graft.expr.H264.meta(b)))

  private val magics: Seq[Array[Byte]] = Seq(
    "RIFF????WAVE".getBytes("ISO-8859-1"),
    "RIFF????AVI ".getBytes("ISO-8859-1"),
    Array[Byte](0, 0, 0, 0x18) ++ "ftypisom".getBytes("ISO-8859-1"),
    "GIF89a".getBytes("ISO-8859-1"),
    Array(0x89.toByte) ++ "PNG\r\n\u001a\n".getBytes("ISO-8859-1"),
    Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte),
    "BM".getBytes("ISO-8859-1"),
    "P6\n".getBytes("ISO-8859-1"),
    "fLaC".getBytes("ISO-8859-1"),
    "OggS".getBytes("ISO-8859-1"),
    "WARC/1.0\r\n".getBytes("ISO-8859-1"),
    "HTTP/1.1 200 OK\r\n".getBytes("ISO-8859-1"),
    "{\\rtf1".getBytes("ISO-8859-1"),
    Array[Byte](0x50, 0x4B, 0x03, 0x04), // zip local header (EPUB)
    Array[Byte](0x49, 0x49, 0x2A, 0x00), // TIFF little-endian
    Array[Byte](0x4D, 0x4D, 0x00, 0x2A), // TIFF big-endian
    "%PDF-1.4\n1 0 obj << /Filter /FlateDecode >>\nstream\n"
      .getBytes("ISO-8859-1"),
    Array[Byte](0xFF.toByte, 0xFB.toByte), // MPEG-1 Layer III sync
    Array[Byte](0xFF.toByte, 0xF1.toByte), // AAC ADTS sync (layer 00)
    "RIFF????WEBPVP8L".getBytes("ISO-8859-1") ++
      Array[Byte](16, 0, 0, 0, 0x2F), // VP8L chunk + signature,
    Array[Byte](0, 0, 0, 1, 0x67), // H.264 start code + SPS header
    Array[Byte](0x28, 0xB5.toByte, 0x2F, 0xFD.toByte), // zstd frame magic
    Array[Byte](0x78, 0x9F.toByte, 0x3E, 0x22), // TNEF signature
    Array[Byte](0x04, 0x22, 0x4D, 0x18), // lz4 frame magic
    Array[Byte](0x02, 0x21, 0x4C, 0x18), // lz4 legacy magic
    Array[Byte](0xff.toByte, 6, 0, 0) ++
      "sNaPpY".getBytes("ISO-8859-1"), // snappy framing identifier
    "BEGIN:VCARD\r\n".getBytes("ISO-8859-1"),
    "\\documentclass{article}\n\\begin{document}\n"
      .getBytes("ISO-8859-1"),
    "BEGIN:VCALENDAR\r\n".getBytes("ISO-8859-1"),
    "!<arch>\n".getBytes("ISO-8859-1"),
    Array[Byte](0x1f, 0x9d.toByte, 0x90.toByte), // compress .Z
    "070701".getBytes("ISO-8859-1"),
    "070707".getBytes("ISO-8859-1"),
    Array[Byte]('7', 'z', 0xBC.toByte, 0xAF.toByte, 0x27, 0x1C), // 7z
    Array[Byte](0xD0.toByte, 0xCF.toByte, 0x11, 0xE0.toByte,
      0xA1.toByte, 0xB1.toByte, 0x1A, 0xE1.toByte), // CFB (.doc)
    "ID3\u0004\u0000\u0000\u0000\u0000\u0000\u0010".getBytes("ISO-8859-1"))

  private def sweep(name: String, f: Array[Byte] => Any,
      inputs: Iterator[Array[Byte]]): Unit = {
    var i = 0
    inputs.foreach { b =>
      try f(b)
      catch {
        case t: Throwable =>
          fail(s"$name threw on fuzz case #$i (${b.length} bytes, " +
            s"head=${b.take(16).map(x => f"${x & 0xFF}%02x").mkString(" ")}): $t")
      }
      i += 1
    }
  }

  test("random bytes never throw in any decoder") {
    val rng = new scala.util.Random(1234)
    def randoms: Iterator[Array[Byte]] = Iterator.tabulate(120) { i =>
      val b = new Array[Byte](i * 7 % 257)
      rng.nextBytes(b); b
    }
    decoders.foreach { case (n, f) => sweep(n, f, randoms) }
  }

  test("magic-prefixed random bytes never throw in any decoder") {
    val rng = new scala.util.Random(5678)
    def cases: Iterator[Array[Byte]] = for {
      m <- magics.iterator
      i <- Iterator.range(0, 40)
    } yield {
      val tail = new Array[Byte](i * 13 % 211)
      rng.nextBytes(tail)
      m ++ tail
    }
    decoders.foreach { case (n, f) => sweep(n, f, cases) }
  }

  test("every truncation of valid WAV/AVI/RTF/FLAC/zstd/7z/CFB containers never throws") {
    val wav = ascii("RIFF") ++ le32(56) ++ ascii("WAVE") ++
      ascii("fmt ") ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(8000) ++
      le32(32000) ++ le16(4) ++ le16(16) ++
      ascii("data") ++ le32(20) ++ Array.tabulate[Byte](20)(i => i.toByte)
    val avi = ascii("RIFF") ++ le32(64) ++ ascii("AVI ") ++
      ascii("LIST") ++ le32(40) ++ ascii("movi") ++
      ascii("00dc") ++ le32(6) ++ ascii("FRAME0") ++
      ascii("00dc") ++ le32(6) ++ ascii("FRAME1")
    val rtf = ascii("{\\rtf1{\\fonttbl{\\f0 A;}}text \\u26085?\\'e9\\par}")
    val flac = graft.expr.FlacBuild.encode(
      Array(Array.tabulate(96)(i => (i * 37) % 256 - 128)), 8000, 16, 96)
    val zstd = graft.expr.ZstdBuild.store(
      "truncation sweep zstd payload".getBytes)
    val sevenZ = graft.expr.SevenZipBuild.build(Seq(
      graft.expr.SevenZipBuild.Entry("a.txt", "seven".getBytes)),
      lzma2 = true)
    val sevenZBcj2 = graft.expr.SevenZipBuild.buildBcj2(Seq(
      graft.expr.SevenZipBuild.Entry("b.bin",
        Array[Byte](0x41, 0xe8.toByte, 1, 2, 3, 0, 0x42,
          0xe9.toByte, 4, 5, 6, 0xff.toByte, 0x0f, 0x85.toByte,
          7, 8, 9, 0))))
    val doc = graft.expr.DocBuild.doc(Seq(("cfb sweep\r", true)))
    val xlsB = graft.expr.LegacyOfficeBuild.xls(Seq(Seq(
      Seq(graft.expr.LegacyOfficeBuild.S("sweep"),
        graft.expr.LegacyOfficeBuild.I(3)))), maxSstData = 8)
    val pptB = graft.expr.LegacyOfficeBuild.ppt(Seq(Seq("sweep para")))
    val pptInc = graft.expr.LegacyOfficeBuild.pptIncremental(Seq(
      Seq(2 -> Seq("first")), Seq(2 -> Seq("second"))))
    val mboxB = ("From a Mon Jan 1 00:00:00 2026\n" +
      "From: a@x\nSubject: =?UTF-8?B?c3dlZXA=?=\n" +
      "Content-Type: multipart/alternative; boundary=zz\n\n" +
      "--zz\nContent-Type: text/plain\n" +
      "Content-Transfer-Encoding: quoted-printable\n\nsw=65ep\n" +
      "--zz--\n").getBytes("ISO-8859-1")
    val odfB = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      val mb = "application/vnd.oasis.opendocument.text".getBytes("UTF-8")
      val e = new java.util.zip.ZipEntry("mimetype")
      e.setMethod(java.util.zip.ZipEntry.STORED)
      e.setSize(mb.length); e.setCompressedSize(mb.length)
      val crc = new java.util.zip.CRC32(); crc.update(mb)
      e.setCrc(crc.getValue)
      z.putNextEntry(e); z.write(mb); z.closeEntry()
      z.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
      z.write(("<office:document-content xmlns:office=\"o\" " +
        "xmlns:text=\"t\"><office:body><office:text>" +
        "<text:p>sweep</text:p></office:text></office:body>" +
        "</office:document-content>").getBytes("UTF-8"))
      z.closeEntry(); z.close(); bos.toByteArray
    }
    val msgB = graft.expr.MsgBuild.msg("sweep", "msg body",
      atts = Seq(("a.txt", "text/plain", "att".getBytes("UTF-8"))))
    val tnefB = graft.expr.TnefBuild.tnef("sweep", "tnef body",
      viaMapi = true, atts = Seq(graft.expr.TnefBuild.Attach("a.txt",
        mime = "text/plain", content = "att".getBytes("UTF-8"))))
    val lz4B = graft.expr.Lz4Build.frame(
      "fuzz lz4 alpha alpha alpha".getBytes("UTF-8"), blockCk = true,
      contentSize = true)
    val szB = graft.expr.SnappyBuild.framed(
      "fuzz sz alpha alpha alpha".getBytes("UTF-8"))
    val arB = graft.expr.ArBuild.ar(Seq(
      "a.txt" -> "fuzz ar".getBytes("UTF-8"),
      "a_longer_than_fifteen_name.txt" -> "fuzz two".getBytes("UTF-8")))
    val cpioB = graft.expr.ArBuild.cpio(Seq(
      "a.txt" -> "fuzz cpio".getBytes("UTF-8")), crcForm = true)
    val lzwB = graft.expr.CompressBuild.compress(
      ("fuzz lzw alpha " * 40).getBytes("UTF-8"), clearEvery = 30)
    for (valid <- Seq(wav, avi, rtf, flac, zstd, sevenZ, sevenZBcj2, doc,
        xlsB, pptB, pptInc, odfB, mboxB, msgB, tnefB, lz4B, szB,
        arB, cpioB, lzwB);
        cut <- 0 to valid.length) {
      val b = valid.take(cut)
      decoders.foreach { case (n, f) => sweep(s"$n@cut$cut", f, Iterator(b)) }
    }
  }
}
