package graft

import graft.model.Schemas
import graft.operators.{Enrichment, Multimodal}
import graft.pipeline.JobPipeline
import graft.pipeline.JobPipeline.{FilterConfig, Scd1}
import org.apache.spark.sql.functions._

/** End-to-end pipeline + enrichment + multimodal plumbing. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val batchTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")

  test("regional pipeline: ingest → scd1 → filter → append, end to end") {
    val tmp = java.nio.file.Files.createTempDirectory("graft").toString
    val raw = Seq(
      ("DE", "l1", "Data Engineer", "2024-01-28 10:00:00", "Feed", "rss",
        "15min", "<p>Great&nbsp;role</p>"),
      ("DE", "l2", "Sales Intern", "2024-01-29 10:00:00", "Feed", "rss",
        "15min", "<b>selling</b>"),
      ("DE", "l3", "Old Role", "2023-06-01 10:00:00", "Feed", "rss",
        "15min", "stale"),
      ("DE", "l4", "No Summary", "2024-01-28 11:00:00", "Feed", "rss",
        "15min", "")
    ).toDF("job_title", "link", "entry_title", "published", "feed_title",
      "reader", "time_window", "summary")

    val cfg = FilterConfig(daysBack = 30,
      requiredCols = Seq("entry_title", "summary"),
      keywordExclusions = Map("entry_title" -> Seq("intern")))
    val out = JobPipeline.runRegion(spark, raw, s"$tmp/stage", s"$tmp/result",
      Scd1, cfg, batchTs)
    val links = out.select("link").as[String].collect().toSet
    assert(links == Set("l1")) // l2 keyword, l3 too old, l4 empty summary
    val row = out.collect()(0)
    assert(row.getAs[String]("summary") == "Great role") // html cleaned
    assert(row.getAs[String]("AS_OF_DT") == "2024-02-01 00:00:00")

    // second run with an updated l1 merges, doesn't duplicate
    val raw2 = Seq(
      ("DE", "l1", "Data Engineer II", "2024-01-30 10:00:00", "Feed", "rss",
        "15min", "<p>Better role</p>")
    ).toDF("job_title", "link", "entry_title", "published", "feed_title",
      "reader", "time_window", "summary")
    val out2 = JobPipeline.runRegion(spark, raw2, s"$tmp/stage", s"$tmp/result",
      Scd1, cfg, batchTs)
    val stage = spark.read.parquet(s"$tmp/stage")
    assert(stage.count() == 4) // l1 updated in place
    assert(stage.filter($"link" === "l1").collect()(0)
      .getAs[String]("entry_title") == "Data Engineer II")
    assert(out2.filter($"link" === "l1").count() == 1)
  }

  test("resume reader dispatches on extension with the reference's errors") {
    import graft.sources.Documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-resume")
    val md = tmp.resolve("resume.md")
    java.nio.file.Files.writeString(md, "python spark sql linux")
    val resume = Documents.readResume(md.toString)
    assert(resume.contains("spark"))
    // the read text feeds the enrichment stage as its side input
    val docs = Seq((1L, "we need python and spark experience")).toDF("doc_id", "text")
    val row = Enrichment.withSkillsColumns(docs, "text", resume).collect()(0)
    assert(row.getAs[scala.collection.Seq[String]]("matched_skills").toSeq ==
      Seq("python", "spark"))

    intercept[java.io.FileNotFoundException](
      Documents.readResume(tmp.resolve("missing.txt").toString))
    // .rtf routes through the shared RTF state machine: the font
    // table drops, the body text survives
    val rtf = tmp.resolve("resume.rtf")
    java.nio.file.Files.writeString(rtf,
      "{\\rtf1\\ansi{\\fonttbl{\\f0 Arial;}}\\f0 python and spark\\par}")
    assert(Documents.readResume(rtf.toString).contains("python and spark"))
    // a .rtf without the RTF magic is a typed error, not garbage text
    val fake = tmp.resolve("fake.rtf")
    java.nio.file.Files.writeString(fake, "plain text")
    val er = intercept[IllegalArgumentException](
      Documents.readResume(fake.toString))
    assert(er.getMessage.contains("Not an RTF document"))
    val odt = tmp.resolve("resume.odt")
    java.nio.file.Files.writeString(odt, "zipstuff")
    val e = intercept[IllegalArgumentException](Documents.readResume(odt.toString))
    assert(e.getMessage.contains("Unsupported resume format"))
  }

  test("resume reader extracts EPUB chapters in spine order, with triage") {
    import graft.sources.Documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-epub")
    def zipFile(path: java.nio.file.Path, entries: (String, String)*): String = {
      val zos = new java.util.zip.ZipOutputStream(
        java.nio.file.Files.newOutputStream(path))
      entries.foreach { case (n, c) =>
        zos.putNextEntry(new java.util.zip.ZipEntry(n))
        zos.write(c.getBytes("UTF-8"))
        zos.closeEntry()
      }
      zos.close()
      path.toString
    }
    val container =
      """<?xml version="1.0"?>
        |<container xmlns="urn:oasis:names:tc:opendocument:xmlns:container">
        | <rootfiles><rootfile full-path="OEBPS/content.opf"
        |   media-type="application/oebps-package+xml"/></rootfiles>
        |</container>""".stripMargin
    // the spine lists ch2 BEFORE ch1 — output order must follow the
    // spine, not the zip entry order
    val opf =
      """<?xml version="1.0"?>
        |<package xmlns="http://www.idpf.org/2007/opf" version="3.0">
        | <manifest>
        |  <item id="c1" href="ch1.xhtml" media-type="application/xhtml+xml"/>
        |  <item id="c2" href="ch2.xhtml" media-type="application/xhtml+xml"/>
        | </manifest>
        | <spine><itemref idref="c2"/><itemref idref="c1"/></spine>
        |</package>""".stripMargin
    // entity-laden XHTML with a doctype — the markup real books carry;
    // the regexp chain must survive what a hardened DOM parser cannot
    val ch1 = """<!DOCTYPE html><html><body><p>first&nbsp;chapter python</p>
                |<style>p { color: red }</style></body></html>""".stripMargin
    val ch2 = "<html><body><h1>Second &amp; chapter</h1> spark</body></html>"
    val book = zipFile(tmp.resolve("book.epub"),
      "mimetype" -> "application/epub+zip",
      "META-INF/container.xml" -> container,
      "OEBPS/content.opf" -> opf,
      "OEBPS/ch1.xhtml" -> ch1,
      "OEBPS/ch2.xhtml" -> ch2)
    val text = Documents.readResume(book)
    assert(text == "Second & chapter spark\nfirst chapter python\n", text)

    // damaged package metadata: falls back to zip-order markup entries
    val damaged = zipFile(tmp.resolve("damaged.epub"),
      "mimetype" -> "application/epub+zip",
      "a.xhtml" -> "<p>alpha text</p>",
      "b.html" -> "<p>beta text</p>")
    assert(Documents.readResume(damaged) == "alpha text\nbeta text\n")

    // a zip with neither container nor markup is a typed error
    val notBook = zipFile(tmp.resolve("notbook.epub"), "data.bin" -> "junk")
    val e = intercept[IllegalArgumentException](Documents.readResume(notBook))
    assert(e.getMessage.contains("Not an EPUB package"))
  }

  test("resume reader extracts PDF text: raw + FlateDecode streams, WinAnsi, hex strings") {
    import graft.sources.Documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdf")
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    // stream 4: stored raw — Td/T* line moves, escaped parens
    val rawContent =
      "BT /F1 12 Tf 72 720 Td (John Smith) Tj T* (Data \\(Platform\\) Engineer) Tj ET"
    // stream 6: FlateDecode — TJ array with kerning numbers, octal
    // WinAnsi smart quotes (\223 \224), ' next-line-show, hex string
    val flateContent = "BT 72 700 Td (python) Tj ( spark) Tj T* " +
      "[(sql) -250 ( \\223quoted\\224)] TJ (linux) ' T* <68657820686921> Tj ET"
    val flate = deflate(flateContent.getBytes("ISO-8859-1"))
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents [4 0 R 6 0 R] >> endobj\n")
    w(s"4 0 obj << /Length ${rawContent.length} >> stream\n")
    w(rawContent); w("\nendstream endobj\n")
    // an image stream whose bytes contain "BT ": the /DCTDecode filter
    // must make the extractor skip it, not parse it
    w("5 0 obj << /Subtype /Image /Filter /DCTDecode /Length 8 >> stream\n")
    bos.write("BT ".getBytes("ISO-8859-1"))
    w("\nendstream endobj\n")
    w(s"6 0 obj << /Length ${flate.length} /Filter /FlateDecode >> stream\n")
    bos.write(flate); w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val pdf = tmp.resolve("resume.pdf")
    java.nio.file.Files.write(pdf, bos.toByteArray)

    val text = Documents.readResume(pdf.toString)
    assert(text == "John Smith\nData (Platform) Engineer\n" +
      "python spark\nsql “quoted”\nlinux\nhex hi!\n")
    // extracted text drives the skills matcher exactly like txt/md input
    val docs = Seq((1L, "we need python and spark experience")).toDF("doc_id", "text")
    val row = Enrichment.withSkillsColumns(docs, "text", text).collect()(0)
    assert(row.getAs[scala.collection.Seq[String]]("matched_skills").toSeq ==
      Seq("python", "spark"))

    // garbage behind a .pdf extension raises the reference's extraction
    // error (file_utils.py re-raises; it never returns silently empty)
    val bad = tmp.resolve("bad.pdf")
    java.nio.file.Files.writeString(bad, "not really a pdf")
    val e = intercept[IllegalArgumentException](Documents.readResume(bad.toString))
    assert(e.getMessage.contains("Error extracting text from PDF"))
    // a structurally-valid PDF with no parseable text also raises
    val noText = tmp.resolve("notext.pdf")
    java.nio.file.Files.write(noText,
      "%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj\n%%EOF\n".getBytes("ISO-8859-1"))
    val e2 = intercept[IllegalArgumentException](Documents.readResume(noText.toString))
    assert(e2.getMessage.contains("no parseable text content"))
  }

  test("resume reader decodes subset-font PDFs through single-byte ToUnicode CMaps") {
    import graft.sources.Documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdf-cmap")
    // a subset-embedded font remaps codes arbitrarily: 0x01→"S",
    // 0x03→"ark" (ligature-style multi-char dst), bfrange 0x10-0x12
    // incrementing from "p", array-form bfrange 0x7B/0x7C→"X"/"Y".
    // Codes outside the map (the " plain" tail) fall back to WinAnsi.
    val content = "BT (\\001\\020\\003) Tj T* (\\021\\022) Tj T* " +
      "(\\173\\174 plain) Tj ET"
    val cmapStream =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |2 beginbfchar
        |<01> <0053>
        |<03> <00610072006B>
        |endbfchar
        |1 beginbfrange
        |<10> <12> <0070>
        |endbfrange
        |1 beginbfrange
        |<7B> <7C> [<0058> <0059>]
        |endbfrange
        |endcmap
        |""".stripMargin
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    w(content); w("\nendstream endobj\n")
    // the CMap stream sits AFTER the content stream that needs it —
    // extraction must be order-independent
    w(s"5 0 obj << /Length ${cmapStream.length} >> stream\n")
    w(cmapStream); w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val pdf = tmp.resolve("subset.pdf")
    java.nio.file.Files.write(pdf, bos.toByteArray)
    assert(Documents.readResume(pdf.toString) == "Spark\nqr\nXY plain\n")
  }

  test("resume reader decodes /Encoding /Differences fonts without ToUnicode") {
    import graft.sources.Documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdf-diff")
    // F1: inline /Encoding dict — named-glyph remaps over WinAnsi
    // (accents, currency, uniXXXX hex names, ligatures, bullets);
    // F2: the /Encoding itself is an INDIRECT object. Codes outside
    // each Differences overlay keep the WinAnsi fallback.
    val content = "BT /F1 Tf (AB ab 0 plain) Tj T* /F2 Tf (dd!) Tj ET"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Resources " +
      "<< /Font << /F1 5 0 R /F2 6 0 R >> >> /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    w(content); w("\nendstream endobj\n")
    w("5 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
      "/Encoding << /BaseEncoding /WinAnsiEncoding " +
      "/Differences [ 65 /eacute /Euro 97 /uni0394 /fi 48 /bullet ] >> " +
      ">> endobj\n")
    w("6 0 obj << /Type /Font /Subtype /Type1 /Encoding 7 0 R >> endobj\n")
    w("7 0 obj << /Differences [ 100 /zero ] >> endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val pdf = tmp.resolve("diff.pdf")
    java.nio.file.Files.write(pdf, bos.toByteArray)
    // A→é B→€, a→Δ b→fi, 0→• (so "plain" decodes "plΔin" — the
    // remap applies to EVERY occurrence of the code); d→"0";
    // space/!/unmapped letters fall through WinAnsi
    assert(Documents.readResume(pdf.toString) == "é€ Δfi • plΔin\n00!\n")
    // the glyph table itself: hex conventions and unknown-name skip
    assert(Documents.glyphToText("uni00E90041").contains("éA"))
    assert(Documents.glyphToText("u1F600").contains("😀"))
    assert(Documents.glyphToText("nonexistentglyph").isEmpty)
    assert(Documents.glyphToText("Adieresis").contains("Ä"))
  }

  test("resume reader decodes Identity-H PDFs through two-byte ToUnicode CMaps") {
    import graft.sources.Documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdf-cid")
    // a CID-keyed subset font: all sources are two-byte, so the
    // document decodes in two-byte mode. Hex string <000100100011...>
    // = CIDs 1,16,17…; a literal string carries the same CIDs as raw
    // bytes (\000\001 pairs). CID 0x0999 is unmapped → emits nothing.
    val content = "BT <00010010001100120013> Tj T* " +
      "(\\000\\001\\000\\020\\011\\231) Tj ET"
    val cmapStream =
      """begincmap
        |2 beginbfchar
        |<0001> <0053>
        |<0013> <006B>
        |endbfchar
        |1 beginbfrange
        |<0010> <0012> <0070>
        |endbfrange
        |endcmap
        |""".stripMargin
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    w(content); w("\nendstream endobj\n")
    w(s"5 0 obj << /Length ${cmapStream.length} >> stream\n")
    w(cmapStream); w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val pdf = tmp.resolve("cid.pdf")
    java.nio.file.Files.write(pdf, bos.toByteArray)
    // <0001>=S <0010..0012>=p,q,r <0013>=k → "Spqrk"; the literal
    // repeats S,p then the unmapped CID 0x0999 (dropped)
    assert(Documents.readResume(pdf.toString) == "Spqrk\nSp\n")
  }

  test("resume reader switches decoding per font in mixed 1-/2-byte PDFs") {
    import graft.sources.Documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdf-mixed")
    // /F1 is a single-byte subset font (0x41→"one"), /F2 a CID font
    // (<0041>→"two"). The same code decodes differently under each —
    // only per-font Tf tracking gets both right. After /F3 (no font
    // object) the merged-policy fallback applies: mixed widths → byte
    // decode, 0x5A unmapped in the MERGED map? it IS absent → WinAnsi Z.
    val content = "BT /F1 12 Tf (\\101) Tj T* /F2 12 Tf <0041> Tj T* " +
      "/F3 12 Tf (Z) Tj ET"
    val cmap1 = "1 beginbfchar\n<41> <006F006E0065>\nendbfchar\n"
    val cmap2 = "1 beginbfchar\n<0041> <00740077006F>\nendbfchar\n"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R /F2 6 0 R >> >> >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    w(content); w("\nendstream endobj\n")
    w("5 0 obj << /Type /Font /Subtype /TrueType /ToUnicode 7 0 R >> endobj\n")
    w("6 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H " +
      "/ToUnicode 8 0 R >> endobj\n")
    w(s"7 0 obj << /Length ${cmap1.length} >> stream\n")
    w(cmap1); w("\nendstream endobj\n")
    w(s"8 0 obj << /Length ${cmap2.length} >> stream\n")
    w(cmap2); w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val pdf = tmp.resolve("mixed.pdf")
    java.nio.file.Files.write(pdf, bos.toByteArray)
    assert(Documents.readResume(pdf.toString) == "one\ntwo\nZ\n")

    // the indirect form — /Font 9 0 R pointing at a separate font-dict
    // object — must resolve identically
    val bos2 = new java.io.ByteArrayOutputStream()
    def w2(s: String): Unit = bos2.write(s.getBytes("ISO-8859-1"))
    w2("%PDF-1.4\n")
    w2("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w2("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w2("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font 9 0 R >> >> endobj\n")
    val content2 = "BT /F1 12 Tf (\\101) Tj ET"
    w2(s"4 0 obj << /Length ${content2.length} >> stream\n")
    w2(content2); w2("\nendstream endobj\n")
    w2("5 0 obj << /Type /Font /Subtype /TrueType /ToUnicode 7 0 R >> endobj\n")
    w2(s"7 0 obj << /Length ${cmap1.length} >> stream\n")
    w2(cmap1); w2("\nendstream endobj\n")
    w2("9 0 obj << /F1 5 0 R >> endobj\n")
    w2("trailer << /Root 1 0 R >>\n%%EOF\n")
    val pdf2 = tmp.resolve("indirect.pdf")
    java.nio.file.Files.write(pdf2, bos2.toByteArray)
    assert(Documents.readResume(pdf2.toString) == "one\n")
  }

  test("resume reader decodes LZW-filtered PDF content streams") {
    import graft.sources.Documents
    // PDF-variant LZW encoder (EarlyChange=1) — the inverse of the
    // reader's decoder, used to build fixtures
    def lzwEncode(data: Array[Byte]): Array[Byte] = {
      val dict = scala.collection.mutable.HashMap.empty[Seq[Byte], Int]
      (0 until 256).foreach(i => dict(Seq(i.toByte)) = i)
      var next = 258
      var width = 9
      val out = new java.io.ByteArrayOutputStream()
      var bitBuf = 0L; var bits = 0
      def put(code: Int): Unit = {
        bitBuf = (bitBuf << width) | code; bits += width
        while (bits >= 8) {
          out.write(((bitBuf >>> (bits - 8)) & 0xFF).toInt); bits -= 8
        }
      }
      put(256) // leading clear-table, as PDF encoders emit
      var cur = Seq.empty[Byte]
      data.foreach { b =>
        val ext = cur :+ b
        if (dict.contains(ext)) cur = ext
        else {
          put(dict(cur))
          dict(ext) = next; next += 1
          // EarlyChange: widen as soon as entry 2^w - 1 is assigned
          if (next >= (1 << width) && width < 12) width += 1
          cur = Seq(b)
        }
      }
      if (cur.nonEmpty) put(dict(cur))
      put(257)
      if (bits > 0) out.write(((bitBuf << (8 - bits)) & 0xFF).toInt)
      out.toByteArray
    }
    // round-trip property, crossing the 9->10-bit width boundary: 700
    // varied digraphs add ~700 dictionary entries
    val varied = (0 until 700).flatMap(i =>
      Seq(('a' + i * 7 % 26).toByte, ('a' + i * 13 % 26).toByte)).toArray
    assert(Documents.lzwDecode(lzwEncode(varied)).map(_.toSeq)
      .contains(varied.toSeq))
    // a code far ahead of the dictionary is corrupt, not a crash
    assert(Documents.lzwDecode(Array(0xFF.toByte, 0xFF.toByte)).isEmpty)

    val tmp = java.nio.file.Files.createTempDirectory("graft-pdf-lzw")
    // content: a long varied comment (forces the width bump inside the
    // real fixture too), then ordinary text operators
    val filler = new String(varied, "ISO-8859-1")
    val content = s"% $filler\nBT (lzw text works) Tj T* (second line) Tj ET"
    val lzw = lzwEncode(content.getBytes("ISO-8859-1"))
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${lzw.length} /Filter /LZWDecode >> stream\n")
    bos.write(lzw); w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val pdf = tmp.resolve("lzw.pdf")
    java.nio.file.Files.write(pdf, bos.toByteArray)
    assert(Documents.readResume(pdf.toString) == "lzw text works\nsecond line\n")
  }

  test("resume reader decodes ASCIIHex, ASCII85 and chained PDF filters") {
    import graft.sources.Documents
    // ASCIIHex: whitespace ignored, > terminates, odd digit pads 0
    assert(Documents.asciiHexDecode("48 65 6C\n6C 6F>".getBytes("ISO-8859-1"))
      .map(new String(_, "ISO-8859-1")).contains("Hello"))
    assert(Documents.asciiHexDecode("4>".getBytes("ISO-8859-1"))
      .map(_.toSeq).contains(Seq(0x40.toByte)))
    assert(Documents.asciiHexDecode("4G>".getBytes("ISO-8859-1")).isEmpty)
    // ASCII85: z = four zeros; partial groups; bad chars refuse
    def a85(data: Array[Byte]): Array[Byte] = {
      val out = new StringBuilder
      data.grouped(4).foreach { g =>
        if (g.length == 4 && g.forall(_ == 0)) out.append('z')
        else {
          var v = 0L
          (0 until 4).foreach(i =>
            v = (v << 8) | (if (i < g.length) g(i) & 0xFFL else 0L))
          val cs = new Array[Char](5)
          (4 to 0 by -1).foreach { i => cs(i) = ('!' + (v % 85).toInt).toChar; v /= 85 }
          out.appendAll(cs, 0, g.length + 1)
        }
      }
      out.append("~>").toString.getBytes("ISO-8859-1")
    }
    val payloads = Seq(
      "sure.".getBytes("ISO-8859-1"),
      Array[Byte](0, 0, 0, 0, 1, 2, 3),
      (0 until 257).map(_.toByte).toArray)
    payloads.foreach { p =>
      assert(Documents.ascii85Decode(a85(p)).map(_.toSeq).contains(p.toSeq), p.toSeq)
    }
    assert(Documents.ascii85Decode("z~>".getBytes("ISO-8859-1"))
      .map(_.toSeq).contains(Seq[Byte](0, 0, 0, 0)))
    // out-of-range byte (DEL) refuses; a bare EOD decodes to empty
    assert(Documents.ascii85Decode(Array(0x7F.toByte, '~'.toByte, '>'.toByte)).isEmpty)
    assert(Documents.ascii85Decode("~>".getBytes("ISO-8859-1")).map(_.length).contains(0))
    // RunLength: literal run, repeat run, EOD stops before trailing bytes
    assert(Documents.runLengthDecode(
        Array[Byte](2, 'a', 'b', 'c', 0xFE.toByte, 'x', 0x80.toByte, 'Z'))
      .map(new String(_, "ISO-8859-1")).contains("abcxxx"))
    assert(Documents.runLengthDecode(Array[Byte](5, 'a')).isEmpty)
    assert(Documents.runLengthDecode(Array[Byte](0xFE.toByte)).isEmpty)

    // a filter CHAIN: deflate then ascii85-wrap, dict lists decode order
    def deflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater()
      d.setInput(b); d.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
      d.end(); bos.toByteArray
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdf-chain")
    val content = "BT (chained filters) Tj ET"
    val wrapped = a85(deflate(content.getBytes("ISO-8859-1")))
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${wrapped.length} " +
      "/Filter [/ASCII85Decode /FlateDecode] >> stream\n")
    bos.write(wrapped); w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val pdf = tmp.resolve("chain.pdf")
    java.nio.file.Files.write(pdf, bos.toByteArray)
    assert(Documents.readResume(pdf.toString) == "chained filters\n")
  }

  test("font resolver ignores 'N 0 obj' byte runs inside stream payloads") {
    import graft.sources.Documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdf-shadow")
    // stream 4's PAYLOAD contains bytes spelling "5 0 obj … /ToUnicode
    // 8 0 R" — compressed data can produce such runs. Indexing that
    // span would shadow the REAL font object 5 (→ CMap 7, "one") with
    // the bogus in-payload dict (→ CMap 8, "bad"). The resolver must
    // skip matches inside known stream byte ranges.
    val payload = "BT /F1 12 Tf (\\101) Tj ET\n" +
      "5 0 obj << /Type /Font /ToUnicode 8 0 R >> endobj"
    val cmapGood = "1 beginbfchar\n<41> <006F006E0065>\nendbfchar\n"
    val cmapBad = "1 beginbfchar\n<41> <0062006100640021>\nendbfchar\n"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R " +
      "/Resources << /Font << /F1 5 0 R >> >> >> endobj\n")
    w(s"4 0 obj << /Length ${payload.length} >> stream\n")
    w(payload); w("\nendstream endobj\n")
    w("5 0 obj << /Type /Font /Subtype /TrueType /ToUnicode 7 0 R >> endobj\n")
    w(s"7 0 obj << /Length ${cmapGood.length} >> stream\n")
    w(cmapGood); w("\nendstream endobj\n")
    w(s"8 0 obj << /Length ${cmapBad.length} >> stream\n")
    w(cmapBad); w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val pdf = tmp.resolve("shadow.pdf")
    java.nio.file.Files.write(pdf, bos.toByteArray)
    assert(Documents.readResume(pdf.toString) == "one\n")
  }

  test("merged-CMap fallback keys 1-byte and 2-byte codes separately") {
    import graft.sources.Documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdf-width")
    // no resolvable font objects → merged-CMap policy. The document
    // carries a TWO-byte mapping <0041>→"Y" (parsed first) and a
    // ONE-byte <41>→"X"; mixed widths → per-byte decode, so byte 0x41
    // must hit the one-byte entry. An untagged merged map would have
    // bound code 65 to "Y" (first-mapping-wins across widths).
    val content = "BT (A) Tj ET"
    val cmap2 = "1 beginbfchar\n<0041> <0059>\nendbfchar\n"
    val cmap1 = "1 beginbfchar\n<41> <0058>\nendbfchar\n"
    val bos = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = bos.write(s.getBytes("ISO-8859-1"))
    w("%PDF-1.4\n")
    w("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
    w("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
    w("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
    w(s"4 0 obj << /Length ${content.length} >> stream\n")
    w(content); w("\nendstream endobj\n")
    w(s"5 0 obj << /Length ${cmap2.length} >> stream\n")
    w(cmap2); w("\nendstream endobj\n")
    w(s"6 0 obj << /Length ${cmap1.length} >> stream\n")
    w(cmap1); w("\nendstream endobj\n")
    w("trailer << /Root 1 0 R >>\n%%EOF\n")
    val pdf = tmp.resolve("width.pdf")
    java.nio.file.Files.write(pdf, bos.toByteArray)
    assert(Documents.readResume(pdf.toString) == "X\n")
  }

  test("resume reader extracts DOCX paragraphs like the reference's extractor") {
    import graft.sources.Documents
    val tmp = java.nio.file.Files.createTempDirectory("graft-docx")
    // a minimal WordprocessingML package: zip + word/document.xml with
    // two paragraphs (the second split across runs, with a tab and a
    // line break) and an empty third — reference joins each paragraph's
    // text with a trailing newline (file_utils.py:36-38)
    val documentXml =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
        |  <w:body>
        |    <w:p><w:r><w:t>Jane Doe</w:t></w:r></w:p>
        |    <w:p>
        |      <w:r><w:t>python</w:t></w:r>
        |      <w:r><w:t xml:space="preserve"> spark</w:t></w:r>
        |      <w:r><w:tab/><w:t>sql</w:t></w:r>
        |      <w:r><w:br/><w:t>linux</w:t></w:r>
        |    </w:p>
        |    <w:tbl><w:tr><w:tc>
        |      <w:p><w:r><w:t>TABLE CELL EXCLUDED</w:t></w:r></w:p>
        |    </w:tc></w:tr></w:tbl>
        |    <w:p/>
        |    <w:sectPr/>
        |  </w:body>
        |</w:document>""".stripMargin
    val docx = tmp.resolve("resume.docx")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(docx))
    try {
      zos.putNextEntry(new java.util.zip.ZipEntry("[Content_Types].xml"))
      zos.write("<Types/>".getBytes("UTF-8"))
      zos.closeEntry()
      zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
      zos.write(documentXml.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
    val text = Documents.readResume(docx.toString)
    // table-cell paragraphs are excluded — python-docx doc.paragraphs
    // (the reference's iteration) covers top-level body paragraphs only
    assert(text == "Jane Doe\npython spark\tsql\nlinux\n\n")
    assert(!text.contains("TABLE CELL"))
    // extracted text drives the skills matcher exactly like txt/md input
    val docs = Seq((1L, "we need python and spark experience")).toDF("doc_id", "text")
    val row = Enrichment.withSkillsColumns(docs, "text", text).collect()(0)
    assert(row.getAs[scala.collection.Seq[String]]("matched_skills").toSeq ==
      Seq("python", "spark"))
    // a zip without the document part is rejected, not silently empty
    val bogus = tmp.resolve("empty.docx")
    val z2 = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(bogus))
    try {
      z2.putNextEntry(new java.util.zip.ZipEntry("mimetype"))
      z2.write("x".getBytes("UTF-8")); z2.closeEntry()
    } finally z2.close()
    val e2 = intercept[IllegalArgumentException](Documents.readResume(bogus.toString))
    assert(e2.getMessage.contains("word/document.xml"))
  }

  test("multi-region orchestrator runs all regions and aggregates outcomes") {
    import graft.pipeline.JobPipeline.{RegionConfig, RegionResult}
    val tmp = java.nio.file.Files.createTempDirectory("graft-regions").toString
    def raw(links: String*) = links.map(link =>
      ("DE", link, "Data Engineer", "2024-01-28 10:00:00", "Feed", "rss",
        "15min", "fine role")
    ).toDF("job_title", "link", "entry_title", "published", "feed_title",
      "reader", "time_window", "summary")
    val cfg = FilterConfig(daysBack = 30, requiredCols = Seq("entry_title"))
    // different row counts: the regions run at once, so each region's
    // count must come from its own region_result observation
    val regions = Seq(
      RegionConfig("texas", raw("tx1"), s"$tmp/tx/stage", s"$tmp/tx/result", Scd1, cfg),
      RegionConfig("us", raw("us1", "us2", "us3"), s"$tmp/us/stage",
        s"$tmp/us/result", Scd1, cfg))
    val (results, ok) = JobPipeline.runRegions(spark, regions, batchTs)
    assert(ok)
    assert(results.map(r => (r.name, r.success, r.rows)) ==
      Seq(("texas", true, 1L), ("us", true, 3L)))

    // one region failing (blank primary key) doesn't stop the other,
    // and flips the aggregate status — the reference's exit-code fold
    val bad = raw("").union(raw("ok1"))
    val (results2, ok2) = JobPipeline.runRegions(spark, Seq(
      RegionConfig("texas", bad, s"$tmp/tx2/stage", s"$tmp/tx2/result", Scd1, cfg),
      RegionConfig("us", raw("us2"), s"$tmp/us2/stage", s"$tmp/us2/result", Scd1, cfg)),
      batchTs)
    assert(!ok2)
    assert(results2.collect { case RegionResult("us", true, n, None) => n } == Seq(1L))
    assert(results2.exists(r => r.name == "texas" && !r.success && r.error.nonEmpty))
  }

  private def rawRows(rows: (String, String)*) = rows.map { case (link, title) =>
    ("DE", link, title, "2024-01-28 10:00:00", "Feed", "rss", "15min", "s")
  }.toDF("job_title", "link", "entry_title", "published", "feed_title",
    "reader", "time_window", "summary")

  test("runRegions runs independent regions at the same time") {
    import graft.pipeline.JobPipeline.RegionConfig
    assume(spark.sparkContext.defaultParallelism >= 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-overlap").toString
    val run = java.util.UUID.randomUUID().toString
    val names = Seq("texas", "us")
    // each region's batch waits until the other region's batch is being
    // read too: run one after the other, the first waits alone and fails
    def raw(region: String) = {
      val meet = udf { (s: String) =>
        RegionRendezvous.meet(s"$run/$region", names.map(n => s"$run/$n")); s
      }.asNondeterministic()
      rawRows(s"http://$region/1" -> "T")
        .withColumn("summary", meet(col("summary")))
    }
    val (results, ok) = JobPipeline.runRegions(spark, names.map(n =>
      RegionConfig(n, raw(n), s"$tmp/$n/stage", s"$tmp/$n/result", Scd1,
        FilterConfig(daysBack = 30))), batchTs)
    assert(ok, results)
    assert(results.map(r => (r.name, r.rows)) == Seq(("texas", 1L), ("us", 1L)))
  }

  test("regions that share a stage path run in config order") {
    import graft.pipeline.JobPipeline.RegionConfig
    val tmp = java.nio.file.Files.createTempDirectory("graft-lane").toString
    val cfg = FilterConfig(daysBack = 30)
    // the first region is slow: run beside the second, it would write
    // and swap its stage last, over the second region's merge
    val slow = udf { (s: String) => Thread.sleep(500); s }.asNondeterministic()
    def regions(dir: String) = Seq(
      RegionConfig("a", rawRows("l1" -> "A", "l2" -> "B")
        .withColumn("summary", slow(col("summary"))),
        s"$dir/stage", s"$dir/result-a", Scd1, cfg),
      RegionConfig("b", rawRows("l1" -> "A2", "l3" -> "C"), s"$dir/stage",
        s"$dir/result-b", Scd1, cfg))
    regions(s"$tmp/serial").foreach(r => JobPipeline.runRegion(spark,
      r.rawBatch, r.stagePath, r.resultPath, r.strategy, r.filter, batchTs))
    val (results, ok) = JobPipeline.runRegions(spark, regions(s"$tmp/lanes"),
      batchTs)
    assert(ok, results)
    assert(results.map(r => (r.name, r.rows)) == Seq(("a", 2L), ("b", 3L)))
    def rows(path: String) = spark.read.parquet(path).orderBy("link")
      .collect().toSeq
    for (t <- Seq("stage", "result-a_next", "result-b_next"))
      assert(rows(s"$tmp/lanes/$t") == rows(s"$tmp/serial/$t"), t)
    assert(rows(s"$tmp/lanes/stage").map(_.getAs[String]("entry_title")) ==
      Seq("A2", "B", "C"))
  }

  test("runRegions' jobs carry the caller's job group") {
    import graft.pipeline.JobPipeline.RegionConfig
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val tmp = java.nio.file.Files.createTempDirectory("graft-jobgroup").toString
    val group = "graft-regions-" + java.util.UUID.randomUUID()
    val marker = "graft-jobgroup-drained"
    @volatile var groups = Vector.empty[String]
    @volatile var drained = 0
    def isMarker(names: Seq[String]) = names.exists(_.startsWith(marker))
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!isMarker(e.stageInfos.flatMap(_.rddInfos.map(_.name))))
          groups :+= String.valueOf(
            Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (isMarker(e.stageInfo.rddInfos.map(_.name))) drained += 1
    }
    // the listener bus delivers in order: once a marker job's stage is
    // seen, every event posted before it has been delivered
    def drain(): Unit = {
      val seen = drained
      spark.sparkContext.parallelize(Seq(1), 1).setName(marker).count()
      eventually(timeout(60.seconds))(assert(drained > seen))
    }
    spark.sparkContext.addSparkListener(jobs)
    try {
      drain()
      groups = Vector.empty
      spark.sparkContext.setJobGroup(group, "runRegions job group test")
      val (results, ok) =
        try JobPipeline.runRegions(spark, Seq("texas", "us").map(n =>
          RegionConfig(n, rawRows(s"http://$n/1" -> "T"), s"$tmp/$n/stage",
            s"$tmp/$n/result", Scd1, FilterConfig(daysBack = 30))), batchTs)
        finally spark.sparkContext.clearJobGroup()
      assert(ok, results)
      drain()
    } finally spark.sparkContext.removeSparkListener(jobs)
    assert(groups.nonEmpty)
    assert(groups.forall(_ == group), groups)
  }

  private def rss(items: (String, String)*): String =
    items.map { case (title, link) =>
      s"<item><title>$title</title><link>$link</link>" +
        "<pubDate>Sun, 28 Jan 2024 10:00:00 +0000</pubDate>" +
        "<description>fine role</description></item>"
    }.mkString("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
      "<title>Feed</title>", "\n", "</channel></rss>")

  private def feedDir(polls: String*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-polls")
    polls.zipWithIndex.foreach { case (xml, i) =>
      java.nio.file.Files.writeString(dir.resolve(f"poll-$i%03d.xml"), xml)
    }
    dir.toString
  }

  private def feed(dir: String) =
    spark.read.format("graft.sources.feed.FeedDataSource").option("path", dir).load()

  private def exists(path: String): Boolean =
    new java.io.File(path).exists()

  test("a null or blank key fails the region and leaves the stage as it was") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-badkey").toString
    val cfg = FilterConfig(daysBack = 30)
    JobPipeline.runRegion(spark, rawRows("l1" -> "A", "l2" -> "B"),
      s"$tmp/stage", s"$tmp/result", Scd1, cfg, batchTs)
    def stageRows() = spark.read.parquet(s"$tmp/stage")
      .orderBy("link").collect().toSeq
    val before = stageRows()
    for (bad <- Seq(" ", null)) {
      val e = intercept[IllegalArgumentException](JobPipeline.runRegion(spark,
        rawRows("l1" -> "A2", bad -> "C", "l3" -> "D"), s"$tmp/stage",
        s"$tmp/result", Scd1, cfg, batchTs))
      assert(e.getMessage ==
        "requirement failed: 1 rows with null/blank primary key 'link'")
      assert(stageRows() == before)
      assert(!exists(s"$tmp/stage_tmp") && !exists(s"$tmp/stage_bak"))
    }
  }

  test("a region of only truncated poll files succeeds with zero rows") {
    import graft.pipeline.JobPipeline.RegionConfig
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val tmp = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val whole = rss("A" -> "http://x/1", "B" -> "http://x/2")
    val dir = feedDir(whole.take(whole.length / 2), whole.take(whole.length - 9))
    val (merged, stats) = JobPipeline.etlStage(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.FeedEntrySchema),
      JobPipeline.normalizeEntries(feed(dir), batchTs), Scd1, batchTs)
    merged.write.parquet(s"$tmp/direct")
    // count_if, not a bare sum: zero rows still observe 0, not null
    val m = Await.result(stats.future, 60.seconds)
    assert((m.getAs[Long]("rows_in"), m.getAs[Long]("invalid_pk"),
      m.getAs[Long]("rows_out")) == ((0L, 0L, 0L)))

    val (results, ok) = JobPipeline.runRegions(spark, Seq(RegionConfig("empty",
      feed(dir), s"$tmp/stage", s"$tmp/result", Scd1, FilterConfig())), batchTs)
    assert(ok && results.map(_.rows) == Seq(0L))
    assert(spark.read.parquet(s"$tmp/stage").count() == 0)
  }

  test("append mode: the region's rows are the rows of result_next") {
    import graft.pipeline.JobPipeline.RegionConfig
    val tmp = java.nio.file.Files.createTempDirectory("graft-append").toString
    val cfg = FilterConfig(daysBack = 30)
    val old = feedDir(rss("Old" -> "http://o/1"))
    JobPipeline.runRegion(spark, feed(old), s"$tmp/a/stage", s"$tmp/a/result",
      Scd1, cfg, batchTs)
    // the earlier run's output is this region's existing result
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$tmp/a/result_next"),
      java.nio.file.Paths.get(s"$tmp/result"))
    val polls = feedDir(rss("A" -> "http://n/1", "B" -> "http://n/2"))
    val (results, ok) = JobPipeline.runRegions(spark, Seq(RegionConfig("r",
      feed(polls), s"$tmp/stage", s"$tmp/result", Scd1, cfg)), batchTs)
    assert(ok)
    assert(results.map(_.rows) ==
      Seq(spark.read.parquet(s"$tmp/result_next").count()))
    assert(results.head.rows == 3L)
  }

  test("runRegion parses each poll file once and observes the etl stage") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val tmp = java.nio.file.Files.createTempDirectory("graft-onepass").toString
    // four poll files, one key re-polled across two of them
    val polls = feedDir(rss("A" -> "http://p/1", "B" -> "http://p/2"),
      rss("A2" -> "http://p/1", "C" -> "http://p/3"), rss("D" -> "http://p/4"),
      rss("E" -> "http://p/5"))
    val marker = "graft-onepass-drained"
    @volatile var scanTasks = 0
    @volatile var drained = false
    @volatile var etl = Seq.empty[org.apache.spark.sql.Row]
    val stages = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val names = e.stageInfo.rddInfos.map(_.name)
        if (names.contains("DataSourceRDD")) scanTasks += e.stageInfo.numTasks
        if (names.contains(marker)) drained = true
      }
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.observedMetrics.get("etl_stage").foreach(r => etl :+= r)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(stages)
    spark.listenerManager.register(queries)
    try {
      JobPipeline.runRegion(spark, feed(polls), s"$tmp/stage", s"$tmp/result",
        Scd1, FilterConfig(daysBack = 30), batchTs)
      // the listener bus delivers in order: once this job's stage is
      // seen, every event of the run before it has been delivered
      spark.sparkContext.parallelize(Seq(1), 1).setName(marker).count()
      eventually(timeout(60.seconds))(assert(drained && etl.nonEmpty))
    } finally {
      spark.sparkContext.removeSparkListener(stages)
      spark.listenerManager.unregister(queries)
    }
    assert(scanTasks == 4)
    val stageRows = spark.read.parquet(s"$tmp/stage").count()
    assert(stageRows == 5L)
    assert(etl.map(r => (r.getAs[Long]("rows_in"), r.getAs[Long]("invalid_pk"),
      r.getAs[Long]("rows_out"))) == Seq((stageRows, 0L, stageRows)))
  }

  test("a repeated runRegions and enrichment pass compiles no new code") {
    import graft.operators.{Merges, TfIdf}
    import graft.pipeline.JobPipeline.{MergeUpsert, RegionConfig}
    import org.apache.spark.metrics.source.CodegenMetrics
    // one backfill operation of the pipeline benchmark, small: two
    // regions through runRegions, then the filtered rows enriched and
    // merged back into the stage rows. Its generated classes must stay
    // in Spark's codegen cache and keep their names (Graft.session sizes
    // the cache and leaves stage ids out of class names), so repeating
    // it compiles nothing
    val resume = "python spark sql linux"
    val regions = Seq("a" -> Scd1, "b" -> MergeUpsert).map { case (r, strategy) =>
      val polls = feedDir((0 until 3).map { p =>
        "<?xml version=\"1.0\"?><rss version=\"2.0\"><channel><title>Feed</title>" +
          (0 until 4).map { i =>
            s"<item><title>Role $p$i</title><link>http://$r/$p/$i</link>" +
              "<pubDate>Sun, 28 Jan 2024 10:00:00 +0000</pubDate>" +
              s"<description>&lt;p&gt;python&amp;nbsp;and spark, sql $r$p$i&lt;/p&gt;" +
              "</description></item>"
          }.mkString + "</channel></rss>"
      }: _*)
      (r, polls, strategy)
    }
    val transport = new Enrichment.BatchTransport {
      def scoreBatch(jobs: Seq[String], resume: String): Seq[Double] =
        jobs.map(_.length.toDouble)
    }
    val scorer = new Enrichment.RetryingScorer(transport, maxTokens = 1000L)
    def pass(dir: String): Long = {
      val (results, ok) = JobPipeline.runRegions(spark, regions.map {
        case (r, polls, strategy) => RegionConfig(r, feed(polls),
          s"$dir/$r/stage", s"$dir/$r/result", strategy, FilterConfig(daysBack = 30))
      }, batchTs)
      assert(ok, results)
      def union(table: String) = regions.map { case (r, _, _) =>
        spark.read.parquet(s"$dir/$r/$table").select(Schemas.FeedEntryCols.map(col): _*)
      }.reduce(_ unionByName _)
      val filtered = union("result_next")
      val widened = Enrichment.toSinkColumns(Enrichment.withLlmScoreBatched(
        Enrichment.withSkillsColumns(filtered, "summary", resume)
          .join(TfIdf.similarity(filtered, "link", "summary", resume), Seq("link")),
        "summary", resume, scorer))
      val added = widened.schema.fields
        .filterNot(f => Schemas.FeedEntryCols.contains(f.name))
      val hist = union("stage").select(Schemas.FeedEntryCols.map(col) ++
        added.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      Merges.scd1(hist, widened.select(hist.columns.map(col).toIndexedSeq: _*), "link",
        Schemas.CompareCols).write.parquet(s"$dir/enriched")
      spark.read.parquet(s"$dir/enriched").filter(col("llm_score").isNotNull).count()
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-codegen").toString
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    assert(pass(s"$tmp/1") == 24L)
    val before = compiles.getCount
    assert(pass(s"$tmp/2") == 24L)
    assert(compiles.getCount - before == 0L)
  }

  test("display timezone converts the published string at ingest") {
    val raw = Seq(
      ("DE", "l1", "T", "2024-01-15 12:00:00", "Feed", "rss", "15min", "s")
    ).toDF("job_title", "link", "entry_title", "published", "feed_title",
      "reader", "time_window", "summary")
    // January = CST = UTC-6, matching the reference's default US/Central
    val central = JobPipeline.normalizeEntries(raw, batchTs, "US/Central")
      .collect()(0).getAs[String]("published")
    assert(central == "2024-01-15 06:00:00")
    val utc = JobPipeline.normalizeEntries(raw, batchTs)
      .collect()(0).getAs[String]("published")
    assert(utc == "2024-01-15 12:00:00") // default stays oracle-pinned
  }

  test("enrichment: skills columns + deterministic scorer") {
    val docs = Seq(
      (1L, "we need python and spark and sql experience"),
      (2L, "requires kubernetes and docker only"),
      (3L, "no dictionary terms here at all")
    ).toDF("doc_id", "text")
    val resume = "python spark sql linux"
    val enriched = Enrichment.withSkillsColumns(docs, "text", resume,
      asOf = Some(batchTs))
    val r1 = enriched.filter($"doc_id" === 1L).collect()(0)
    assert(r1.getAs[scala.collection.Seq[String]]("matched_skills").toSeq == Seq("python", "spark", "sql"))
    assert(r1.getAs[Double]("match_percentage") == 100.0)
    val r2 = enriched.filter($"doc_id" === 2L).collect()(0)
    assert(r2.getAs[Double]("match_percentage") == 0.0)
    assert(r2.getAs[scala.collection.Seq[String]]("missing_skills").toSeq == Seq("docker", "kubernetes"))

    val scored = Enrichment.withLlmScore(docs, "text", resume,
      new Enrichment.DeterministicScorer(), batchSize = 2)
    val s = scored.select($"doc_id", $"llm_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(1L) == 100.0 && s(2L) == 0.0 && s(3L) == 0.0)
  }

  test("multimodal: stub decode produces stable features, plumbing intact") {
    val media = Seq(
      (1L, "image", "some image bytes".getBytes("UTF-8")),
      (2L, "audio", "other audio bytes".getBytes("UTF-8")),
      (3L, "image", Array.emptyByteArray)
    ).toDF("media_id", "kind", "content")
      .withColumn("mime", lit("application/octet-stream"))
      .withColumn("width", lit(null).cast("int"))
      .withColumn("height", lit(null).cast("int"))
      .withColumn("duration_ms", lit(null).cast("bigint"))
    val f = Multimodal.extractFeatures(media, dim = 4).cache()
    assert(f.count() == 3)
    assert(f.schema("feature").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, containsNull = false))
    val f1a = f.filter($"media_id" === 1L).collect()(0).getAs[scala.collection.Seq[Float]]("feature").toSeq
    val f1b = Multimodal.extractFeatures(media, dim = 4)
      .filter($"media_id" === 1L).collect()(0).getAs[scala.collection.Seq[Float]]("feature").toSeq
    assert(f1a == f1b) // deterministic
    assert(f.filter($"media_id" === 3L).collect()(0)
      .getAs[Long]("n_bytes") == 0L)

    val video = Seq((9L, "video", 10_000L)).toDF("media_id", "kind", "duration_ms")
    val plan = Multimodal.frameSamplePlan(video, everyMs = 2500)
    assert(plan.count() == 5) // 0,2500,5000,7500,10000
  }

  test("canonicalSelect self-heals missing columns") {
    val df = Seq(("l1", "t")).toDF("link", "entry_title")
    val out = graft.functions.Normalize.canonicalSelect(df, Schemas.FeedEntryCols)
    assert(out.columns.toSeq == Schemas.FeedEntryCols)
    assert(out.collect()(0).getAs[String]("notes") == "")
  }
}

/** Where the batches of PipelineSpec's overlap test wait for each other
  * (one JVM in local mode, so tasks and test share this object).
  */
object RegionRendezvous {
  private val arrived = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Marks `me` as arrived, then waits up to 60 s until every one of
    * `all` has; throws if they have not.
    */
  def meet(me: String, all: Seq[String]): Unit = {
    arrived.add(me)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!all.forall(arrived.contains)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(s"$me waited 60 s for $all")
      Thread.sleep(10)
    }
  }
}
