package graft

import org.scalatest.funsuite.AnyFunSuite

/** Wire-level tests for [[graft.expr.TarEntries]] against an
  * independent test-side tar builder (ustar headers written
  * field-by-field from the POSIX layout, checksum computed by the
  * unsigned-sum rule).
  */
class TarEntriesSpec extends AnyFunSuite {

  import graft.expr.TarEntries
  import graft.fixtures.FixtureBytes._

  private def header(name: String, size: Long, typeflag: Char,
      prefix: String = ""): Array[Byte] = {
    val h = new Array[Byte](512)
    def putStr(o: Int, len: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8")
      System.arraycopy(b, 0, h, o, math.min(b.length, len))
    }
    def putOctal(o: Int, len: Int, v: Long): Unit =
      putStr(o, len, ("%0" + (len - 1) + "o").format(v))
    putStr(0, 100, name)
    putOctal(100, 8, 420) // mode 0644
    putOctal(108, 8, 0)
    putOctal(116, 8, 0)
    putOctal(124, 12, size)
    putOctal(136, 12, 1700000000L)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    h(156) = typeflag.toByte
    putStr(257, 6, "ustar")
    h(263) = '0'; h(264) = '0'
    putStr(345, 155, prefix)
    var sum = 0L
    (0 until 512).foreach(i => sum += h(i) & 0xff)
    putStr(148, 7, "%06o".format(sum) + "\u0000")
    h
  }

  private def fileEntry(name: String, content: Array[Byte],
      prefix: String = ""): Array[Byte] = {
    val pad = (512 - content.length % 512) % 512
    header(name, content.length, '0', prefix) ++ content ++
      new Array[Byte](pad)
  }

  private def tar(parts: Array[Byte]*): Array[Byte] =
    parts.reduce(_ ++ _) ++ new Array[Byte](1024) // two zero blocks

  private def entryList(b: Array[Byte]): Seq[(String, Long, String)] = {
    val arr = TarEntries.entries(b, 4096)
    assert(arr != null, "entries returned null")
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 3)
      (r.getUTF8String(0).toString, r.getLong(1),
        new String(r.getBinary(2), "UTF-8"))
    }
  }

  test("plain ustar: files extracted, directories skipped, prefix joined") {
    val t = tar(
      fileEntry("a.txt", ascii("alpha")),
      header("docs/", 0, '5'), // directory
      fileEntry("b/c.py", ascii("print(1)\n")),
      fileEntry("deep.txt", ascii("x"), prefix = "some/long/prefix"))
    val es = entryList(t)
    assert(es == Seq(
      ("a.txt", 5L, "alpha"),
      ("b/c.py", 9L, "print(1)\n"),
      ("some/long/prefix/deep.txt", 1L, "x")))
  }

  test("tar.gz detected by magic and inflated") {
    val plain = tar(fileEntry("z.txt", ascii("zz")))
    val gz = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(plain); g.close(); bos.toByteArray
    }
    assert(entryList(gz) == Seq(("z.txt", 2L, "zz")))
  }

  test("GNU long name applies to the following entry") {
    val longName = "dir/" + ("n" * 150) + ".txt"
    val nameBytes = ascii(longName)
    val pad = (512 - nameBytes.length % 512) % 512
    val lEntry = header("././@LongLink", nameBytes.length, 'L') ++
      nameBytes ++ new Array[Byte](pad)
    val t = tar(lEntry, fileEntry("truncated.txt", ascii("body")))
    assert(entryList(t) == Seq((longName, 4L, "body")))
  }

  test("PAX extended header path override") {
    val rec = {
      // "len path=value\n" with len counting the whole record
      val v = "pax/override/path.rs"
      var len = ("path=" + v).length + 2 // space + newline, 1-digit guess
      var s = s"$len path=$v\n"
      while (s.length != len) { len = s.length; s = s"$len path=$v\n" }
      ascii(s)
    }
    val pad = (512 - rec.length % 512) % 512
    val xEntry = header("ignored", rec.length, 'x') ++ rec ++
      new Array[Byte](pad)
    val t = tar(xEntry, fileEntry("short.rs", ascii("fn main(){}")))
    assert(entryList(t) == Seq(("pax/override/path.rs", 11L, "fn main(){}")))
  }

  test("tar.zst detected by magic and decoded") {
    val plain = tar(fileEntry("z.txt", ascii("zz")),
      fileEntry("deep/a.md", ascii("# hi")))
    val zst = graft.expr.ZstdBuild.store(plain)
    assert(entryList(zst) == Seq(("z.txt", 2L, "zz"), ("deep/a.md", 4L, "# hi")))
  }

  test("tar.zst leading with a skippable frame still dispatches") {
    val plain = tar(fileEntry("z.txt", ascii("zz")))
    val skip = Array[Byte](0x50, 0x2a, 0x4d, 0x18, 3, 0, 0, 0, 9, 9, 9)
    val zst = skip ++ graft.expr.ZstdBuild.store(plain)
    assert(entryList(zst) == Seq(("z.txt", 2L, "zz")))
  }

  test("malformed PAX record with negative value length is triaged") {
    // "2 x" declares a record length (2) shorter than the "len space"
    // prefix itself, so the value span is negative — the walk must
    // skip the record stream, not throw StringIndexOutOfBounds.
    val rec = ascii("2 x")
    val pad = (512 - rec.length % 512) % 512
    val xEntry = header("ignored", rec.length, 'x') ++ rec ++
      new Array[Byte](pad)
    val t = tar(xEntry, fileEntry("after.txt", ascii("ok")))
    assert(entryList(t) == Seq(("after.txt", 2L, "ok")))
  }

  test("PAX record whose length points past a missing space is triaged") {
    // recLen parses (8) but there is no ' ' separator inside it, so q
    // lands at `end`; value bounds must be rejected, not dereferenced.
    val rec = ascii("8nospace")
    val pad = (512 - rec.length % 512) % 512
    val xEntry = header("ignored", rec.length, 'x') ++ rec ++
      new Array[Byte](pad)
    val t = tar(xEntry, fileEntry("f.txt", ascii("y")))
    assert(entryList(t) == Seq(("f.txt", 1L, "y")))
  }

  test("checksum corruption stops the walk with prior entries kept") {
    val good = fileEntry("ok.txt", ascii("fine"))
    val bad = fileEntry("bad.txt", ascii("nope"))
    bad(0) = 'Z' // breaks the checksum
    val t = tar(good, bad, fileEntry("after.txt", ascii("lost")))
    assert(entryList(t) == Seq(("ok.txt", 4L, "fine")))
  }

  test("oversized entry skipped structurally; later entries survive") {
    // a genuinely oversized in-buffer entry: > MaxEntryBytes of real
    // zero blocks — its header advances the walk, its payload is
    // skipped, and the entry AFTER it still extracts
    val bigSize = TarEntries.MaxEntryBytes + 512
    val big = header("big.bin", bigSize, '0') ++
      new Array[Byte](((bigSize + 511) / 512) * 512)
    val t = tar(big, fileEntry("small.txt", ascii("s")))
    assert(entryList(t) == Seq(("small.txt", 1L, "s")))
  }

  test("triage: not a tar, truncated, foreign formats → null") {
    assert(TarEntries.entries(null, 16) == null)
    assert(TarEntries.entries(ascii("short"), 16) == null)
    assert(TarEntries.entries(new Array[Byte](512), 16) == null)
    assert(TarEntries.entries(ascii("x" * 600), 16) == null)
  }
}
