package graft.fixtures

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{concat, hex, lit, lpad, substring, unhex}

/** Byte builders for the binary fixtures that the document, codec and
  * media queries, the `*Build` encoders, the dev mains and the specs
  * construct: one copy of each, shared by all of them.
  *
  * Two families share names where their argument types differ:
  *  - Column builders (`le16(c: Column)`, `be(c, n)`, `byteHex`, …) are
  *    Catalyst expressions that build a fixture in-plan, so the DuckDB
  *    oracle can replay the same arithmetic. Their domain is integers in
  *    [0, 2^32) (`le16`: [0, 2^16); `le64`: any Long). They `lpad`
  *    Spark's `hex` to a fixed width, and `lpad` truncates a longer
  *    string from the right: `hex` prints a negative value as 16 digits
  *    of two's complement, so Column `le32(lit(-2))` is `FF FF FF FF`,
  *    not the `FE FF FF FF` of array `le32(-2)`.
  *  - Array builders (`le16(v: Int)`, `ascii`, `tarOf`, …) build bytes on
  *    the JVM, inside fixture UDFs, encoders and tests. They take the low
  *    bytes of any `Int`.
  *
  * These are fixture writers only. The decoders keep their own bounded
  * readers (`le32(b, o)`), which sit on the hostile-input path.
  */
object FixtureBytes {

  // ---- Column builders -------------------------------------------------

  /** The ISO-8859-1 bytes of `s` as a binary literal. */
  def asciiLit(s: String): Column = lit(s.getBytes("ISO-8859-1"))

  /** `c` as `hexDigits / 2` big-endian bytes. */
  def be(c: Column, hexDigits: Int): Column =
    unhex(lpad(hex(c), hexDigits, "0"))

  /** `c` as 4 big-endian hex digits (a string, not bytes). */
  def be16(c: Column): Column = lpad(hex(c), 4, "0")

  /** `c` as 2 hex digits (a string, not bytes). */
  def byteHex(c: Column): Column = lpad(hex(c), 2, "0")

  def le16(c: Column): Column = {
    val h = lpad(hex(c), 4, "0")
    unhex(concat(substring(h, 3, 2), substring(h, 1, 2)))
  }

  def le32(c: Column): Column = unhex(le32hex(c))

  /** `c` as 8 little-endian hex digits (a string, not bytes). */
  def le32hex(c: Column): Column = {
    val h = lpad(hex(c), 8, "0")
    concat(substring(h, 7, 2), substring(h, 5, 2),
      substring(h, 3, 2), substring(h, 1, 2))
  }

  def le64(c: Column): Column = {
    val h = lpad(hex(c), 16, "0")
    unhex(concat((0 until 8).reverse.map(i =>
      substring(h, 1 + 2 * i, 2)): _*))
  }

  // ---- Array builders --------------------------------------------------

  def ascii(s: String): Array[Byte] = s.getBytes("ISO-8859-1")

  /** The ISO-8859-1 bytes of `s` as upper-case hex digits. */
  def hexOf(s: String): String =
    ascii(s).map(b => f"${b & 0xff}%02X").mkString

  def le16(v: Int): Array[Byte] = Array[Byte](v.toByte, (v >> 8).toByte)

  def le32(v: Int): Array[Byte] = Array[Byte](v.toByte, (v >> 8).toByte,
    (v >> 16).toByte, (v >> 24).toByte)

  def be32(v: Int): Array[Byte] = Array[Byte]((v >> 24).toByte,
    (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(bos)
    z.write(b); z.close(); bos.toByteArray
  }

  /** A one-page PDF whose content stream shows `line`. */
  def pdfDoc(line: String): Array[Byte] = {
    val content = s"BT /F1 12 Tf ($line) Tj ET"
    ascii("%PDF-1.4\n" +
      s"4 0 obj << /Length ${content.length} >> stream\n" +
      content + "\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n")
  }

  /** A DOCX holding only `word/document.xml`, one paragraph of `line`. */
  def docxDoc(line: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    z.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    z.write(("<w:document xmlns:w=\"http://schemas.openxmlformats" +
      s".org/wordprocessingml/2006/main\"><w:body><w:p><w:r><w:t>" +
      s"$line</w:t></w:r></w:p></w:body></w:document>").getBytes("UTF-8"))
    z.closeEntry(); z.close(); bos.toByteArray
  }

  /** A 512-byte ustar header: mode 0644, uid/gid 0, a fixed mtime, the
    * checksum ended with a space. `typeflag` '0' is a regular file.
    */
  def tarHeader(name: String, size: Long,
      typeflag: Char = '0'): Array[Byte] = {
    val h = new Array[Byte](512)
    def putStr(o: Int, len: Int, str: String): Unit = {
      val bb = str.getBytes("UTF-8")
      System.arraycopy(bb, 0, h, o, math.min(bb.length, len))
    }
    def putOctal(o: Int, len: Int, v: Long): Unit =
      putStr(o, len, ("%0" + (len - 1) + "o").format(v))
    putStr(0, 100, name)
    putOctal(100, 8, 420); putOctal(108, 8, 0); putOctal(116, 8, 0)
    putOctal(124, 12, size); putOctal(136, 12, 1700000000L)
    java.util.Arrays.fill(h, 148, 156, ' '.toByte)
    h(156) = typeflag.toByte
    putStr(257, 6, "ustar"); h(263) = '0'; h(264) = '0'
    var sum = 0L
    (0 until 512).foreach(i => sum += h(i) & 0xff)
    putStr(148, 7, "%06o".format(sum) + " ")
    h
  }

  /** A tar of regular files, each padded to 512 bytes, then the two
    * zero end-of-archive blocks.
    */
  def tarOf(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, c) =>
      out.write(tarHeader(name, c.length)); out.write(c)
      out.write(new Array[Byte]((512 - c.length % 512) % 512))
    }
    out.write(new Array[Byte](1024))
    out.toByteArray
  }

  /** Little-endian byte writer for the `*Build` encoders. */
  final class Writer {
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def le16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def le32(v: Long): Unit = le(v, 4)
    def le64(v: Long): Unit = le(v, 8)
    private def le(v: Long, n: Int): Unit = {
      var i = 0
      while (i < n) { u8(((v >> (8 * i)) & 0xff).toInt); i += 1 }
    }
    def bytes(b: Array[Byte]): Unit = out.write(b)
    def bytes(b: Array[Byte], from: Int, len: Int): Unit =
      out.write(b, from, len)
    /** Writes `fill` until the length is a multiple of `to`. */
    def pad(to: Int, fill: Int = 0): Unit =
      while (out.size() % to != 0) u8(fill)
    def result: Array[Byte] = out.toByteArray
  }
}
