package graft

import graft.fixtures.FixtureBytes
import graft.fixtures.FixtureBytes._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, unhex}

/** The in-plan (Column) fixture builders agree with the JVM (array)
  * builders and the `Writer` on their domain, so a query's fixture and
  * a spec's fixture spell the same bytes.
  */
class FixtureBytesSpec extends SparkSpec {

  private val boundaries =
    Seq(0L, 1L, 255L, 256L, 65535L, 65536L, (1L << 31) - 1, (1L << 32) - 1)

  /** Evaluates Column builders in one Spark row. */
  private def eval(cs: Seq[Column]): Seq[Any] =
    spark.range(1).select(cs: _*).head().toSeq

  private def hexStr(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02X").mkString

  test("Column le16/le32/be/le32hex/be16/byteHex equal the array forms") {
    val u16 = boundaries.filter(_ <= 65535L)
    val u8 = boundaries.filter(_ <= 255L)
    val got = eval(u16.map(v => le16(lit(v))) ++
      boundaries.map(v => le32(lit(v))) ++
      boundaries.map(v => be(lit(v), 8)) ++
      boundaries.map(v => le32hex(lit(v))) ++
      u16.map(v => be16(lit(v))) ++
      u8.map(v => byteHex(lit(v))) ++
      u8.map(v => unhex(byteHex(lit(v)))))
    val want: Seq[Any] = u16.map(v => le16(v.toInt)) ++
      boundaries.map(v => le32(v.toInt)) ++
      boundaries.map(v => be32(v.toInt)) ++
      boundaries.map(v => hexStr(le32(v.toInt))) ++
      u16.map(v => hexStr(be32(v.toInt).drop(2))) ++
      u8.map(v => hexStr(Array(v.toByte))) ++
      u8.map(v => Array(v.toByte))
    assert(got.size == want.size)
    got.zip(want).zipWithIndex.foreach {
      case ((g: Array[Byte], w: Array[Byte]), i) =>
        assert(g.sameElements(w), s"#$i: ${hexStr(g)} vs ${hexStr(w)}")
      case ((g, w), i) => assert(g == w, s"#$i")
    }
  }

  test("Column le64 and asciiLit equal the Writer and ascii") {
    val longs = boundaries :+ Long.MaxValue
    val got = eval(longs.map(v => le64(lit(v))) :+ asciiLit("RIFFé"))
    longs.zip(got).foreach { case (v, g) =>
      val w = new Writer
      w.le64(v)
      assert(g.asInstanceOf[Array[Byte]].sameElements(w.result), s"le64($v)")
    }
    assert(got.last.asInstanceOf[Array[Byte]]
      .sameElements(Array[Byte]('R', 'I', 'F', 'F', 0xe9.toByte)))
    assert(hexOf("RIFF") == "52494646")
  }

  test("the Column forms' domain is [0, 2^32): lpad truncates hex") {
    // hex(-2) is 16 digits of two's complement; lpad keeps the first 8,
    // so the Column form does not wrap the way the array form does
    val Seq(col32, col16) = eval(Seq(le32(lit(-2L)), le16(lit(65536L))))
    assert(hexStr(col32.asInstanceOf[Array[Byte]]) == "FFFFFFFF")
    assert(hexStr(le32(-2)) == "FEFFFFFF")
    assert(hexStr(col16.asInstanceOf[Array[Byte]]) == "0010")
    assert(hexStr(le16(65536)) == "0000")
  }

  test("Writer output equals the array builders") {
    boundaries.foreach { v =>
      val w = new Writer
      w.u8(v.toInt); w.le16(v.toInt); w.le32(v); w.le64(v)
      val want = Array(v.toByte) ++ le16(v.toInt) ++ le32(v.toInt) ++
        le32(v.toInt) ++ le32((v >> 32).toInt)
      assert(w.result.sameElements(want), s"v=$v")
    }
    val w = new Writer
    w.bytes(ascii("abc")); w.pad(4, 0xff)
    w.bytes(ascii("xyz"), 1, 2); w.pad(8)
    assert(w.result.sameElements(
      ascii("abc") ++ Array(0xff.toByte) ++ ascii("yz") ++ Array[Byte](0, 0)))
  }

  test("tarOf writes ustar entries that graft_tar_entries reads back") {
    val tar = tarOf(Seq("a.txt" -> ascii("hello"), "b/c.txt" -> ascii("")))
    assert(tar.length == 512 + 512 + 512 + 1024)
    // a typeflag-'5' directory header ahead of them is walked past
    val arr = graft.expr.TarEntries.entries(tarHeader("d/", 0, '5') ++ tar, 16)
    val rows = (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 3)
      (r.getUTF8String(0).toString, new String(r.getBinary(2), "ISO-8859-1"))
    }
    assert(rows == Seq("a.txt" -> "hello", "b/c.txt" -> ""))
    assert(FixtureBytes.gz(tar).length < tar.length)
  }
}
