package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** WARC (ISO 28500) record extraction — the Common Crawl ingestion
  * primitive. A WARC file is a sequence of records, each a
  * `WARC/1.x` version line + named header lines (folded continuation
  * lines supported, names case-insensitive) + a blank line + exactly
  * `Content-Length` payload bytes + `\r\n\r\n`. Crawl archives ship
  * as per-record gzip MEMBERS concatenated into one `.warc.gz`
  * stream — which is precisely why a generic splitter cannot chunk
  * them and why this parses WHOLE files: read with Spark's
  * `binaryFile` source (one row per file), extract records with this
  * expression, explode, and the blob projects away. Gzip input is
  * detected by magic and inflated via GZIPInputStream, which reads
  * concatenated members natively.
  *
  * Per record: (warc_type, target_uri, warc_date, content_type,
  * payload). The HTTP split (status line, headers, body) for
  * `response` records is downstream relational work
  * ([[graft.operators.Warc]]), not parsing state here — the payload
  * is returned verbatim.
  *
  * Bomb guards mirror the media tier: at most `maxRecords` records,
  * no payload above 8 MiB, 64 MiB total extracted (also the
  * inflation cap for gzip input — a 100:1 zip bomb stops at the cap
  * with the records already collected). A malformed record header or
  * a payload running past the buffer ends the walk with the records
  * already collected (truncated tail == truncated file). Not WARC at
  * all → NULL, never an error.
  */
case class WarcRecords(child: Expression, maxRecords: Int)
    extends UnaryExpression {

  override def dataType: DataType = WarcRecords.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${WarcRecords.FunctionName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxRecords < 1 || maxRecords > 65536)
      TypeCheckResult.TypeCheckFailure(
        s"${WarcRecords.FunctionName} maxRecords must be in [1, 65536]: " +
          maxRecords)
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    WarcRecords.records(v.asInstanceOf[Array[Byte]], maxRecords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.WarcRecords.records($c, $maxRecords);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): WarcRecords =
    copy(child = newChild)
}

object WarcRecords {
  val FunctionName = "graft_warc_records"

  val MaxPayloadBytes: Int = 8 << 20   // 8 MiB per record
  val MaxTotalBytes: Long = 64L << 20  // 64 MiB per file (also inflate cap)

  val RecordSchema: StructType = StructType(Seq(
    StructField("warc_type", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("warc_date", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = false)))

  val Schema: DataType = ArrayType(RecordSchema, containsNull = false)

  /** Multi-member-aware gunzip with a hard output cap; returns what
    * inflated up to the cap (a capped prefix still yields its whole
    * records — the truncated-tail trade).
    */
  private def gunzip(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(b.length * 4, 1 << 20))
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n > 0 && out.size() < MaxTotalBytes) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
    } catch { case _: java.io.IOException => /* keep what inflated */ }
    out.toByteArray
  }

  /** bytes → array of record structs, or null. Static for codegen. */
  def records(raw: Array[Byte], maxRecords: Int): GenericArrayData = {
    if (raw == null || raw.length < 8) return null
    val b =
      if ((raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b) gunzip(raw)
      else raw
    if (b.length < 8) return null
    if (!(b(0) == 'W' && b(1) == 'A' && b(2) == 'R' && b(3) == 'C' &&
        b(4) == '/')) return null
    val out = new java.util.ArrayList[GenericInternalRow]()
    var total = 0L
    var o = 0
    var ok = true
    while (ok && o < b.length && out.size < maxRecords) {
      // ---- version line
      val vEnd = lineEnd(b, o)
      if (vEnd < 0 || !startsWith(b, o, "WARC/")) ok = false
      else {
        var p = vEnd
        // ---- header lines until the blank line; folded continuations
        // (SP/HT-prefixed) extend the previous value per the spec
        var warcType: String = null; var uri: String = null
        var date: String = null; var ctype: String = null
        var len = -1L
        var headersOk = true
        var done = false
        while (headersOk && !done) {
          val e = lineEnd(b, p)
          if (e < 0) { headersOk = false }
          else if (lineLen(b, p, e) == 0) { done = true; p = e }
          else {
            var q = p
            var colon = -1
            while (colon < 0 && q < e) {
              if (b(q) == ':') colon = q else q += 1
            }
            if (colon < 0) headersOk = false
            else {
              // fold continuation lines into the value
              var valEnd = e
              var next = lineEnd(b, valEnd)
              while (next > 0 && valEnd < b.length &&
                  (lineLen(b, valEnd, next) > 0) &&
                  (b(valEnd) == ' ' || b(valEnd) == '\t')) {
                valEnd = next
                next = lineEnd(b, valEnd)
              }
              val name = new String(b, p, colon - p,
                java.nio.charset.StandardCharsets.ISO_8859_1)
                .trim.toLowerCase(java.util.Locale.ROOT)
              val value = new String(b, colon + 1,
                math.max(rawLineEnd(b, valEnd) - colon - 1, 0),
                java.nio.charset.StandardCharsets.UTF_8)
                .replaceAll("[\r\n]+[ \t]*", " ").trim
              name match {
                case "warc-type" => warcType = value
                case "warc-target-uri" => uri = value
                case "warc-date" => date = value
                case "content-type" => ctype = value
                case "content-length" =>
                  len = try value.toLong catch { case _: Exception => -1L }
                case _ => // other headers carried but unused
              }
              p = valEnd
            }
          }
        }
        if (!headersOk || len < 0 || len > MaxPayloadBytes ||
            p + len > b.length || total + len > MaxTotalBytes) ok = false
        else {
          val payload = new Array[Byte](len.toInt)
          System.arraycopy(b, p, payload, 0, len.toInt)
          total += len
          out.add(new GenericInternalRow(Array[Any](
            utf8(warcType), utf8(uri), utf8(date), utf8(ctype), payload)))
          o = p + len.toInt
          // the record terminator \r\n\r\n (lenient: any CRLF run)
          while (o < b.length && (b(o) == '\r' || b(o) == '\n')) o += 1
        }
      }
    }
    if (out.isEmpty) return null
    val arr = new Array[Any](out.size)
    var i = 0
    while (i < out.size) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def startsWith(b: Array[Byte], o: Int, s: String): Boolean = {
    if (o + s.length > b.length) return false
    var i = 0
    while (i < s.length) {
      if (b(o + i) != s.charAt(i)) return false
      i += 1
    }
    true
  }

  /** Offset just PAST the next newline from `o`, or -1. */
  private def lineEnd(b: Array[Byte], o: Int): Int = {
    var i = o
    while (i < b.length && b(i) != '\n') i += 1
    if (i >= b.length) -1 else i + 1
  }

  /** Content length of the line starting at `o` ending at `e`
    * (exclusive of CR/LF).
    */
  private def lineLen(b: Array[Byte], o: Int, e: Int): Int =
    rawLineEnd(b, e) - o

  /** End offset of the line content whose terminator ends at `e`. */
  private def rawLineEnd(b: Array[Byte], e: Int): Int = {
    var i = e - 1 // e is past '\n'
    if (i >= 0 && i < b.length && b(i) == '\n') i -= 1
    if (i >= 0 && i < b.length && b(i) == '\r') i -= 1
    i + 1
  }
}
