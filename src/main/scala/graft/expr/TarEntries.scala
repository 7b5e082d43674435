package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** TAR archive walk over a binary column:
  * `graft_tar_entries(content)` → `array<struct<path, size,
  * content>>` — [[WarcRecords]]' archive sibling for the OTHER bulk
  * container a training-data crawl meets constantly: source-code
  * dumps, dataset releases and backup mirrors ship as `.tar` /
  * `.tar.gz`, and the per-file text inside is exactly the document
  * tier's input. Gzip input is detected by magic and inflated under
  * the same cap discipline as the WARC walk.
  *
  * Format coverage (the POSIX ustar layout plus the two extension
  * systems real tars actually use):
  *  - 512-byte headers: 100-byte name + 155-byte ustar prefix
  *    (joined `prefix/name`), octal size/mtime, checksum VERIFIED
  *    (unsigned sum rule, chksum field counted as spaces; a failed
  *    checksum stops the walk — headers after corruption are noise);
  *  - typeflags: regular files ('0' / NUL) emitted; directories,
  *    links, FIFOs, devices skipped structurally;
  *  - GNU long names (typeflag 'L': the NEXT entry's name is the
  *    payload) and PAX extended headers (typeflag 'x'/'g':
  *    `len key=value\n` records; a `path` override applies to the
  *    next entry);
  *  - two consecutive zero blocks end the archive (and a clean EOF
  *    without them is tolerated — the ragged-tail convention).
  *
  * Bomb guards: per-entry payload cap [[MaxEntryBytes]] (oversized
  * entries are SKIPPED structurally — their headers still advance
  * the walk, so one huge file doesn't hide the rest), total
  * extracted cap [[MaxTotalBytes]] (walk stops with entries already
  * collected), at most `maxEntries` entries, and the gzip inflate
  * cap. Not a tar at all → NULL, never an error. Pure per-row
  * projection; explode downstream for the per-file document rows.
  */
case class TarEntries(child: Expression, maxEntries: Int)
    extends UnaryExpression {

  override def dataType: DataType = TarEntries.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${TarEntries.FunctionName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxEntries < 1 || maxEntries > 65536)
      TypeCheckResult.TypeCheckFailure(
        s"${TarEntries.FunctionName} maxEntries must be in [1, 65536]: " +
          maxEntries)
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    TarEntries.entries(v.asInstanceOf[Array[Byte]], maxEntries)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.TarEntries.entries($c, $maxEntries);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      TarEntries = copy(child = newChild)
}

object TarEntries {
  val FunctionName = "graft_tar_entries"

  val MaxEntryBytes: Int = 8 << 20 // 8 MiB per file
  val MaxTotalBytes: Long = 64L << 20 // 64 MiB per archive (also inflate)

  val EntrySchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false)))

  val Schema: DataType = ArrayType(EntrySchema, containsNull = false)

  private def gunzip(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.min(b.length * 4, 1 << 20))
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n > 0 && out.size() < MaxTotalBytes) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
    } catch { case _: Exception => () } // keep what inflated
    out.toByteArray
  }

  /** Octal field: ASCII octal digits, space/NUL terminated; the GNU
    * base-256 form (top bit of first byte) handled for size.
    */
  private def octal(b: Array[Byte], o: Int, len: Int): Long = {
    if ((b(o) & 0x80) != 0) { // base-256 (GNU large files)
      var v = (b(o) & 0x7fL)
      var i = 1
      while (i < len) { v = (v << 8) | (b(o + i) & 0xffL); i += 1 }
      return v
    }
    var v = 0L
    var i = 0
    var started = false
    while (i < len) {
      val c = b(o + i)
      if (c >= '0' && c <= '7') { v = (v << 3) | (c - '0'); started = true }
      else if (started || (c != ' ' && c != 0)) i = len // stop
      i += 1
    }
    v
  }

  private def str(b: Array[Byte], o: Int, len: Int): String = {
    var n = 0
    while (n < len && b(o + n) != 0) n += 1
    new String(b, o, n, "UTF-8")
  }

  def entries(raw: Array[Byte], maxEntries: Int): GenericArrayData = {
    if (raw == null || raw.length < 18) return null
    val b =
      if ((raw(0) & 0xff) == 0x1f && (raw(1) & 0xff) == 0x8b) gunzip(raw)
      else if (raw(0) == 'B' && raw(1) == 'Z' && raw(2) == 'h') {
        // tar.bz2 — the clean-room decoder, same cap discipline
        val d = Bzip2.decode(raw)
        if (d == null) return null
        d
      } else if (raw(0) == 0xfd.toByte && raw(1) == '7' && raw(2) == 'z' &&
          raw(3) == 'X' && raw(4) == 'Z') {
        // tar.xz — the clean-room LZMA2 decoder
        val d = Xz.decode(raw)
        if (d == null) return null
        d
      } else if (Lz4.isLz4(raw)) {
        // tar.lz4 — the clean-room LZ4 decoder
        val d = Lz4.decode(raw)
        if (d == null) return null
        d
      } else if (Snappy.isFramed(raw)) {
        // tar.sz — the snappy framing format
        val d = Snappy.decode(raw)
        if (d == null) return null
        d
      } else if (Lzw.isLzw(raw)) {
        // tar.Z — Unix compress
        val d = Lzw.decode(raw)
        if (d == null) return null
        d
      } else if ((raw(0) == 0x28 && raw(1) == 0xb5.toByte &&
          raw(2) == 0x2f && raw(3) == 0xfd.toByte) ||
          ((raw(0) & 0xf0) == 0x50 && raw(1) == 0x2a &&
            raw(2) == 0x4d && raw(3) == 0x18)) {
        // tar.zst / tar.lz4 — zstd and lz4 share the skippable-frame
        // magic family, so a skippable-leading file peeks past them
        val d = if (Lz4.leadsToLz4(raw)) Lz4.decode(raw)
          else Zstd.decode(raw)
        if (d == null) return null
        d
      } else raw
    if (b.length < 512) return null
    // recognition: a valid first-header checksum (ustar magic is
    // absent from pre-POSIX tars, so the checksum IS the magic)
    if (!checksumOk(b, 0)) return null

    val out = new java.util.ArrayList[GenericInternalRow]()
    var total = 0L
    var o = 0
    var pendingLongName: String = null
    var pendingPaxPath: String = null
    var zeroBlocks = 0
    var ok = true
    while (ok && o + 512 <= b.length && out.size < maxEntries) {
      if (isZeroBlock(b, o)) {
        zeroBlocks += 1
        if (zeroBlocks >= 2) ok = false
        o += 512
      } else {
        zeroBlocks = 0
        if (!checksumOk(b, o)) ok = false
        else {
          val size = octal(b, o + 124, 12)
          val typeflag = b(o + 156)
          val dataBlocks = ((size + 511) / 512).toInt
          val dataEnd = o + 512 + dataBlocks * 512
          if (size < 0 || dataEnd < 0 || o + 512 + size > b.length) ok = false
          else {
            val rawName = {
              val base = str(b, o, 100)
              val prefix = str(b, o + 345, 155)
              if (prefix.nonEmpty) prefix + "/" + base else base
            }
            typeflag match {
              case 'L' => // GNU long name: payload names the NEXT entry
                pendingLongName = str(b, o + 512,
                  math.min(size, 4096L).toInt)
              case 'x' | 'g' => // PAX records: len key=value\n
                var p = o + 512
                val end = (o + 512 + math.min(size, 65536L)).toInt
                var guard = 0
                while (p < end && guard < 1024) {
                  var q = p
                  while (q < end && b(q) != ' ') q += 1
                  val recLen =
                    try new String(b, p, q - p, "UTF-8").toInt
                    catch { case _: Exception => -1 }
                  // valLen can be negative for malformed records (e.g.
                  // a declared length shorter than the "len " prefix
                  // itself, like bytes "2 x"): the value spans
                  // (q+1, p+recLen-1) and both bounds come from
                  // untrusted input, so triage the record stream rather
                  // than let String throw out of the task.
                  val valLen = p + recLen - q - 2
                  if (recLen <= 0 || p + recLen > end || q >= end ||
                      valLen < 0) { p = end }
                  else {
                    val rec = new String(b, q + 1, valLen, "UTF-8")
                    val eq = rec.indexOf('=')
                    if (eq > 0 && rec.substring(0, eq) == "path" &&
                        typeflag == 'x')
                      pendingPaxPath = rec.substring(eq + 1)
                    p += recLen
                  }
                  guard += 1
                }
              case 0 | '0' => // regular file
                val name =
                  if (pendingPaxPath != null) pendingPaxPath
                  else if (pendingLongName != null) pendingLongName
                  else rawName
                pendingPaxPath = null
                pendingLongName = null
                if (size <= MaxEntryBytes &&
                    total + size <= MaxTotalBytes) {
                  val payload = java.util.Arrays.copyOfRange(b, o + 512,
                    (o + 512 + size).toInt)
                  total += size
                  out.add(new GenericInternalRow(Array[Any](
                    UTF8String.fromString(name), size, payload)))
                }
                // oversized entries: header consumed, payload skipped
              case _ => // dirs, links, devices: structural skip
                pendingPaxPath = null
                pendingLongName = null
            }
            o = dataEnd
          }
        }
      }
    }
    if (out.isEmpty && b.length >= 1024 && !isZeroBlock(b, 0)) {
      // a checksum-valid archive of only dirs/links is a valid
      // empty result; fall through
    }
    val arr = new Array[Any](out.size)
    var i = 0
    while (i < out.size) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }

  private def isZeroBlock(b: Array[Byte], o: Int): Boolean = {
    var i = 0
    while (i < 512) {
      if (b(o + i) != 0) return false
      i += 1
    }
    true
  }

  /** Header checksum: unsigned byte sum with the chksum field (8
    * bytes at 148) counted as spaces, compared to the stored octal.
    */
  private def checksumOk(b: Array[Byte], o: Int): Boolean = {
    if (o + 512 > b.length) return false
    var sum = 0L
    var i = 0
    while (i < 512) {
      sum += (if (i >= 148 && i < 156) 0x20 else b(o + i) & 0xff)
      i += 1
    }
    val stored = octal(b, o + 148, 8)
    stored > 0 && stored == sum
  }
}
