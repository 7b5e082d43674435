package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** `graft_cpio_entries(content[, maxEntries])` →
  * `array<struct<path, size, content>>` — cpio archives, the RPM
  * payload container (`rpm2cpio` output) and the initramfs/kernel
  * convention; both the SVR4 ASCII forms (`070701` newc, `070702`
  * crc — whose per-file checksum, the byte sum of the data, is
  * VERIFIED) and the portable octal form (`070707` odc).
  *
  *  - newc/crc: 110-byte hex headers, names and data 4-padded,
  *    `TRAILER!!!` terminates; a crc-format mismatch fails that
  *    entry's walk closed (the format's own integrity gate);
  *  - odc: 76-byte octal headers, no padding;
  *  - only regular files (mode 0100000) emit; directories,
  *    symlinks, devices are structural;
  *  - compressed archives (`.cpio.gz` and friends) front-decompress
  *    through the shared [[Decompress]] magic dispatch.
  *
  * Bomb guards mirror [[TarEntries]]. Not a cpio → NULL, never an
  * error. Pure per-row projection.
  */
case class CpioEntries(child: Expression, maxEntries: Int)
    extends UnaryExpression {

  override def dataType: DataType = TarEntries.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != org.apache.spark.sql.types.BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"${CpioEntries.FunctionName} expects binary, got " +
          child.dataType.catalogString)
    else if (maxEntries < 1 || maxEntries > 65536)
      TypeCheckResult.TypeCheckFailure(
        s"${CpioEntries.FunctionName} maxEntries must be in [1, 65536]: " +
          maxEntries)
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    CpioEntries.entries(v.asInstanceOf[Array[Byte]], maxEntries)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.CpioEntries.entries($c, $maxEntries);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      CpioEntries = copy(child = newChild)
}

object CpioEntries {
  val FunctionName = "graft_cpio_entries"

  def isCpio(b: Array[Byte]): Boolean =
    b != null && b.length >= 6 && b(0) == '0' && b(1) == '7' &&
      b(2) == '0' && b(3) == '7' && b(4) == '0' &&
      (b(5) == '1' || b(5) == '2' || b(5) == '7')

  private def hex(b: Array[Byte], o: Int, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len) {
      val c = b(o + i) & 0xff
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else return -1
      v = (v << 4) | d
      i += 1
    }
    v
  }

  private def octal(b: Array[Byte], o: Int, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len) {
      val c = b(o + i) & 0xff
      if (c < '0' || c > '7') return -1
      v = (v << 3) | (c - '0')
      i += 1
    }
    v
  }

  def entries(raw: Array[Byte], maxEntries: Int): GenericArrayData = {
    if (raw == null || raw.length < 6) return null
    val b =
      if (isCpio(raw)) raw
      else {
        val d = Decompress.decode(raw)
        if (d == null || !isCpio(d)) return null
        d
      }
    try {
      val out = new java.util.ArrayList[GenericInternalRow]()
      var total = 0L
      var o = 0
      var done = false
      while (!done && out.size < maxEntries) {
        if (o + 6 > b.length || !isCpio(java.util.Arrays.copyOfRange(
            b, o, math.min(o + 6, b.length)))) return finish(out)
        val odc = b(o + 5) == '7'
        val crcForm = b(o + 5) == '2'
        var name: String = null
        var mode = -1L
        var dataFrom = -1
        var dataLen = -1L
        var next = -1
        if (odc) {
          if (o + 76 > b.length) return finish(out)
          mode = octal(b, o + 18, 6)
          val nameSize = octal(b, o + 59, 6)
          dataLen = octal(b, o + 65, 11)
          if (mode < 0 || nameSize <= 0 || dataLen < 0 ||
              o + 76 + nameSize + dataLen > b.length) return finish(out)
          name = new String(b, o + 76, nameSize.toInt - 1, "UTF-8")
          dataFrom = o + 76 + nameSize.toInt
          next = (dataFrom + dataLen).toInt
        } else {
          if (o + 110 > b.length) return finish(out)
          mode = hex(b, o + 14, 8)
          dataLen = hex(b, o + 54, 8)
          val nameSize = hex(b, o + 94, 8)
          val check = hex(b, o + 102, 8)
          if (mode < 0 || nameSize <= 0 || dataLen < 0 || check < 0)
            return finish(out)
          val nameFrom = o + 110
          if (nameFrom + nameSize > b.length) return finish(out)
          name = new String(b, nameFrom, nameSize.toInt - 1, "UTF-8")
          // header+name pads to 4
          dataFrom = ((nameFrom + nameSize.toInt + 3) & ~3)
          if (dataFrom + dataLen > b.length) return finish(out)
          next = ((dataFrom + dataLen + 3) & ~3).toInt
          if (crcForm) {
            var sum = 0L
            var i = dataFrom
            val end = (dataFrom + dataLen).toInt
            while (i < end) { sum += b(i) & 0xff; i += 1 }
            if ((sum & 0xffffffffL) != check) return finish(out)
          } else if (check != 0) return finish(out)
        }
        if (name == "TRAILER!!!") done = true
        else {
          val isRegular = (mode & 0xf000L) == 0x8000L
          if (isRegular && name.nonEmpty &&
              dataLen <= TarEntries.MaxEntryBytes &&
              total + dataLen <= TarEntries.MaxTotalBytes) {
            total += dataLen
            out.add(new GenericInternalRow(Array[Any](
              UTF8String.fromString(name), dataLen,
              java.util.Arrays.copyOfRange(b, dataFrom,
                (dataFrom + dataLen).toInt))))
          }
          o = next
        }
      }
      finish(out)
    } catch {
      case _: ArrayIndexOutOfBoundsException |
          _: NegativeArraySizeException => null
    }
  }

  private def finish(out: java.util.ArrayList[GenericInternalRow]):
      GenericArrayData = {
    if (out.isEmpty) return null
    val arr = new Array[Any](out.size)
    var i = 0
    while (i < out.size) { arr(i) = out.get(i); i += 1 }
    new GenericArrayData(arr)
  }
}
