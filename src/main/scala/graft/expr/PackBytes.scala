package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Pack an array<bigint> into binary, `width` bytes per value,
  * big- or little-endian — the fixture-construction kernel of the
  * media/codec queries (r16 optimization).
  *
  * The declared queries build their deterministic in-plan fixtures
  * (PPM pixel streams, WAV sample data, zlib/PNG byte bodies) as
  *
  *   unhex(array_join(transform(seq, k -> lpad(hex(v(k)), 2, '0')), ''))
  *
  * which allocates 2-6 short-lived strings PER BYTE inside the
  * interpreted lambda machinery — measured ~40 % of the fixture
  * stage's task time at sf0.1. This expression consumes the long
  * array from one `transform` (arithmetic-only lambda, no string
  * garbage) and writes the bytes in a single pass:
  *
  *   graft_pack_bytes(transform(seq, k -> v(k)), 2, false)  -- 16-bit LE
  *
  * Byte semantics are EXACTLY the composed hex forms for in-range
  * values (0 <= v < 256^width, the only values the fixture formulas
  * produce): value v emits its `width` low bytes, most-significant
  * first when `bigEndian`, least-significant first otherwise.
  * Out-of-range values take the low `width` bytes (mod semantics);
  * null slots emit zero bytes for the slot (the fixture producers
  * never emit nulls — this mirrors how lpad(hex(null)) would null the
  * whole array_join, fail-closed callers coalesce anyway). Null
  * array → null.
  */
case class PackBytes(child: Expression, width: Int, bigEndian: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if width >= 1 && width <= 8 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_pack_bytes expects array<bigint> and width in [1,8], got " +
        s"${other.catalogString} / $width")
  }

  override def nullSafeEval(v: Any): Any = {
    val xs = v.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val out = new Array[Byte](n * width)
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        val x = xs.getLong(i)
        var b = 0
        while (b < width) {
          val shift = if (bigEndian) (width - 1 - b) * 8 else b * 8
          out(i * width + b) = ((x >>> shift) & 0xff).toByte
          b += 1
        }
      }
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): PackBytes =
    copy(child = newChild)
}

object PackBytes {
  val FunctionName = "graft_pack_bytes"
}
