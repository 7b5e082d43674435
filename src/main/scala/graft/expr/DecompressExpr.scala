package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType}

/** `graft_decompress(content)` → binary — ONE magic-dispatched
  * decompression surface over the whole tier: gzip (multi-member,
  * JDK inflate), bzip2, xz/LZMA2 and zstd all ship in dataset
  * releases as `.jsonl.<ext>` shards, and a pipeline reading a mixed
  * drop shouldn't switch expressions per file. Unrecognized magic →
  * NULL (compose `coalesce(graft_decompress(c), c)` for
  * maybe-compressed columns); corrupt input follows each decoder's
  * own triage contract. Output capped by the per-format caps
  * ([[Xz.MaxOutBytes]]-class, and the same 64 MiB gzip cap the
  * archive walk uses). Pure per-row projection.
  */
case class DecompressExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${Decompress.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(b: Any): Any =
    Decompress.decode(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      s"""
         |${ev.value} = graft.expr.Decompress.decode($b);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      DecompressExpr = copy(child = newChild)
}

object Decompress {
  val FunctionName = "graft_decompress"

  val MaxOutBytes: Int = 64 << 20

  /** Multi-member gzip (concatenated-member files are how crawl and
    * log tooling appends); cap-guarded; partial result on a torn
    * tail once at least one member inflated, null when nothing did.
    */
  private[graft] def gunzip(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(b))
      val buf = new Array[Byte](64 << 10)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        if (out.size() > MaxOutBytes) return null
        n = in.read(buf)
      }
    } catch {
      case _: Exception => if (out.size() == 0) return null
    }
    out.toByteArray
  }

  def decode(b: Array[Byte]): Array[Byte] = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b) gunzip(b)
    else if (b(0) == 'B' && b(1) == 'Z' && b(2) == 'h') Bzip2.decode(b)
    else if (b(0) == 0xfd.toByte && b(1) == '7' && b(2) == 'z' &&
        b(3) == 'X') Xz.decode(b)
    else if (b(0) == 0x28 && b(1) == 0xb5.toByte && b(2) == 0x2f &&
        b(3) == 0xfd.toByte) Zstd.decode(b)
    else if (Lz4.isLz4(b)) Lz4.decode(b)
    else if (Snappy.isFramed(b)) Snappy.decode(b)
    else if (Lzw.isLzw(b)) Lzw.decode(b) // Unix compress .Z
    else if ((b(0) & 0xf0) == 0x50 && b(1) == 0x2a && b(2) == 0x4d &&
        b(3) == 0x18) {
      // zstd AND lz4 files may LEAD with a skippable frame (the two
      // formats share the 0x184D2A5x magic family); peek past the
      // skippables to pick the decoder
      if (Lz4.leadsToLz4(b)) Lz4.decode(b) else Zstd.decode(b)
    }
    else if ((b(0) & 0xff) < 225 && b.length >= 18 && b(13) == 0)
      // .lzma "alone" has no magic: gate on a valid props byte and
      // the raw LZMA stream's mandatory 0x00 first byte, then let
      // decodeAlone's structural checks (size field, end marker,
      // range-coder decode) reject impostors
      Xz.decodeAlone(b)
    else null
  }
}
