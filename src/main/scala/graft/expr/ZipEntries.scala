package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** ZIP archive walk over a binary column:
  * `graft_zip_entries(content)` → `array<struct<path, size,
  * content>>` — [[TarEntries]]' zip sibling, completing the archive
  * pair (datasets and code dumps ship as either). The walk is
  * [[EpubText]]'s PROVEN hand zip machinery (local-file-header walk,
  * stored + deflate methods via `Inflater(nowrap)`, data-descriptor
  * streams, the per-entry and per-archive inflate caps that make a
  * zip bomb stop at the cap with entries already collected) exposed
  * generically instead of through the EPUB/DOCX payload selectors —
  * directories (trailing `/`) skipped, everything else emitted in
  * archive order.
  *
  * Not a zip (`PK\3\4`) → NULL, never an error. Pure per-row
  * projection; explode downstream for per-file document rows.
  */
case class ZipEntries(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ZipEntries.Schema

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"${ZipEntries.FunctionName} expects binary, got ${t.catalogString}")
    }

  override def nullSafeEval(v: Any): Any =
    ZipEntries.entries(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.expr.ZipEntries.entries($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression):
      ZipEntries = copy(child = newChild)
}

object ZipEntries {
  val FunctionName = "graft_zip_entries"

  val EntrySchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("size", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false)))

  val Schema: DataType = ArrayType(EntrySchema, containsNull = false)

  def entries(b: Array[Byte]): GenericArrayData = {
    if (b == null || b.length < 30) return null
    if (!(b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4)) return null
    val m =
      try EpubText.zipEntries(b)
      catch { case _: Exception => return null }
    val rows = new java.util.ArrayList[GenericInternalRow]()
    m.foreach { case (name, content) =>
      if (!name.endsWith("/"))
        rows.add(new GenericInternalRow(Array[Any](
          UTF8String.fromString(name), content.length.toLong, content)))
    }
    val arr = new Array[Any](rows.size)
    var i = 0
    while (i < rows.size) { arr(i) = rows.get(i); i += 1 }
    new GenericArrayData(arr)
  }
}
