package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch as a NATIVE mergeable aggregate — the
  * frequency-estimation twin of [[KmvSketchAgg]] (distinct counting).
  *
  * The sketch is a depth×width counter matrix: per value, row j
  * increments bucket md5(value ∥ "#" ∥ j) mod width; the estimate for
  * a key is the MIN over rows of its bucket counts (never an
  * underestimate, overestimates bounded by collisions). The buffer is
  * a FIXED d·w long array regardless of input cardinality, `merge` is
  * element-wise addition — the textbook mergeable-sketch contract, so
  * partial aggregation ships O(d·w) longs per (group × partition) at
  * any scale, where an exact per-key count would shuffle every
  * distinct key. The heavy-hitters primitive for unbounded key
  * domains (URLs, shingles, n-grams) at 100 TB.
  *
  * Determinism contract (DuckDB-oracle-replicable, like every sketch
  * in this engine — no murmur seeds, no platform dependence): the row
  * hash is the first 15 hex chars of md5(utf8(value) ∥ "#" ∥ j) as a
  * 60-bit integer, mod width. Nulls are skipped. Output: the d·w
  * counter array (row-major), probed with plain `element_at` +
  * `least` — see q98.
  */
case class CmsSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)

  override def prettyName: String = CmsSketchAgg.FunctionName

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && depth >= 1 && width >= 2)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${CmsSketchAgg.FunctionName} expects (string, depth >= 1, width >= 2), " +
        s"got ${child.dataType.catalogString}, depth=$depth, width=$width")

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  // "#<j>" suffix bytes per row index, built once per operator instance
  // — String.valueOf(j).getBytes in the hot update loop would allocate
  // 2·depth objects per input row
  @transient private lazy val rowSuffixes: Array[Array[Byte]] =
    Array.tabulate(depth)(j =>
      ("#" + j).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val bytes = v.asInstanceOf[UTF8String].getBytes
      val md = CmsSketchAgg.localMd5.get()
      var j = 0
      while (j < depth) {
        md.reset()
        md.update(bytes)
        md.update(rowSuffixes(j))
        val d = md.digest()
        var h = 0L
        var i = 0
        while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
        h = (h << 4) | ((d(7) & 0xf0L) >> 4)
        buf(j * width + (h % width).toInt) += 1L
        j += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = ArrayData.toArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketchAgg =
    copy(child = newChildren.head)
}

object CmsSketchAgg {
  val FunctionName = "graft_cms"

  private val localMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}
