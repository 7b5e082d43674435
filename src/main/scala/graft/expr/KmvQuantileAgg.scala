package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** KMV VALUE sample — the quantile-sketch sibling of [[KmvSketchAgg]]:
  * keep the values of the k rows whose md5-derived row-identity hashes
  * are smallest. Because the hash order is a deterministic function of
  * the row ids, the k survivors form a uniform sample that every
  * engine, partitioning and merge order agrees on EXACTLY — unlike
  * t-digest/KLL, whose merge-order sensitivity makes them impossible
  * to oracle-check bit-for-bit. Quantiles read off the sorted sample.
  *
  * Mergeable-sketch contract (the streaming-state contract): the
  * buffer is a bounded TreeMap (k smallest hashes → values), partial
  * aggregation ships ≤ k (long, double) pairs per group × partition,
  * `merge` unions and trims. One pass, no per-group windows, no sort
  * of the data — the 100 TB shape for "percentiles per key" when the
  * histogram passes of `Stats.percentiles` are too heavy or the
  * computation must run inside a streaming window.
  *
  * Determinism contract: hash = first 15 hex chars of md5(utf8(id)),
  * like every md5Long in this engine; rows with null id or null value
  * are skipped; if one id occurs on multiple rows the SMALLEST value
  * survives (order-independent tie resolution — pass a unique row id
  * to sample rows, which is the intended use). Output: the sample
  * VALUES sorted ascending (array<double>), so
  * `element_at(sorted, floor(p·(m−1)) + 1)` is the p-quantile
  * estimate. Distinct ids colliding on the 60-bit hash would merge
  * (probability ~2⁻⁶⁰ per pair) — the same property KMV itself has.
  */
case class KmvQuantileAgg(
    idChild: Expression,
    valueChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeMap[java.lang.Long, java.lang.Double]] {

  override def children: Seq[Expression] = Seq(idChild, valueChild)

  override def prettyName: String = KmvQuantileAgg.FunctionName

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (idChild.dataType == StringType && valueChild.dataType == DoubleType &&
        k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${KmvQuantileAgg.FunctionName} expects (string, double, k >= 1), got " +
        s"${idChild.dataType.catalogString}, ${valueChild.dataType.catalogString}, k=$k")

  override def createAggregationBuffer(): java.util.TreeMap[java.lang.Long, java.lang.Double] =
    new java.util.TreeMap[java.lang.Long, java.lang.Double]()

  private def hash60(s: UTF8String): Long = {
    val md = KmvQuantileAgg.localMd5.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  private def put(buf: java.util.TreeMap[java.lang.Long, java.lang.Double],
      h: Long, v: Double): Unit = {
    val prev = buf.get(h)
    if (prev == null || v < prev.doubleValue()) buf.put(h, v)
    if (buf.size > k) buf.pollLastEntry()
  }

  override def update(buf: java.util.TreeMap[java.lang.Long, java.lang.Double],
      input: InternalRow): java.util.TreeMap[java.lang.Long, java.lang.Double] = {
    val id = idChild.eval(input)
    val v = valueChild.eval(input)
    if (id != null && v != null)
      put(buf, hash60(id.asInstanceOf[UTF8String]), v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: java.util.TreeMap[java.lang.Long, java.lang.Double],
      other: java.util.TreeMap[java.lang.Long, java.lang.Double]): java.util.TreeMap[java.lang.Long, java.lang.Double] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      put(buf, e.getKey.longValue(), e.getValue.doubleValue())
    }
    buf
  }

  override def eval(buf: java.util.TreeMap[java.lang.Long, java.lang.Double]): Any = {
    val vals = new Array[Double](buf.size)
    val it = buf.values().iterator()
    var i = 0
    while (it.hasNext) { vals(i) = it.next().doubleValue(); i += 1 }
    java.util.Arrays.sort(vals)
    new GenericArrayData(vals.map(v => v: Any))
  }

  override def serialize(buf: java.util.TreeMap[java.lang.Long, java.lang.Double]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeLong(e.getKey.longValue())
      out.writeDouble(e.getValue.doubleValue())
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[java.lang.Long, java.lang.Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.put(in.readLong(), in.readDouble()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvQuantileAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KmvQuantileAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvQuantileAgg =
    copy(idChild = newChildren(0), valueChild = newChildren(1))
}

object KmvQuantileAgg {
  val FunctionName = "graft_kmvq"

  private val localMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}
