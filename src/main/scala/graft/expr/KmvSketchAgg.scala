package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values) distinct-count sketch as a NATIVE aggregate
  * function — the mergeable-partial-aggregation form of
  * `operators.Sketches.kmvDistinct`.
  *
  * Why an aggregate and not the relational form: the relational KMV
  * shuffles every distinct (group, hash) pair to build the per-group
  * order statistic — correct, but the exchange carries the full
  * distinct set. This aggregate keeps a BOUNDED buffer (the k smallest
  * distinct hashes) per group per partition, so partial aggregation
  * ships at most k longs per (group × partition) across the wire and
  * `merge` unions two buffers by keeping the k smallest — the textbook
  * mergeable-sketch contract, and the shape that survives 100 TB with
  * billions of distinct values per group. Runs under
  * ObjectHashAggregate (same machinery as collect_list, but with an
  * O(k) bound instead of unbounded state).
  *
  * Determinism contract (matches the relational form and the DuckDB
  * oracle exactly): hash = first 15 hex chars of md5(utf8(value)) as a
  * 60-bit integer; estimate = n when n < k (sketch holds everything —
  * exact by construction), else round((k−1)·2^60 / kth, 2) with
  * HALF_UP, identical to `round(...)` in SQL. Nulls are skipped, like
  * count distinct. Output: struct(kmv_k int, kmv_estimate double).
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  override def children: Seq[Expression] = Seq(child)

  override def prettyName: String = KmvSketchAgg.FunctionName

  override def nullable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("kmv_k", IntegerType, nullable = false),
    StructField("kmv_estimate", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k >= 2) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_kmv expects (string, k >= 2), got ${child.dataType.catalogString}, k=$k")

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  /** 60-bit md5-derived hash, identical to TextAnalysis.md5Long:
    * conv(substring(md5(s), 1, 15), 16, 10). The digest instance is
    * thread-local: `getInstance` per row would put a JCA provider
    * lookup + allocation in the aggregate's hot update path.
    */
  private def hash60(s: UTF8String): Long = {
    val md = KmvSketchAgg.localMd5.get()
    md.reset()
    val d = md.digest(s.getBytes)
    // first 15 hex chars = 7.5 bytes: top nibble of d(7) is the last char
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  override def update(buf: java.util.TreeSet[java.lang.Long],
      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = hash60(v.asInstanceOf[UTF8String])
      buf.add(h)
      if (buf.size > k) buf.pollLast()
    }
    buf
  }

  override def merge(buf: java.util.TreeSet[java.lang.Long],
      other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    while (it.hasNext) {
      buf.add(it.next())
      if (buf.size > k) buf.pollLast()
    }
    buf
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val n = buf.size
    val estimate =
      if (n < k) n.toDouble
      else {
        val kth = buf.last().longValue().toDouble
        val raw = (k - 1).toDouble * math.pow(2, 60) / kth
        new java.math.BigDecimal(java.lang.Double.toString(raw))
          .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue()
      }
    InternalRow(n, estimate)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next().longValue())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketchAgg =
    copy(child = newChildren.head)
}

object KmvSketchAgg {
  val FunctionName = "graft_kmv"

  private val localMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
}
