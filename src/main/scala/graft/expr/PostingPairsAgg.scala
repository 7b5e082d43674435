package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Capped posting-list pair expansion as ONE native aggregate:
  * `graft_posting_pairs(id, n, cap)` collects a group's (id, n) rows —
  * n being whatever per-id payload rides along, here the document's
  * distinct-shingle count — and `eval` emits every ordered pair
  * [(id_i, n_i, id_j, n_j) | (id_i, n_i) < (id_j, n_j)] of the sorted
  * list, or NULL when the group exceeded `cap` rows (cap <= 0 = no
  * cap).
  *
  * This fuses three stages of the inverted-index dedup core
  * (collect_list → hot-list anti-join prune → graft_pairs expansion)
  * into the aggregation itself, and carrying `n` through the postings
  * removes the two per-doc set-size joins downstream. The scale
  * properties the fused form buys:
  *  - bounded aggregation state: a boilerplate shingle shared by 100M
  *    documents buffers at most cap+1 entries before flipping to the
  *    overflowed (= pruned) state, instead of materializing a 100M-row
  *    posting list under collect_list — partials AND merged buffers
  *    both hold ≤ cap+1 entries, so the exchange ships ≤ cap+1 rows
  *    per (shingle × partition);
  *  - no second pass: the anti-join prune needed the posting table
  *    twice (document frequencies, then the anti-join), which forced
  *    either a corpus-sized persist (the round-3 cache-lifecycle leak)
  *    or a full recompute of the scan→shingle derivation;
  *  - prune semantics identical to the anti-join form: a group is
  *    dropped iff its posting-row count exceeds cap, counting
  *    intra-document hash-collision duplicates exactly like the old
  *    `groupBy(_s).count > maxDocFreq` did.
  *
  * Pair order matches sort_array∘collect_list∘graft_pairs (elements
  * ascending, outer index then inner), so downstream grouping sees
  * byte-identical pairs. Like collect_list this runs under
  * ObjectHashAggregate; `eval` output is bounded by cap²/2 structs.
  */
case class PostingPairsAgg(
    idExpr: Expression,
    nExpr: Expression,
    cap: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[PostingPairsAgg.Buffer] {

  override def children: Seq[Expression] = Seq(idExpr, nExpr)

  override def prettyName: String = PostingPairsAgg.FunctionName

  override def nullable: Boolean = true

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id1", LongType, nullable = false),
    StructField("n1", IntegerType, nullable = false),
    StructField("id2", LongType, nullable = false),
    StructField("n2", IntegerType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (idExpr.dataType, nExpr.dataType) match {
      case (LongType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (idT, nT) => TypeCheckResult.TypeCheckFailure(
        s"${PostingPairsAgg.FunctionName} expects (bigint, int, cap), got " +
          s"(${idT.catalogString}, ${nT.catalogString})")
    }

  override def createAggregationBuffer(): PostingPairsAgg.Buffer =
    new PostingPairsAgg.Buffer()

  override def update(buf: PostingPairsAgg.Buffer,
      input: InternalRow): PostingPairsAgg.Buffer = {
    val id = idExpr.eval(input)
    val n = nExpr.eval(input)
    if (id != null && n != null)
      buf.add(id.asInstanceOf[Long], n.asInstanceOf[Int], cap)
    buf
  }

  override def merge(buf: PostingPairsAgg.Buffer,
      other: PostingPairsAgg.Buffer): PostingPairsAgg.Buffer = {
    if (other.overflowed) buf.overflowed = true
    if (!buf.overflowed) {
      var i = 0
      while (i < other.size && !buf.overflowed) {
        buf.add(other.ids(i), other.ns(i), cap)
        i += 1
      }
    }
    if (buf.overflowed) buf.clear()
    buf
  }

  override def eval(buf: PostingPairsAgg.Buffer): Any = {
    if (buf.overflowed) return null
    val m = buf.size
    if (m < 2) return new GenericArrayData(Array.empty[Any])
    // sort by (id, n) — n is functionally determined by id for real
    // postings, so this is the same ascending-id order the
    // sort_array∘collect_list form produced
    val idx = Array.range(0, m).sortWith { (a, b) =>
      buf.ids(a) < buf.ids(b) ||
        (buf.ids(a) == buf.ids(b) && buf.ns(a) < buf.ns(b))
    }
    val total = m.toLong * (m - 1) / 2
    require(total <= Int.MaxValue,
      s"${PostingPairsAgg.FunctionName}: posting list of $m ids expands to " +
        s"$total pairs — set a cap (maxDocFreq) before pair expansion")
    val out = new Array[Any](total.toInt)
    var k = 0
    var i = 0
    while (i < m) {
      val a = idx(i)
      var j = i + 1
      while (j < m) {
        val b = idx(j)
        out(k) = InternalRow(buf.ids(a), buf.ns(a), buf.ids(b), buf.ns(b))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: PostingPairsAgg.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeBoolean(buf.overflowed)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeLong(buf.ids(i))
      out.writeInt(buf.ns(i))
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): PostingPairsAgg.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    buf.overflowed = in.readBoolean()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.add(in.readLong(), in.readInt(), 0L); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PostingPairsAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): PostingPairsAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PostingPairsAgg =
    copy(idExpr = newChildren(0), nExpr = newChildren(1))
}

object PostingPairsAgg {
  val FunctionName = "graft_posting_pairs"

  /** (id, n) rows with an overflow latch; ≤ cap+1 entries ever held. */
  final class Buffer {
    var overflowed: Boolean = false
    var ids: Array[Long] = new Array[Long](8)
    var ns: Array[Int] = new Array[Int](8)
    var size: Int = 0

    def add(id: Long, n: Int, cap: Long): Unit = {
      if (overflowed) return
      if (cap > 0 && size + 1 > cap) { overflowed = true; clear(); return }
      if (size == ids.length) {
        ids = java.util.Arrays.copyOf(ids, size * 2)
        ns = java.util.Arrays.copyOf(ns, size * 2)
      }
      ids(size) = id
      ns(size) = n
      size += 1
    }

    def clear(): Unit = {
      size = 0
      if (ids.length > 64) { ids = new Array[Long](8); ns = new Array[Int](8) }
    }
  }
}
