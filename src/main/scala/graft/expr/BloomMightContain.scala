package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Membership probe against a pre-built Bloom filter, for broadcast-side
  * pruning of semi-joins whose build side is too big for a hash-set
  * broadcast but fits as ~10 bits/key (e.g. a benchmark shingle set in
  * test-set decontamination at 100 TB corpus scale: the filter prunes
  * the corpus postings BEFORE any shuffle; the exact equi-join that
  * follows removes the false positives, so results stay exact).
  *
  * `right` must be a foldable BINARY literal holding the serialized
  * filter (`BloomFilter.writeTo`); it is deserialized once per task via
  * a lazy val, and codegen references the deserialized instance
  * directly (ctx.addReferenceObj) instead of materializing the byte
  * array in generated source. `left` is the probed key: STRING probes
  * use the UTF-8 bytes (matching `putString`'s encoding), BIGINT keys
  * probe `mightContainLong`.
  *
  * Why an Expression (tier (b) of the design notes): Spark's own
  * BloomFilterMightContain is internal to runtime-filter planning and
  * not constructible from the public API, and a Scala UDF would box the
  * key and leave whole-stage codegen on the hot corpus scan.
  */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult = {
    val keyOk = left.dataType match {
      case StringType | LongType => true
      case _ => false
    }
    if (!keyOk)
      TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains expects a string or bigint key, got ${left.dataType.catalogString}")
    else if (right.dataType != BinaryType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_bloom_contains expects a foldable binary literal filter")
    else TypeCheckResult.TypeCheckSuccess
  }

  @transient private lazy val bloom: BloomFilter = {
    val bytes = right.eval(null).asInstanceOf[Array[Byte]]
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  override def nullSafeEval(key: Any, ignored: Any): Any = left.dataType match {
    case StringType => bloom.mightContainBinary(key.asInstanceOf[UTF8String].getBytes)
    case LongType => bloom.mightContainLong(key.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (key, _) => {
      val ref = ctx.addReferenceObj("graftBloom", bloom,
        classOf[BloomFilter].getName)
      val probe = left.dataType match {
        case StringType => s"$ref.mightContainBinary($key.getBytes())"
        case LongType => s"$ref.mightContainLong($key)"
      }
      s"${ev.value} = $probe;"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

object BloomMightContain {
  val FunctionName = "graft_bloom_contains"

  /** Serialize a built filter for embedding as a binary literal. */
  def toBytes(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}

/** [[BloomMightContain]]'s BROADCAST-handle sibling, for filters too
  * big to ride the expression tree: a multi-MB binary Literal is
  * hashed and compared by Catalyst on every rule pass and re-shipped
  * in every stage's task binary — measured in the streaming dedup
  * path, the literal form tripled the arrival wall in pure DRIVER
  * time. Here the tree carries only the broadcast STUB; executors
  * resolve `bc.value` once per task (lazily cached in the generated
  * class), so the probe stays inside whole-stage codegen with no
  * per-row boxing — the reason this replaces the previous `udf`
  * bridge at both StreamingIngest probe sites.
  *
  * Construct through [[BloomBroadcastContains.probe]]: the public
  * function-registry builder is the engine's sanctioned
  * Expression→Column bridge, and a unique registration name keeps
  * concurrent streams' filters from colliding; callers drop the name
  * in their batch cleanup ([[BloomBroadcastContains.drop]]).
  */
case class BloomBroadcastContains(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[BloomFilter])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType | LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom broadcast probe expects a string or bigint key, got " +
          other.catalogString)
    }

  @transient private lazy val filter: BloomFilter = bc.value

  override def nullSafeEval(key: Any): Any = child.dataType match {
    case StringType =>
      filter.mightContainBinary(key.asInstanceOf[UTF8String].getBytes)
    case LongType => filter.mightContainLong(key.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, key => {
      val bcCls = classOf[org.apache.spark.broadcast.Broadcast[_]].getName
      val fCls = classOf[BloomFilter].getName
      val bcRef = ctx.addReferenceObj("graftBloomBc", bc, bcCls)
      // resolved once per generated-class instance (≈ once per task),
      // not per row: Broadcast.value is a TorrentBroadcast lookup
      val fVar = ctx.addMutableState(fCls, "graftBloomBcFilter")
      val probe = child.dataType match {
        case StringType => s"$fVar.mightContainBinary($key.getBytes())"
        case LongType => s"$fVar.mightContainLong($key)"
      }
      s"""
         |if ($fVar == null) $fVar = ($fCls) $bcRef.value();
         |${ev.value} = $probe;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): BloomBroadcastContains = copy(child = newChild)
}

object BloomBroadcastContains {
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** Column probing `key` against the broadcast filter. Registers a
    * uniquely-named temp builder and resolves it immediately; returns
    * the column AND the name so the caller can [[drop]] it once the
    * batch's actions complete (the registration must outlive lazy
    * analysis of every plan that embeds the column).
    */
  def probe(spark: SparkSession, key: org.apache.spark.sql.Column,
      bc: org.apache.spark.broadcast.Broadcast[BloomFilter])
      : (org.apache.spark.sql.Column, String) = {
    val name = s"graft_bloom_bc_${seq.incrementAndGet()}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => BloomBroadcastContains(exprs.head, bc), "built-in")
    (org.apache.spark.sql.functions.call_function(name, key), name)
  }

  def drop(spark: SparkSession, name: String): Unit = {
    spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name))
    ()
  }
}
