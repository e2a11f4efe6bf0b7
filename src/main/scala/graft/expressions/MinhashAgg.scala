package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `graft_minhash(hash64, k)` — the k-function MinHash signature
  * as ONE imperative partial aggregate. The frame formulation
  * (`groupBy(id).agg(min(f_0(h)), …, min(f_63(h)))`) plans 64 separate
  * aggregate functions whose 64-buffer update runs OUTSIDE whole-stage
  * codegen (the generated update method blows the method-size limit, so
  * every row pays 64 interpreted expression evaluations — profiled as
  * ~20 s of task CPU in one sf0.1 signature build). Here the buffer is
  * one long[k] and update is a tight compiled loop; the shuffle carries
  * one 8k-byte blob per group.
  *
  * BIT-IDENTICAL to the frame form by construction: the family is
  * [[graft.functions.Dedup.Md5Hasher]]'s LCG,
  * f_i(h) = (a_i·(h & 0xFFFFFFFF) + b_i) mod (2³¹−1), constants from
  * `Md5Hasher.saltConsts(i)` (shared, never duplicated).
  * `MinhashAggSpec` pins it against the composed form.
  * Null hashes are skipped (SQL aggregate semantics); groups are
  * non-empty by construction (explode output), so the MaxValue-seeded
  * buffer never surfaces. */
case class MinhashAgg(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private lazy val kOpt: Option[Int] = kExpr.eval() match {
    case i: Int  => Some(i)
    case l: Long => Some(l.toInt)
    case _       => None
  }
  private lazy val k: Int =
    kOpt.getOrElse(sys.error("graft_minhash: k rejected by analysis"))
  // LCG constants resolved once per operator, not per row
  private lazy val consts: Array[(Long, Long)] =
    (0 until k).map(graft.functions.Dedup.Md5Hasher.saltConsts).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_minhash expects a BIGINT hash, got ${child.dataType.sql}")
    else if (!kExpr.foldable ||
      (kExpr.dataType != IntegerType && kExpr.dataType != LongType))
      TypeCheckResult.TypeCheckFailure(
        "graft_minhash k must be an integral literal")
    else if (!kOpt.exists(v => v >= 1 && v <= 4096))
      TypeCheckResult.TypeCheckFailure(
        s"graft_minhash k must be in [1, 4096]")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(Long.MaxValue)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val low = v.asInstanceOf[Long] & 0xFFFFFFFFL
      var i = 0
      while (i < k) {
        val c = consts(i)
        val s = (c._1 * low + c._2) % 2147483647L
        if (s < buffer(i)) buffer(i) = s
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < k) {
      if (other(i) < buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(buffer)

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buffer.length * 8)
    bb.asLongBuffer().put(buffer)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, kExpr)

  override def withNewMutableAggBufferOffset(newOffset: Int): MinhashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinhashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinhashAgg =
    copy(child = newChildren(0), kExpr = newChildren(1))

  override def prettyName: String = "graft_minhash"
}
