package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** collect_list over BIGINT values whose aggregation buffer stops growing
  * at `cap` elements (r22, guide §2.4/§5): the capped-pair generation
  * (`Dedup.cappedCommon`) needs each shingle's full posting list ONLY
  * when its document frequency is ≤ DfCap — over-cap groups are dropped
  * whole. Collecting alongside the frequency count in ONE aggregation
  * (instead of a count pre-aggregate + semi-join + separate collect)
  * removes a full pass over the shingle index plus its exchange and
  * broadcast, while this cap preserves the OOM guard the semi-join
  * provided: no buffer — map-side partial, shuffled partial, or merged
  * final — ever holds more than `cap` elements, so a boilerplate shingle
  * present in a billion documents costs a 50-element buffer, not a
  * billion-element one.
  *
  * WHICH `cap` elements survive an over-cap group is partition-order
  * dependent (exactly as collect_list's element ORDER already is) — so
  * results are only deterministic for groups whose total count is ≤ cap,
  * where the list is provably complete (every element is kept; merges
  * concatenate). Callers MUST filter on a count aggregated in the same
  * pass (`ds` is only consulted when `df <= cap`), which `cappedCommon`
  * does; CappedLongListSpec pins completeness under the cap and the
  * buffer bound over it.
  */
case class CappedLongList(
    left: Expression, right: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArrayBuffer[Long]]
  with BinaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT value column, got" +
          s" ${left.dataType.simpleString}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable INT cap, got" +
          s" ${right.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val cap: Int = {
    val v = right.eval(InternalRow.empty)
    require(v != null, s"$prettyName cap must not be NULL")
    val c = v.asInstanceOf[Int]
    require(c >= 0, s"$prettyName cap must be >= 0, got $c")
    c
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_capped_longs"

  override def createAggregationBuffer(): ArrayBuffer[Long] =
    new ArrayBuffer[Long]

  override def update(
      buffer: ArrayBuffer[Long], input: InternalRow): ArrayBuffer[Long] = {
    // NULL values are skipped, as collect_list skips them
    val v = left.eval(input)
    if (v != null && buffer.length < cap)
      buffer += v.asInstanceOf[Long]
    buffer
  }

  override def merge(
      buffer: ArrayBuffer[Long],
      other: ArrayBuffer[Long]): ArrayBuffer[Long] = {
    var i = 0
    while (i < other.length && buffer.length < cap) {
      buffer += other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: ArrayBuffer[Long]): Any =
    new GenericArrayData(buffer.toArray)

  override def serialize(buffer: ArrayBuffer[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buffer.length)
    bb.putInt(buffer.length)
    buffer.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = new ArrayBuffer[Long](n)
    var i = 0
    while (i < n) { out += bb.getLong; i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(
      newOffset: Int): CappedLongList =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): CappedLongList =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CappedLongList =
    copy(left = newLeft, right = newRight)
}

object CappedLongList {

  /** Register `graft_capped_longs(x, cap)` for `expr(...)` strings.
    * Idempotent (the cosine_sim registration pattern). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_capped_longs",
      { exprs: Seq[Expression] =>
        require(exprs.length == 2, "graft_capped_longs takes 2 arguments")
        CappedLongList(exprs.head, exprs(1))
      },
      "built-in")
}
