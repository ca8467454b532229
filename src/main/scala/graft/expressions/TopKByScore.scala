package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}

/** `topk_by(id, score, k)` — per-group top-k as a distributive
  * aggregate: keeps the k best (id, score) entries under the ordering
  * (score DESC, id ASC) and returns them rank-ordered as
  * array<struct<id bigint, score double>>. Ties past position k are
  * dropped by id, so the result equals row_number over
  * (score desc, id asc) filtered to rn <= k.
  *
  * Buffer layout (2k + 1 fixed-width fields from the buffer offset):
  * `n: int` (entries held, <= k), then `id[0..k)` longs, then
  * `score[0..k)` doubles. Slots [0, n) are held rank-ordered; slots
  * past n are unread. Every field is a mutable fixed-width type, so
  * Spark plans this as a HashAggregate over UnsafeRow buffers: map-side
  * partials fold each row into O(k) slots, the shuffle moves the
  * buffers as plain UnsafeRow bytes, and the final merge is a k-way
  * sorted insert. HashAggregate has no group-count fallback (only a
  * memory-pressure spill), so no sort is planned at any group count.
  */
case class TopKByScore(
    id: Expression,
    score: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends ImperativeAggregate {

  require(k > 0 && k <= 1024, "topk_by: k must be in [1, 1024]")

  override def children: Seq[Expression] = Seq(id, score)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "topk_by"

  override def checkInputDataTypes(): TypeCheckResult =
    if (id.dataType == LongType && score.dataType == DoubleType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"topk_by requires (bigint id, double score), got " +
          s"(${id.dataType.catalogString}, ${score.dataType.catalogString})")
    }

  override val aggBufferAttributes: Seq[AttributeReference] =
    AttributeReference("n", IntegerType, nullable = false)() +:
      (Seq.tabulate(k)(j => AttributeReference(s"id[$j]", LongType, nullable = false)()) ++
        Seq.tabulate(k)(j => AttributeReference(s"score[$j]", DoubleType, nullable = false)()))
  override def aggBufferSchema: StructType = DataTypeUtils.fromAttributes(aggBufferAttributes)
  override val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())

  override def initialize(buf: InternalRow): Unit = {
    val o = mutableAggBufferOffset
    buf.setInt(o, 0)
    var j = 0
    while (j < k) {
      buf.setLong(o + 1 + j, 0L)
      buf.setDouble(o + 1 + k + j, 0.0)
      j += 1
    }
  }

  override def update(buf: InternalRow, input: InternalRow): Unit = {
    val i = id.eval(input)
    val s = score.eval(input)
    if (i != null && s != null)
      insert(buf, mutableAggBufferOffset, i.asInstanceOf[Long], s.asInstanceOf[Double])
  }

  override def merge(buf: InternalRow, other: InternalRow): Unit = {
    val o = inputAggBufferOffset
    val n = other.getInt(o)
    var j = 0
    while (j < n) {
      insert(buf, mutableAggBufferOffset, other.getLong(o + 1 + j), other.getDouble(o + 1 + k + j))
      j += 1
    }
  }

  override def eval(buf: InternalRow): Any = {
    val o = mutableAggBufferOffset
    val n = buf.getInt(o)
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      out(j) = new GenericInternalRow(Array[Any](buf.getLong(o + 1 + j), buf.getDouble(o + 1 + k + j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** true iff (s1, i1) ranks strictly better than (s2, i2). */
  @inline private def better(i1: Long, s1: Double, i2: Long, s2: Double): Boolean =
    s1 > s2 || (s1 == s2 && i1 < i2)

  /** Sorted insert into the slots at offset `o`. k is tiny (5 for
    * d54), so a linear shift beats heap bookkeeping, and a row worse
    * than the current k-th exits after one comparison with the tail.
    * Duplicate (id, score) entries are kept, as row_number keeps them. */
  private def insert(buf: InternalRow, o: Int, i: Long, s: Double): Unit = {
    val n = buf.getInt(o)
    val ids = o + 1
    val scores = o + 1 + k
    if (n == k && !better(i, s, buf.getLong(ids + k - 1), buf.getDouble(scores + k - 1))) return
    var p = if (n == k) k - 1 else n
    while (p > 0 && better(i, s, buf.getLong(ids + p - 1), buf.getDouble(scores + p - 1))) {
      buf.setLong(ids + p, buf.getLong(ids + p - 1))
      buf.setDouble(scores + p, buf.getDouble(scores + p - 1))
      p -= 1
    }
    buf.setLong(ids + p, i)
    buf.setDouble(scores + p, s)
    if (n < k) buf.setInt(o, n + 1)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(id = newChildren(0), score = newChildren(1))
}
