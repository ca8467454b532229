package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

import java.nio.ByteBuffer
import scala.collection.mutable

/** Disjoint-set forest over long node ids, with path compression. A
  * root is always the minimum id of its component: a union hooks the
  * larger root under the smaller one, so labels need no second pass.
  * Memory is O(distinct nodes); edges stream through [[union]].
  */
final class UnionFind {
  private val parent = mutable.LongMap.empty[Long]

  private def add(x: Long): Unit = if (!parent.contains(x)) parent.update(x, x)

  private def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (c != r) { val n = parent(c); parent.update(c, r); c = n }
    r
  }

  def union(a: Long, b: Long): Unit = {
    add(a); add(b)
    val (ra, rb) = (find(a), find(b))
    if (ra < rb) parent.update(rb, ra) else if (rb < ra) parent.update(ra, rb)
  }

  /** Folds in another forest: each of its (node, parent) links is one
    * edge of the same graph, so the union of both edge sets is kept. */
  def merge(other: UnionFind): Unit = other.parent.foreachEntry(union)

  /** (node, root) for every node, in ascending node order. */
  def labels: Array[(Long, Long)] = {
    val nodes = parent.keys.toArray
    java.util.Arrays.sort(nodes)
    nodes.map(n => (n, find(n)))
  }

  /** Each node and its parent as 16 bytes; [[UnionFind.fromBytes]]
    * restores the forest as it was. */
  def toBytes: Array[Byte] = {
    val buf = ByteBuffer.allocate(16 * parent.size)
    parent.foreachEntry { (n, p) => buf.putLong(n); buf.putLong(p) }
    buf.array()
  }
}

object UnionFind {
  def fromBytes(bytes: Array[Byte]): UnionFind = {
    val uf = new UnionFind
    val buf = ByteBuffer.wrap(bytes)
    while (buf.hasRemaining) uf.parent.update(buf.getLong(), buf.getLong())
    uf
  }
}

/** `union_find(a, b)` — connected components of the edges (a, b) in a
  * group, as a distributive aggregate over a [[UnionFind]] buffer. An
  * edge (a, a) adds an isolated node. Map-side partials contract each
  * task's edges to one (node, parent) link per node seen, and merging
  * two buffers unions those links, so the final merge of a group holds
  * O(distinct nodes), whatever the edge count. The buffer serializes as
  * longs, so the sort-based fallback and spills work.
  *
  * eval() returns array<struct<node, root, size>> in ascending node
  * order: root is the component's minimum node id, size its node count.
  */
case class UnionFindAgg(
    a: Expression,
    b: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[UnionFind] {

  override def children: Seq[Expression] = Seq(a, b)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("node", LongType, nullable = false),
    StructField("root", LongType, nullable = false),
    StructField("size", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "union_find"

  override def checkInputDataTypes(): TypeCheckResult =
    if (a.dataType == LongType && b.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"union_find requires two bigint node ids, got " +
        s"(${a.dataType.catalogString}, ${b.dataType.catalogString})")

  override def createAggregationBuffer(): UnionFind = new UnionFind

  override def update(buf: UnionFind, input: InternalRow): UnionFind = {
    val x = a.eval(input)
    val y = b.eval(input)
    if (x != null && y != null) buf.union(x.asInstanceOf[Long], y.asInstanceOf[Long])
    buf
  }

  override def merge(buf: UnionFind, other: UnionFind): UnionFind = {
    buf.merge(other)
    buf
  }

  override def eval(buf: UnionFind): Any = {
    val labels = buf.labels
    val sizes = mutable.LongMap.empty[Long]
    labels.foreach { case (_, r) => sizes.update(r, sizes.getOrElse(r, 0L) + 1L) }
    new GenericArrayData(labels.map { case (n, r) =>
      InternalRow(n, r, sizes(r))
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: UnionFind): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): UnionFind = UnionFind.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): UnionFindAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): UnionFindAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): UnionFindAgg =
    copy(a = newChildren(0), b = newChildren(1))
}
