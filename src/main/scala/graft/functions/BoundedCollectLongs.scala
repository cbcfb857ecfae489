package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native aggregate: `collect_list` over BIGINT with a HARD buffer
  * bound — at most `limit` elements are ever held per group, in any
  * partial buffer, across merges, and in the result.
  *
  * The memory-safety primitive of a df-capped member list (the SQL
  * function `bounded_collect_longs`; the df-capped Jaccard operator,
  * [[graft.operators.Dedup.ngramJaccardPairs]], bounds its own
  * map-side combine the same way): the
  * built-in `collect_list` materializes a hot shingle's ENTIRE member
  * list in one aggregation row before a df filter can drop it — an
  * unbounded single-row buffer (a shingle shared by 10^9 documents is
  * an 8 GB array in one task). With the bound, a capped-out group
  * costs O(limit) memory and is then discarded by the `df <= maxDf`
  * filter; a surviving group (df ≤ limit) has seen every element, so
  * its list is COMPLETE and the capped-Jaccard output is unchanged.
  *
  * Groups whose true cardinality exceeds `limit` yield a truncated,
  * partition-order-dependent list — callers MUST pair this aggregate
  * with an exact `count` of the same group and drop rows over the
  * bound (the truncated list is only ever a memory bound, never an
  * answer). Null inputs are skipped (like collect_list); an empty
  * group yields an empty array.
  */
final case class BoundedCollectLongs(
    child: Expression,
    limit: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[scala.collection.mutable.ArrayBuffer[Long]] {

  require(limit > 0, "bounded_collect_longs limit must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bounded_collect_longs requires a bigint argument, got ${other.catalogString}")
    }

  override def createAggregationBuffer(): scala.collection.mutable.ArrayBuffer[Long] =
    scala.collection.mutable.ArrayBuffer.empty[Long]

  override def update(buf: scala.collection.mutable.ArrayBuffer[Long],
      input: InternalRow): scala.collection.mutable.ArrayBuffer[Long] = {
    if (buf.length < limit) {
      val v = child.eval(input)
      if (v != null) buf += v.asInstanceOf[Long]
    }
    buf
  }

  override def merge(buf: scala.collection.mutable.ArrayBuffer[Long],
      other: scala.collection.mutable.ArrayBuffer[Long]): scala.collection.mutable.ArrayBuffer[Long] = {
    val room = limit - buf.length
    if (room >= other.length) buf ++= other
    else if (room > 0) buf ++= other.take(room)
    buf
  }

  override def eval(buf: scala.collection.mutable.ArrayBuffer[Long]): Any =
    new GenericArrayData(buf.toArray)

  override def serialize(buf: scala.collection.mutable.ArrayBuffer[Long]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 + 8 * buf.length)
    out.putInt(buf.length)
    buf.foreach(out.putLong)
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.ArrayBuffer[Long] = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = new scala.collection.mutable.ArrayBuffer[Long](n)
    var i = 0
    while (i < n) { buf += in.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BoundedCollectLongs =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BoundedCollectLongs =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BoundedCollectLongs =
    copy(child = c.head)
  override def prettyName: String = "bounded_collect_longs"
}
