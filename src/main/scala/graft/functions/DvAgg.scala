package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

import graft.lake.GraftDv

/** Aggregate a LongType row-position column into ONE serialized
  * deletion-vector bitmap ([[graft.lake.GraftDv]]) — the commit-time
  * builder for merge-on-read deletes. Group by the data file,
  * aggregate its matched positions: the buffer is the chunked-bitmap
  * builder (memory ∝ touched 64Ki chunks, never a materialized
  * position list — a whole-file delete of a 100M-row file buffers
  * ~12 MB of bitmap, not 800 MB of collect_list), update is one bit
  * set, merge is a word-wise OR, and partial aggregates ship in the
  * same canonical GDV1 bytes the final result uses.
  */
case class DvAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[GraftDv.Builder] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): GraftDv.Builder = GraftDv.newBuilder()

  override def update(buf: GraftDv.Builder, input: InternalRow): GraftDv.Builder = {
    val v = child.eval(input)
    if (v != null) GraftDv.add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(a: GraftDv.Builder, b: GraftDv.Builder): GraftDv.Builder =
    GraftDv.mergeInto(a, b)

  override def eval(buf: GraftDv.Builder): Any = GraftDv.serialize(buf)

  override def serialize(buf: GraftDv.Builder): Array[Byte] = GraftDv.serialize(buf)

  override def deserialize(bytes: Array[Byte]): GraftDv.Builder =
    GraftDv.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): DvAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DvAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): DvAgg =
    copy(child = c.head)
  override def prettyName: String = "graft_dv_agg"
}
