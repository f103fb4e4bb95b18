package graft.functions

import org.apache.datasketches.frequencies.{ErrorType, LongsSketch}
import org.apache.datasketches.memory.Memory

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types._

/** Frequent-items sketch aggregate (DataSketches Misra-Gries variant) — the
  * mergeable heavy-hitters primitive. The exact form (`GROUP BY item` then
  * top-N) shuffles one row per DISTINCT item; this sketch keeps a bounded
  * map (maxMapSize entries) per partial and merges associatively, so a
  * 100 TB scan finds every item above ~N/maxMapSize frequency at kilobytes
  * per (partition, group), with the NO_FALSE_NEGATIVES guarantee: no true
  * heavy hitter can be missed, and every estimate carries [lb, ub] bounds.
  *
  * Completes the mergeable-sketch quartet next to Spark's built-in
  * DataSketches theta (`theta_sketch_agg`, set ops), KLL
  * (`kll_sketch_agg_*`, quantiles) and HLL (count-distinct) aggregates,
  * none of which covers frequent items.
  */
case class FreqSketchAggregate(
    child: Expression,
    maxMapSize: Int = 1024,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LongsSketch] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): LongsSketch = new LongsSketch(maxMapSize)

  override def update(buf: LongsSketch, input: InternalRow): LongsSketch = {
    val v = child.eval(input)
    if (v != null) buf.update(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: LongsSketch, b: LongsSketch): LongsSketch = {
    a.merge(b)
    a
  }

  override def eval(buf: LongsSketch): Any = buf.toByteArray

  override def serialize(buf: LongsSketch): Array[Byte] = buf.toByteArray

  override def deserialize(bytes: Array[Byte]): LongsSketch =
    LongsSketch.getInstance(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(o: Int): FreqSketchAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqSketchAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqSketchAggregate =
    copy(child = newChildren(0))
  override def prettyName: String = "freq_sketch"
}

object FreqSketch {

  /** Column form: `freq_sketch_agg($"item")` → binary sketch. maxMapSize
    * must be a power of two; error bound is ~streamLength/maxMapSize. */
  def freq_sketch_agg(item: Column, maxMapSize: Int = 1024): Column =
    SqlBridge.column(FreqSketchAggregate(
      SqlBridge.expression(item.cast("long")), maxMapSize).toAggregateExpression())

  /** Frequent items with NO false negatives (every true heavy hitter above
    * the sketch's error threshold is present). Returns (item, estimate,
    * lowerBound, upperBound) sorted by estimate descending. */
  def frequentItems(bytes: Array[Byte]): Seq[(Long, Long, Long, Long)] =
    LongsSketch.getInstance(Memory.wrap(bytes))
      .getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
      .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound))
      .toSeq

  /** The sketch's maximum estimation error (0 while the bounded map has
    * never overflowed — estimates are exact in that regime). */
  def maxError(bytes: Array[Byte]): Long =
    LongsSketch.getInstance(Memory.wrap(bytes)).getMaximumError

  /** [[frequentItems]] with an exact-regime GUARD: estimates are exact
    * counts only while maxError == 0 (the bounded map never purged). Hash-
    * oracled queries use this so a scale-factor bump fails loudly instead
    * of silently flipping approximate and hash-mismatching the oracle. */
  def frequentItemsExact(bytes: Array[Byte]): Seq[(Long, Long, Long, Long)] = {
    val err = maxError(bytes)
    require(err == 0,
      s"frequent-items sketch left the exact regime (maxError=$err); raise " +
      "maxMapSize above the distinct-item count or use frequentItems()")
    frequentItems(bytes)
  }
}
