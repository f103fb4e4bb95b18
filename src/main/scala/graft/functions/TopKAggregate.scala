package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.SqlBridge
import org.apache.spark.sql.types._

/** Bounded top-k sketch aggregate — the `TypedImperativeAggregate` tier
  * (mutable out-of-codegen buffer, like HLL/quantile sketches): collects the
  * k largest (value, id) pairs per group in a bounded min-heap.
  *
  * Why not a window? `row_number() OVER (PARTITION BY g ORDER BY v DESC)`
  * shuffles EVERY row to its group's partition, then sorts. This aggregate
  * keeps at most k pairs per (partition, group) buffer map-side, so the
  * shuffle carries k rows per partial instead of all of them — the same
  * partial/final contract as sum, applied to top-k. At 100 TB with k=10
  * that's the difference between shuffling 100 TB and shuffling megabytes.
  *
  * Output: array<struct<v: double, id: long>> sorted descending by v, ties
  * broken by smaller id (deterministic, matching the SQL window oracle).
  */
case class TopKAggregate(
    valueExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKAggregate.Heap] {
  import TopKAggregate.Heap

  override def children: Seq[Expression] = Seq(valueExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("v", DoubleType), StructField("id", LongType))), containsNull = false)

  override def createAggregationBuffer(): Heap = new Heap(k)

  override def update(buf: Heap, input: InternalRow): Heap = {
    val v = valueExpr.eval(input)
    val id = idExpr.eval(input)
    if (v != null && id != null)
      buf.offer(v.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(a: Heap, b: Heap): Heap = { a.absorb(b); a }

  override def eval(buf: Heap): Any = {
    val sorted = buf.toSortedArray // v desc, id asc
    new GenericArrayData(sorted.map { case (v, id) =>
      InternalRow(v, id)
    })
  }

  override def serialize(buf: Heap): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    val arr = buf.toSortedArray
    out.writeInt(arr.length)
    arr.foreach { case (v, id) => out.writeDouble(v); out.writeLong(id) }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Heap = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val h = new Heap(k)
    var i = 0
    while (i < n) { h.offer(in.readDouble(), in.readLong()); i += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(o: Int): TopKAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAggregate =
    copy(valueExpr = newChildren(0), idExpr = newChildren(1))
  override def prettyName: String = "top_k"
}

object TopKAggregate {

  /** Bounded min-heap of (v, id): keeps the k largest v (ties prefer the
    * SMALLER id, so (v, -id) ordering is used throughout). */
  final class Heap(k: Int) {
    // (v asc, id desc) priority: head = weakest element to evict
    private val ord = Ordering.by[(Double, Long), (Double, Long)] {
      case (v, id) => (-v, id)
    }
    private val q = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord)

    def offer(v: Double, id: Long): Unit = {
      if (q.size < k) q.enqueue((v, id))
      else {
        val (wv, wid) = q.head
        // replace the weakest if the newcomer beats it under (v desc, id asc)
        if (v > wv || (v == wv && id < wid)) { q.dequeue(); q.enqueue((v, id)) }
      }
    }

    def absorb(other: Heap): Unit = other.q.foreach { case (v, id) => offer(v, id) }

    /** Descending by v, ascending id on ties. */
    def toSortedArray: Array[(Double, Long)] =
      q.toArray.sortBy { case (v, id) => (-v, id) }
  }

  /** Column form: `top_k($"v", $"id", 5)`. */
  def top_k(value: Column, id: Column, k: Int): Column =
    SqlBridge.column(TopKAggregate(
      SqlBridge.expression(value.cast("double")),
      SqlBridge.expression(id.cast("long")), k).toAggregateExpression())

  /** [[top_k]] ranked out per group: `groupBy(keys)` (empty = one global
    * group) → `top_k(score, id, k)` → posexplode, as (keys…, id: long,
    * v: double, rank: int 1..k). Ranks are dense per group, v descending,
    * ties to the smaller id; pass a negated score for the k smallest. */
  def rankedTopK(df: DataFrame, keys: Seq[String], score: Column, id: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, posexplode}
    val keyCols = keys.map(col)
    df.groupBy(keyCols: _*)
      .agg(top_k(score, id, k).as("_top"))
      .select(keyCols :+ posexplode(col("_top")).as(Seq("_pos", "_e")): _*)
      .select(keyCols ++ Seq(col("_e.id").as("id"), col("_e.v").as("v"),
        (col("_pos") + 1).cast("int").as("rank")): _*)
  }
}
