package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed custom aggregate (the `Aggregator[IN, BUF, OUT]` tier from the
  * build plan): element-wise mean of embedding vectors — the centroid — in
  * one pass with a mutable (sums, count) buffer.
  *
  * Spark plans this as a regular two-phase hash aggregate: partial buffers
  * combine map-side (each partition emits one buffer per group), so at
  * 100 TB the shuffle carries one (dim+1)-double buffer per (partition,
  * group) — not the vectors, where a posexplode → groupBy(cluster, pos)
  * mean would shuffle dim× rows per vector. `IvfIndex.train`'s Lloyd's
  * update is this aggregate.
  *
  * Null/empty vectors are ignored; an all-null group yields null.
  */
class CentroidAggregator(dim: Int)
  extends Aggregator[Seq[Double], CentroidAggregator.Buf, Seq[Double]] {
  import CentroidAggregator.Buf

  override def zero: Buf = Buf(new Array[Double](dim), 0L)

  override def reduce(b: Buf, v: Seq[Double]): Buf = {
    if (v != null && v.nonEmpty) {
      var i = 0
      val n = math.min(dim, v.length)
      while (i < n) { b.sums(i) += v(i); i += 1 }
      b.count += 1
    }
    b
  }

  override def merge(a: Buf, b: Buf): Buf = {
    var i = 0
    while (i < dim) { a.sums(i) += b.sums(i); i += 1 }
    a.count += b.count
    a
  }

  override def finish(b: Buf): Seq[Double] =
    if (b.count == 0L) null
    else b.sums.map(_ / b.count).toSeq

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}

object CentroidAggregator {
  final case class Buf(sums: Array[Double], var count: Long)

  /** Column-API form: `centroid(64)($"embedding")` (input cast to
    * array<double> by the caller). */
  def centroid(dim: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new CentroidAggregator(dim))
}
