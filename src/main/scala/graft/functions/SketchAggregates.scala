package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{udaf, udf}
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

/** Bloom sketches as a GROUPED Spark aggregate, plus probe helpers for
  * serialized bloom and count-min sketch columns.
  *
  * `df.stat.bloomFilter` builds one whole-DataFrame sketch through an RDD
  * aggregate; `bloom_agg` exposes the same sketch as an ordinary aggregate
  * COLUMN, so it composes with `groupBy` — one sketch per
  * group/partition/file — and rides the normal two-phase hash aggregate
  * (object buffers live un-serialized inside ObjectHashAggregate; the
  * encoder only runs at shuffle/spill boundaries, so `reduce` is a plain
  * in-memory `put` per row). Spark's `bloom_filter_agg` does not resolve as
  * a function in 4.1, hence this one.
  *
  * That grouping is what a lakehouse needs sketches for: per-FILE blooms in
  * a stats manifest ([[graft.sinks.FileStats.collectWithBloom]]) prune
  * point lookups the way zone maps prune ranges. Count-min sketches come
  * from the built-in `functions.count_min_sketch`, whose bytes are
  * `CountMinSketch.writeTo` output — [[cmsFromBytes]] and [[cms_estimate]]
  * read them.
  *
  * Keys are fed as STRINGS (cast upstream): one canonical representation
  * means the build and every later probe hash identically — the same rule
  * [[graft.ops.Sketches]] follows.
  */
object SketchAggregates {

  private class BloomAgg(expected: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    def zero: BloomFilter = BloomFilter.create(expected, fpp)
    def reduce(b: BloomFilter, a: String): BloomFilter = {
      if (a != null) b.putString(a)
      b
    }
    def merge(x: BloomFilter, y: BloomFilter): BloomFilter = x.mergeInPlace(y)
    def finish(b: BloomFilter): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      b.writeTo(out)
      out.toByteArray
    }
    def bufferEncoder: Encoder[BloomFilter] = Encoders.javaSerialization[BloomFilter]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Serialized Bloom filter over the group's (string-cast, non-null)
    * keys. ~`1.2·expected·log2(1/fpp)` bits per group regardless of rows. */
  def bloom_agg(key: Column, expected: Long = 1000000L, fpp: Double = 0.01): Column =
    udaf(new BloomAgg(expected, fpp)).apply(key.cast("string"))

  def bloomFromBytes(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  def cmsFromBytes(bytes: Array[Byte]): CountMinSketch =
    CountMinSketch.readFrom(new ByteArrayInputStream(bytes))

  /** Row-at-a-time probe of a serialized bloom COLUMN (e.g. a stats table
    * with one bloom per file). Deserializes per row — right for manifests
    * with one row per file/partition; for probing a BIG table against ONE
    * sketch, deserialize once and broadcast instead. */
  def might_contain(bloomBytes: Column, key: Column): Column = {
    val f = udf((b: Array[Byte], k: String) =>
      if (b == null || k == null) false else bloomFromBytes(b).mightContainString(k))
    f(bloomBytes, key.cast("string"))
  }

  /** Row-at-a-time CMS estimate — same per-row deserialization caveat. */
  def cms_estimate(cmsBytes: Column, key: Column): Column = {
    val f = udf((b: Array[Byte], k: String) =>
      if (b == null || k == null) 0L else cmsFromBytes(b).estimateCount(k))
    f(cmsBytes, key.cast("string"))
  }
}
