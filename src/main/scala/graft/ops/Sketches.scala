package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-accelerated operators with EXACT results: the sketch only
  * prunes; correctness is restored by an exact pass over the (small)
  * surviving set. The 100 TB pattern behind both: never let an
  * approximate structure into the answer, only into the plan.
  */
object Sketches {

  /** Bloom-pruned semi join: build a Bloom filter over the small side's
    * keys (one pass, driver-held sketch, ~10 bits/key), pre-filter the big
    * side MAP-SIDE before any shuffle, then run the real semi join on the
    * survivors. False positives (~1%) pass the pre-filter and are removed
    * by the exact join; false negatives cannot happen — the result is
    * bit-identical to the plain semi join while the shuffle carries only
    * matching (± ε) rows instead of the whole big side.
    *
    * Spark's AQE has runtime bloom pruning for some shapes; this is the
    * explicit form for when the pruning column or build side is known. */
  def bloomSemiJoin(
      big: DataFrame,
      small: DataFrame,
      bigKey: String,
      smallKey: String,
      expectedKeys: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val keyType = big.schema(bigKey).dataType
    val integral = Set[org.apache.spark.sql.types.DataType](
      ByteType, ShortType, IntegerType, LongType)
    require(keyType == StringType || integral(keyType),
      s"bloomSemiJoin supports string/integral keys, got $keyType")
    // build via the grouped sketch aggregate (two-phase, map-side partials;
    // only the merged ~KB sketch reaches the driver), then broadcast. Build
    // and probe both see the string-cast key — same hashed representation.
    val bytes = small
      .agg(graft.functions.SketchAggregates.bloom_agg(col(smallKey), expectedKeys, fpp))
      .head().getAs[Array[Byte]](0)
    val bloomBc = big.sparkSession.sparkContext.broadcast(
      graft.functions.SketchAggregates.bloomFromBytes(bytes))
    // the task closure captures only the broadcast sketch
    val mc = udf((k: String) => k != null && bloomBc.value.mightContainString(k))
    val pruned = big.filter(mc(col(bigKey).cast("string")))
    pruned.join(small.select(col(smallKey)).distinct(),
      pruned(bigKey) === col(smallKey), "left_semi")
  }

  /** Exact heavy hitters via a two-pass sketch plan: pass 1 builds a
    * count-min sketch (bounded memory, any cardinality) whose estimates
    * only OVERcount — every true heavy hitter survives the candidate cut;
    * pass 2 exactly counts the candidate keys only. Output = exactly the
    * keys with true count ≥ threshold, with exact counts. */
  def heavyHitters(
      df: DataFrame,
      keyCol: String,
      threshold: Long,
      eps: Double = 0.001,
      confidence: Double = 0.99): DataFrame = {
    // sketch and probes must hash the SAME representation: cast once, then
    // both the CMS build and the estimate lookups see strings
    val keyed = df.select(col(keyCol).cast("string").as("k"))
    val bytes = keyed
      .agg(count_min_sketch(col("k"), lit(eps), lit(confidence), lit(42)))
      .head().getAs[Array[Byte]](0)
    val cmsBc = df.sparkSession.sparkContext.broadcast(
      graft.functions.SketchAggregates.cmsFromBytes(bytes))
    val estimate = udf((k: String) => cmsBc.value.estimateCount(k))
    val candidates = keyed.distinct()
      .filter(estimate(col("k")) >= threshold) // superset: CMS never undercounts
    keyed
      .join(broadcast(candidates), "k")
      .groupBy("k")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
  }
}
