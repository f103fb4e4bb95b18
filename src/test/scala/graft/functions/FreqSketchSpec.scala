package graft.functions

import graft.SparkSpec
import org.apache.datasketches.common.ArrayOfLongsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark's built-in frequent-items sketch (`approx_top_k_accumulate` over
  * BIGINT items), decoded with DataSketches' `ItemsSketch`, and the
  * exact-regime guard `q_freq_topk` puts in front of its estimate. */
class FreqSketchSpec extends SparkSpec {
  import spark.implicits._

  private def accumulate(maxItemsTracked: Int): Column =
    call_function("approx_top_k_accumulate", $"item".cast("long"), lit(maxItemsTracked))

  /** The accumulated sketch of `df`'s `item` column, decoded. */
  private def sketch(df: DataFrame, maxItemsTracked: Int): ItemsSketch[java.lang.Long] =
    ItemsSketch.getInstance(
      Memory.wrap(df.agg(accumulate(maxItemsTracked).as("sk"))
        .select($"sk.sketch").head().getAs[Array[Byte]](0)),
      new ArrayOfLongsSerDe)

  // 100k rows: 10% are item 42, the rest spread over 90k distinct items —
  // far beyond 64 tracked, so the sketch purges constantly
  private def planted = spark.range(100000).select(
    when($"id" % 10 === 0, 42L).otherwise($"id" + 1000000).as("item")).repartition(8)

  test("exact regime: distinct items fit the map → maxError 0, counts exact") {
    // 10 items, skewed counts 1000, 900, ... 100
    val df = spark.range(10).select($"id".as("item"), (lit(1000) - $"id" * 100).as("n"))
      .select($"item", explode(sequence(lit(1), $"n")).as("rep"))
    val sk = sketch(df, 64)
    assert(sk.getMaximumError == 0L)
    assert(sk.getEstimate(0L) == 1000L && sk.getEstimate(5L) == 500L && sk.getEstimate(9L) == 100L)
    // the guarded estimate path returns the same exact counts
    val got = df.agg(accumulate(64).as("sk"))
      .select(explode(call_function("approx_top_k_estimate", ExactRegime.topK($"sk"), lit(10))).as("r"))
      .select($"r.item", $"r.count").as[(Long, Long)].collect().toMap
    assert(got == (0L until 10L).map(i => i -> (1000L - 100L * i)).toMap)
  }

  test("purging regime: planted 10% heavy hitter always surfaces (no false negatives)") {
    val sk = sketch(planted, 64)
    assert(sk.getMaximumError > 0L) // genuinely in the approximate regime
    val hh = sk.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES).find(_.getItem == 42L)
    assert(hh.isDefined, "true heavy hitter missed — violates NO_FALSE_NEGATIVES")
    val (est, lb, ub) = (hh.get.getEstimate, hh.get.getLowerBound, hh.get.getUpperBound)
    assert(lb <= 10000L && 10000L <= ub, s"true count 10000 outside [$lb, $ub]")
    assert(lb <= est && est <= ub)
  }

  test("exact-regime guard fails the query once the sketch has purged") {
    val q = intercept[Exception] {
      planted.agg(accumulate(64).as("sk"))
        .select(call_function("approx_top_k_estimate", ExactRegime.topK($"sk"), lit(10)))
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(q).exists(c => c.getMessage != null &&
      c.getMessage.contains("left the exact regime")), q.toString)
  }
}
