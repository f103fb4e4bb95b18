package graft.functions

import org.apache.datasketches.common.ArrayOfLongsSerDe
import org.apache.datasketches.frequencies.ItemsSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.Sketches

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact-regime guards for Spark's built-in theta, KLL and frequent-items
  * (`approx_top_k_accumulate`) sketches. Below their size bound all three
  * are exact — theta estimates ARE distinct counts, KLL quantiles ARE
  * `percentile_disc` order statistics, top-k estimates ARE counts — which is
  * what lets a query built on them carry a value-hash oracle. Past the
  * bound they turn approximate silently; these guards make that a LOUD
  * failure inside the query instead of a non-obvious hash mismatch after a
  * scale-factor bump.
  */
object ExactRegime {

  /** A theta sketch is exact only while theta == 1, i.e. under 2^lgK
    * distinct values seen. No built-in exposes that state. */
  def requireExact(bytes: Array[Byte]): Array[Byte] = {
    val sk = Sketches.wrapCompactSketch(Memory.wrap(bytes))
    require(!sk.isEstimationMode,
      s"theta sketch left the exact regime (theta=${sk.getTheta}, retained=" +
      s"${sk.getRetainedEntries}); raise lgK or use the estimate path")
    bytes
  }

  private val requireExactUdf = udf(requireExact _)

  /** Column form of [[requireExact]]: the sketch bytes unchanged, or a task
    * failure. Apply it to each input of `theta_intersection`/`theta_difference`. */
  def theta(sketch: Column): Column = requireExactUdf(sketch)

  /** Quantiles at `ranks` of a `kll_sketch_agg_double(_, k)` sketch, or a
    * USER_RAISED_EXCEPTION once the sketch has seen more than k values: the
    * (k+1)-th value starts compaction, after which quantiles are estimates. */
  def kllQuantiles(sketch: Column, k: Int, ranks: Double*): Column =
    when(kll_sketch_get_n_double(sketch) <= k,
        kll_sketch_get_quantile_double(sketch, array(ranks.map(lit): _*)))
      .otherwise(raise_error(lit(s"KLL sketch left the exact regime (n > k=$k); " +
        "raise k above the group size or use the approximate quantiles")))

  /** A frequent-items sketch is exact only while its bounded map has never
    * purged, i.e. maxError == 0: then every estimate is the item's count. */
  private def requireExactItems(bytes: Array[Byte]): Array[Byte] = {
    val err = ItemsSketch.getInstance(Memory.wrap(bytes), new ArrayOfLongsSerDe)
      .getMaximumError
    require(err == 0,
      s"frequent-items sketch left the exact regime (maxError=$err); raise " +
      "maxItemsTracked above the distinct-item count or use the estimates")
    bytes
  }

  private val requireExactItemsUdf = udf(requireExactItems _)

  /** An `approx_top_k_accumulate` struct of BIGINT items unchanged, or a
    * task failure once its sketch has left the exact regime. Apply it
    * before `approx_top_k_estimate`. */
  def topK(sketch: Column): Column =
    sketch.withField("sketch", requireExactItemsUdf(sketch.getField("sketch")))
}
