package graft.functions

import graft.SparkSpec
import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spark's built-in KLL sketches (`kll_sketch_agg_double` and its
  * accessors), and the exact-regime guard of the oracled quantile query. */
class KllSketchSpec extends SparkSpec {
  import spark.implicits._

  /** 1..n as doubles, sketched at `k` (the built-in's default when None). */
  private def sketch(n: Int, k: Option[Int] = None, parts: Int = 1): DataFrame = {
    val v = spark.range(1, n + 1).repartition(parts).select($"id".cast("double").as("v"))
    v.agg(k.fold(kll_sketch_agg_double($"v"))(kll_sketch_agg_double($"v", _)).as("sk"))
  }

  test("below k the sketch retains everything: quantiles are exact") {
    val q = sketch(101)
      .select(kll_sketch_get_quantile_double($"sk", array(lit(0.5), lit(0.0), lit(1.0))))
      .as[Seq[Double]].head()
    assert(q == Seq(51.0, 1.0, 101.0))
  }

  test("100k uniform values: p50/p90 within the guaranteed rank error") {
    val n = 100000
    val bytes = sketch(n, parts = 8).head().getAs[Array[Byte]]("sk")
    val kll = KllDoublesSketch.heapify(Memory.wrap(bytes))
    assert(kll.getN == n && kll.getK == 200, s"n=${kll.getN} k=${kll.getK}")
    val eps = kll.getNormalizedRankError(false) * 2 // two-sided safety on the one-sided bound
    assert(eps < 0.04, s"default k should bound rank error tightly, got $eps")
    val ranks = Seq(0.25, 0.5, 0.9)
    val r = spark.createDataFrame(Seq(Tuple1(bytes))).toDF("sk")
      .select(kll_sketch_get_quantile_double($"sk", array(ranks.map(lit): _*)))
      .as[Seq[Double]].head()
    for ((rank, est) <- ranks.zip(r)) {
      val estRank = (est - 1) / n // uniform 1..n: value ≈ rank · n
      assert(math.abs(estRank - rank) <= eps,
        s"quantile($rank) = $est → rank $estRank, off by more than $eps")
    }
  }

  test("exact-regime guard: n = k passes and equals percentile_disc") {
    val k = 8
    val ranks = Seq(0.125, 0.25, 0.5, 0.9)
    val got = sketch(k, Some(k), parts = 2)
      .select(ExactRegime.kllQuantiles($"sk", k, ranks: _*))
      .as[Seq[Double]].head()
    spark.range(1, k + 1).select($"id".cast("double").as("v"))
      .createOrReplaceTempView("kll_guard_in")
    val want = spark.sql(ranks.map(r =>
        s"percentile_disc($r) WITHIN GROUP (ORDER BY v)").mkString("SELECT ", ", ", " FROM kll_guard_in"))
      .head().toSeq.map(_.asInstanceOf[Double])
    assert(got == want)
  }

  test("exact-regime guard: n = k + 1 raises") {
    val k = 8
    val e = intercept[Exception] {
      sketch(k + 1, Some(k)).select(ExactRegime.kllQuantiles($"sk", k, 0.5)).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("USER_RAISED_EXCEPTION") &&
      c.getMessage.contains("left the exact regime")), e.toString)
  }
}
