package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark's built-in theta sketches (`theta_sketch_agg` and the set
  * operations over its bytes), and the exact-regime guard the oracled
  * queries put in front of every intersection and difference. */
class ThetaSketchSpec extends SparkSpec {
  import spark.implicits._

  /** One sketch per input frame (column `v`), side by side in one row. */
  private def sketches(lgK: Int, dfs: DataFrame*): DataFrame =
    dfs.zipWithIndex.map { case (df, i) =>
      df.agg(theta_sketch_agg($"v", lgK).as(s"s$i"))
    }.reduce(_ crossJoin _)

  private def estimates(sk: DataFrame, cols: Column*): Seq[Double] = {
    val r = sk.select(cols.map(theta_sketch_estimate(_).cast("double")): _*).head()
    cols.indices.map(r.getDouble)
  }

  test("exact mode: estimate, intersection, aNotB equal true set counts") {
    // two sets over 0..999 with a known 500-element overlap, well under 2^14
    val a = spark.range(1000).select($"id".as("v"))
    val b = spark.range(1000, 1500).select(($"id" - 500).as("v")) // 500..999
    val sk = sketches(14, a, b)
    assert(estimates(sk,
        $"s0", $"s1",
        theta_intersection($"s0", $"s1"),
        theta_difference($"s0", $"s1"),
        theta_union($"s0", $"s1", 14)) ==
      Seq(1000.0, 500.0, 500.0, 500.0, 1000.0))
  }

  test("estimation mode: 100k distinct within 5%; merge is partitioning-invariant") {
    val n = 100000L
    val df = spark.range(n).select($"id".as("v"))
    def est(parts: Int): Double =
      estimates(sketches(12, df.repartition(parts)), $"s0").head
    val e4 = est(4)
    assert(math.abs(e4 - n) / n < 0.05, s"estimate $e4 off $n by >5%")
    // same input through a different partitioning merges to a close estimate
    // (theta unions are order-insensitive up to retained-set trimming)
    val e16 = est(16)
    assert(math.abs(e16 - n) / n < 0.05, s"estimate $e16 off $n by >5%")
  }

  test("Int column vs Bigint column of the same ids intersect exactly") {
    // both integral widths hash as longs, so equal ids land on equal hashes
    val ints = spark.range(1000).select($"id".cast("int").as("v"))
    val longs = spark.range(500, 1500).select($"id".as("v"))
    assert(estimates(sketches(14, ints, longs),
      theta_intersection($"s0", $"s1")) == Seq(500.0))
  }

  test("unhashable input type throws instead of silently toString-hashing") {
    // DECIMAL has no hashing in the built-in: refused at analysis time,
    // before any row is read
    for (t <- Seq("decimal(12,2)", "decimal(24,2)")) {
      val e = intercept[AnalysisException] {
        sketches(14, spark.range(3).select($"id".cast(t).as("v")))
      }
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    }
  }

  test("string and long updates of equal logical sets do not collide to zero") {
    val strs = spark.range(100).select($"id".cast("string").as("v"))
    assert(estimates(sketches(14, strs), $"s0") == Seq(100.0))
  }

  test("exact-regime guard passes an exact sketch through unchanged") {
    val bytes = sketches(16, spark.range(100).select($"id".as("v")))
      .head().getAs[Array[Byte]](0)
    assert(ExactRegime.requireExact(bytes) eq bytes)
  }

  test("exact-regime guard throws once the sketch is in estimation mode") {
    // lgK=4 over 100 distinct values: theta < 1, the estimate reads ~135
    val sk = sketches(4, spark.range(100).select($"id".as("v")))
    val e = intercept[IllegalArgumentException] {
      ExactRegime.requireExact(sk.head().getAs[Array[Byte]](0))
    }
    assert(e.getMessage.contains("left the exact regime"))
    // the column form fails the query the same way
    val q = intercept[Exception] {
      sk.select(theta_sketch_estimate(ExactRegime.theta($"s0"))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(q).exists(c => c.getMessage != null &&
      c.getMessage.contains("left the exact regime")), q.toString)
  }
}
