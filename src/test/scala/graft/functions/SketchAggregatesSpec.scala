package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SketchAggregatesSpec extends SparkSpec {
  import spark.implicits._

  test("grouped bloom: no false negatives per group; other groups' keys mostly absent") {
    val df = (0 until 3).flatMap(g => (0 until 500).map(i => (g, s"key-$g-$i")))
      .toDF("g", "k").repartition(4)
    val blooms = df.groupBy($"g")
      .agg(SketchAggregates.bloom_agg($"k", expected = 1000, fpp = 0.01).as("b"))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]]("b")).toMap
    assert(blooms.size == 3)
    // every member key hits its own group's bloom — bloom filters cannot
    // false-negative, regardless of how partials merged
    for (g <- 0 until 3) {
      val bf = SketchAggregates.bloomFromBytes(blooms(g))
      assert((0 until 500).forall(i => bf.mightContainString(s"key-$g-$i")))
    }
    // cross-group probes are false positives only: well under 5% at fpp=1%
    val bf0 = SketchAggregates.bloomFromBytes(blooms(0))
    val fp = (0 until 500).count(i => bf0.mightContainString(s"key-1-$i"))
    assert(fp < 25, s"false positive count $fp")
  }

  test("grouped CMS: estimates never undercount and respect the eps bound") {
    // skewed per-group frequencies: key j appears j+1 times in group g
    val rows = for (g <- 0 until 2; j <- 0 until 50; _ <- 0 to j) yield (g, s"k$j")
    val df = rows.toDF("g", "k").repartition(4)
    val n = rows.count(_._1 == 0) // rows per group
    val sk = df.groupBy($"g")
      .agg(count_min_sketch($"k", lit(0.01), lit(0.99), lit(42)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]]("c")).toMap
    for (g <- 0 until 2) {
      val cms = SketchAggregates.cmsFromBytes(sk(g))
      for (j <- 0 until 50) {
        val est = cms.estimateCount(s"k$j")
        assert(est >= j + 1, s"CMS undercounted k$j: $est < ${j + 1}")
        assert(est <= (j + 1) + math.ceil(0.01 * n).toLong + 1,
          s"CMS overshot eps bound for k$j: $est")
      }
    }
  }

  test("column-level probe helpers agree with direct sketch probes") {
    val df = Seq(("a", "x1"), ("a", "x2"), ("b", "y1")).toDF("g", "k")
    val stats = df.groupBy($"g").agg(
      SketchAggregates.bloom_agg($"k", 100, 0.01).as("b"),
      count_min_sketch($"k", lit(0.01), lit(0.99), lit(42)).as("c"))
    val hit = stats.filter(SketchAggregates.might_contain($"b", lit("x1")))
      .select($"g").as[String].collect().toSet
    assert(hit.contains("a") && !hit.contains("b"))
    val est = stats.filter($"g" === "b")
      .select(SketchAggregates.cms_estimate($"c", lit("y1"))).as[Long].head()
    assert(est >= 1L)
  }

  test("whole-table aggregate build covers all members, like df.stat's") {
    val df = spark.range(2000).select(($"id" % 997).cast("string").as("k"))
    val bytes = df.agg(SketchAggregates.bloom_agg($"k", 2000, 0.01)).head().getAs[Array[Byte]](0)
    val viaAgg = SketchAggregates.bloomFromBytes(bytes)
    val viaStat = df.stat.bloomFilter($"k", 2000, 0.01)
    // both builds are complete (no false negatives) over the same keys
    assert((0 until 997).forall(i => viaAgg.mightContainString(i.toString)))
    assert((0 until 997).forall(i => viaStat.mightContainString(i.toString)))
  }
}
