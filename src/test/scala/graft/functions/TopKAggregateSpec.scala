package graft.functions

import graft.SparkSpec
import graft.functions.TopKAggregate.{rankedTopK, top_k}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKAggregateSpec extends SparkSpec {
  import spark.implicits._

  test("matches the window row_number form across partitions, ties by id") {
    val df = spark.range(2000).select(
        (col("id") % 7).as("g"),
        (col("id") % 13).cast("double").as("v"), // many ties
        col("id"))
      .repartition(6) // force partial/final merge across buffers
    val agg = df.groupBy("g")
      .agg(top_k(col("v"), col("id"), 4).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("g"), (col("pos") + 1).cast("long").as("rank"), col("e.v"), col("e.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
    val ref = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 4)
      .select(col("g"), col("rank").cast("long"), col("v"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(agg == ref)
  }

  test("groups smaller than k return all their rows, sorted") {
    val df = Seq((1L, 5.0, 10L), (1L, 7.0, 11L)).toDF("g", "v", "id")
    val out = df.groupBy("g").agg(top_k(col("v"), col("id"), 5).as("top"))
      .select(explode(col("top")).as("e"))
      .select(col("e.v")).as[Double].collect().toSeq
    assert(out == Seq(7.0, 5.0))
  }

  test("rankedTopK: keyed and keyless ranks match row_number, ties to the smaller id") {
    // group 2 holds two rows (< k); score ties everywhere
    val df = spark.range(40).select(
        when(col("id") < 2, lit(2L)).otherwise(col("id") % 2).as("g"),
        (col("id") % 5).cast("double").as("v"),
        col("id"))
      .repartition(3)
    def rows(d: DataFrame) =
      d.collect().map(r => r.toSeq.map(_.toString)).toSet
    def byWindow(part: Seq[String], order: Column) = {
      val w = Window.partitionBy(part.map(col): _*).orderBy(order, col("id"))
      df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
        .select(part.map(col) ++ Seq(col("id"), col("v"), col("rank")): _*)
    }
    val keyed = rankedTopK(df, Seq("g"), col("v"), col("id"), 3)
    assert(keyed.columns.toSeq == Seq("g", "id", "v", "rank"))
    assert(rows(keyed) == rows(byWindow(Seq("g"), col("v").desc)))
    assert(keyed.filter(col("g") === 2).count() == 2)
    // dense ranks 1..n per group
    assert(keyed.groupBy("g").agg(collect_list("rank").as("r")).collect()
      .forall(r => r.getSeq[Int](1).sorted == (1 to r.getSeq[Int](1).size)))
    // keyless, ascending through the negated score
    val asc = rankedTopK(df, Nil, -col("v"), col("id"), 3)
      .select(col("id"), (-col("v")).as("v"), col("rank"))
    assert(rows(asc) == rows(byWindow(Nil, col("v").asc)))
    assert(rows(asc) == Set(Seq("0", "0.0", "1"), Seq("5", "0.0", "2"), Seq("10", "0.0", "3")))
  }

  test("serialization round-trip preserves heap contents") {
    import org.apache.spark.sql.graftbridge.SqlBridge
    val agg = TopKAggregate(
      SqlBridge.expression(lit(0.0)), SqlBridge.expression(lit(0L)), 3)
    val h = agg.createAggregationBuffer()
    Seq((5.0, 1L), (9.0, 2L), (1.0, 3L), (7.0, 4L)).foreach { case (v, i) => h.offer(v, i) }
    val rt = agg.deserialize(agg.serialize(h))
    assert(rt.toSortedArray.toSeq == Seq((9.0, 2L), (7.0, 4L), (5.0, 1L)))
  }
}
