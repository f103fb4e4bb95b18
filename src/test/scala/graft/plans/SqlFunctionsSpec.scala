package graft.plans

import graft.SparkSpec

/** The custom expression/aggregate surface registered as SQL functions via
  * GraftExtensions — a SQL user needs no Scala imports — and the built-in
  * sketch functions that stand in for the custom theta and KLL ones. */
class SqlFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_similarity is callable from SQL with implicit array cast") {
    val v = spark.sql(
      "SELECT cosine_similarity(array(1, 0, 0), array(1, 0, 0)) AS c").as[Double].head()
    assert(v == 1.0)
    val ortho = spark.sql(
      "SELECT cosine_similarity(array(1.0, 0.0), array(0.0, 1.0)) AS c").as[Double].head()
    assert(ortho == 0.0)
  }

  test("top_k aggregate is callable from SQL and ranks (v desc, id asc)") {
    Seq(("a", 1.0, 1L), ("a", 3.0, 2L), ("a", 2.0, 3L), ("b", 5.0, 9L))
      .toDF("g", "v", "id").createOrReplaceTempView("topk_in")
    val rows = spark.sql(
      """SELECT g, top_k(v, id, 2) AS top FROM topk_in GROUP BY g ORDER BY g""")
      .selectExpr("g", "transform(top, e -> e.id) AS ids")
      .as[(String, Seq[Long])].collect().toMap
    assert(rows("a") == Seq(2L, 3L)) // 3.0 then 2.0
    assert(rows("b") == Seq(9L))
  }

  test("built-in KLL sketch functions compose in SQL; exact below k") {
    spark.range(1, 102).selectExpr("'g' AS g", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("kll_in")
    val p50 = spark.sql(
      """SELECT kll_sketch_get_quantile_double(kll_sketch_agg_double(v), 0.5) AS p50
        |FROM kll_in GROUP BY g""".stripMargin)
      .as[Double].head()
    assert(p50 == 51.0)
  }

  test("built-in theta sketch functions compose in SQL; exact below 2^lgK") {
    spark.range(1000).selectExpr("id % 3 AS g", "id AS v")
      .createOrReplaceTempView("theta_in")
    val rows = spark.sql(
      """SELECT g, theta_sketch_estimate(theta_sketch_agg(v)) AS est
        |FROM theta_in GROUP BY g ORDER BY g""".stripMargin)
      .as[(Long, Long)].collect().toMap
    assert(rows(0L) == 334L && rows(1L) == 333L && rows(2L) == 333L)
  }

  test("wrong arity raises a clean AnalysisException, not IndexOutOfBounds") {
    import org.apache.spark.sql.AnalysisException
    Seq("SELECT top_k(1.0) AS t",
        "SELECT cosine_similarity(array(1.0)) AS c").foreach { q =>
      val e = intercept[AnalysisException](spark.sql(q).collect())
      assert(e.getCondition != null && e.getCondition.startsWith("WRONG_NUM_ARGS"),
        s"$q -> ${e.getCondition}: ${e.getMessage}")
    }
  }
}
