package graft

/** Dev tool: run ad-hoc SQL over the testdata tables (registered as temp
  * views) with the engine's custom functions/strategies available.
  * Usage: tools/run.sh graft.Sql "SELECT count(*) FROM lineitem"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS (default 8).
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = SessionFactory.builder("graft-sql", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.ops.DdbUnwrap.register(spark)
    graft.plans.AsOf.register(spark)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      sources.Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    sources.Tables.events(spark, sfDir).createOrReplaceTempView("events")
    args.foreach(sql => spark.sql(sql).show(100, truncate = false))
    spark.stop()
  }
}
