package graft

/** Dev tool: print the formatted physical plan + wall time of named
  * registry queries (all of them when no args). Each entry runs once
  * untimed (the session's and the entry's warm-up), then a second run is
  * timed through a `noop` write, which executes every output column where
  * `count()` would let the plan drop them. Usage:
  *   tools/run.sh graft.Explain q_join_multiway q_pricing_summary
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 8).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = SessionFactory.builder("graft-explain", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      noop(SparkEntry.queries(n)(spark, sfDir))
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      noop(df)
      println(f"time: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
