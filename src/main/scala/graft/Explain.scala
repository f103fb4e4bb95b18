package graft

/** Dev tool: print the formatted physical plan + wall time of named
  * registry queries (all of them when no args). Usage:
  *   tools/run.sh graft.Explain q_join_multiway q_pricing_summary
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 8).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = SessionFactory.builder("graft-explain", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"===== $n =====")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      df.count()
      println(f"time: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
