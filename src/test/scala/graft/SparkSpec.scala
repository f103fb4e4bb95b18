package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites — one JVM-wide session (Spark's
  * getOrCreate caches it), tiny shuffle partitioning so specs run in
  * milliseconds, UTC so timestamp assertions are stable.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .withExtensions(new plans.GraftExtensions) // production wiring under test
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** `body`'s result and the exact number of Spark jobs it started. Only
    * jobs carrying this call's tag count (a local property, inherited by
    * threads `body` spawns), and the listener bus is drained after `body`,
    * so neither stray jobs nor late events skew the count. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(key)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      org.apache.spark.graftspec.Bus.drain(sc)
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(key, prior)
      sc.removeSparkListener(listener)
    }
  }
}
