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
      .config(SessionFactory.localFileSystem) // likewise: file:// writes
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
    val prior = sc.getLocalProperty(key)
    sc.setLocalProperty(key, tag)
    try countJobs(e => Option(e.properties).exists(_.getProperty(key) == tag))(body)
    finally sc.setLocalProperty(key, prior)
  }

  /** `body`'s result and the number of Spark jobs ANY thread started while
    * it ran. A streaming query's micro-batch thread never sees the caller's
    * local properties, so [[jobsDuring]] cannot count its jobs; this can,
    * at the price that nothing else may run jobs meanwhile. */
  def allJobsDuring[T](body: => T): (T, Int) = countJobs(_ => true)(body)

  /** Jobs started while `body` ran that `counted` accepts. The bus is
    * drained before and after `body`, so earlier events are not counted
    * and late ones are. */
  private def countJobs[T](counted: org.apache.spark.scheduler.SparkListenerJobStart => Boolean)(
      body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (counted(e)) jobs.incrementAndGet()
    }
    org.apache.spark.graftspec.Bus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.graftspec.Bus.drain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
