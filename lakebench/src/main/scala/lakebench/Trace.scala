package lakebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Bytes moved through Hadoop's `file://` filesystem, read and written. Spark
  * runs its tasks as threads of this JVM, so the process-wide statistics
  * cover every scan and write; shuffle files bypass Hadoop and are counted
  * by [[Counters]] instead. Op counts stay 0 on the raw local filesystem, so
  * files are counted by listing outputs. */
object FileIo {
  private def stats = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
  def bytesRead: Long = stats.map(_.getBytesRead).sum
  def bytesWritten: Long = stats.map(_.getBytesWritten).sum
}

/** Engine-wide counters from a SparkListener and a QueryExecutionListener.
  * Registered only while a traced operation runs. */
final class Counters extends SparkListener with QueryExecutionListener {
  private val jobs, tasks, taskMs, gcMs, shuffleWrite, spill, planMs = new AtomicLong
  private val durations = ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    durations.synchronized { durations += e.taskInfo.duration }
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum); ()
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)

  def snapshot(): Snap = Snap(
    Map(
      "jobs" -> jobs.get.toDouble,
      "tasks" -> tasks.get.toDouble,
      "task_s" -> taskMs.get / 1e3,
      "gc_s" -> gcMs.get / 1e3,
      "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spill_bytes" -> spill.get.toDouble,
      "planning_s" -> planMs.get / 1e3,
      "bytes_read" -> FileIo.bytesRead.toDouble,
      "bytes_written" -> FileIo.bytesWritten.toDouble),
    durations.synchronized(durations.size))

  /** Slowest task ÷ median task among the tasks that ended in [from, to). */
  def skew(from: Int, to: Int): Double = {
    val ds = durations.synchronized(durations.slice(from, to).toVector).sorted
    if (ds.isEmpty) 0.0 else ds.last / math.max(Stats.median(ds.map(_.toDouble)), 1.0)
  }
}

final case class Snap(values: Map[String, Double], taskIdx: Int)

/** One timed layer call: name, start, end, the span that caused it and the
  * run it belongs to, plus the counters attributed to it. */
final class Span(val id: Int, val name: String, val parent: Int, val run: String, val startNs: Long) {
  var endNs: Long = startNs
  var counters: Map[String, Double] = Map.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are recorded only while `on`; otherwise
  * [[span]] runs its body with no bookkeeping, so untraced operations pay
  * nothing. Listeners are attached for traced operations only. */
object Trace {
  private var spark: SparkSession = _
  private var counters: Counters = _
  private var stack: List[Span] = Nil
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  var run: String = ""
  def on: Boolean = counters != null

  def start(s: SparkSession, runId: String): Unit = {
    spark = s
    counters = new Counters
    run = runId
    s.sparkContext.addSparkListener(counters)
    s.listenerManager.register(counters)
  }

  def stop(): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(counters)
    spark.listenerManager.unregister(counters)
    counters = null
  }

  private def drain(): Unit = org.apache.spark.lakebench.Bus.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      drain()
      val before = counters.snapshot()
      val sp = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), run, System.nanoTime())
      spans += sp
      stack = sp :: stack
      try body
      finally {
        drain()
        sp.endNs = System.nanoTime()
        val after = counters.snapshot()
        sp.counters = after.values.map { case (k, v) => k -> (v - before.values(k)) } +
          ("task_skew" -> counters.skew(before.taskIdx, after.taskIdx))
        stack = stack.tail
      }
    }

  /** Span time minus the time its direct children cover. */
  def selfSeconds(sp: Span): Double =
    sp.seconds - spans.filter(_.parent == sp.id).map(_.seconds).sum

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJson: String = spans.map { sp =>
    Json.obj(
      "id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "run" -> sp.run,
      "start_ns" -> sp.startNs, "end_ns" -> sp.endNs, "self_s" -> selfSeconds(sp),
      "counters" -> Json.raw(Json.obj(sp.counters.toSeq.sortBy(_._1): _*)))
  }.mkString("[\n", ",\n", "\n]\n")
}
