package graft

import org.apache.spark.sql.SparkSession

/** Builds the engine's SparkSession with the scale posture in ONE place,
  * so every entry point (Verify, Bench, Etl, user code) runs under the same
  * contract. The local `cores` parameter maps 1:1 onto a cluster deployment:
  * on a real cluster, drop `.master` and size `shuffle.partitions` to
  * 2-3× total executor cores.
  */
object SessionFactory {

  /** The pid-scoped warehouse (see the config below) makes stale-dir
    * recovery race-free, but every process leaves a full warehouse of
    * bucketed fact copies in tmpdir. Two-sided cleanup, once per JVM:
    * a shutdown hook removes THIS process's warehouse, and a startup
    * sweep removes `graft-warehouse-<pid>` dirs whose owning pid is no
    * longer alive (covers processes that died before their hook ran).
    * Liveness via ProcessHandle — a recycled pid worst-cases to keeping
    * a dir one sweep longer, never to deleting a live process's tables. */
  private val cleanupArmed = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
    f.delete(); ()
  }

  /** Remove `graft-warehouse-<pid>` dirs whose owning process is gone. */
  private[graft] def sweepDeadWarehouses(): Unit = {
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    val Stale = "graft-warehouse-([0-9]+)".r
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      f.getName match {
        // toLongOption: tmpdir is shared, so a foreign dir named
        // graft-warehouse-<20+ digits> must be skipped, not throw out of
        // builder() and block every session start until hand-removed
        case Stale(pid) => pid.toLongOption match {
          case Some(p) if p != ProcessHandle.current().pid() &&
              !ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false) =>
            rm(f)
          case _ => ()
        }
        case _ => ()
      }
    }
  }

  private def armWarehouseCleanup(ownWarehouse: java.io.File): Unit =
    if (cleanupArmed.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => rm(ownWarehouse)))
      sweepDeadWarehouses()
    }

  /** `file://` goes through [[sinks.NioLocalFileSystem]]. With no native
    * Hadoop library, the stock local file system forks a `chmod` for every
    * file `create` makes (data file and `.crc`) and every dir `mkdirs`
    * makes. One `create` costs 10.8 ms that way against 0.33 ms in-process,
    * one `mkdirs` 5.5 ms against 0.11 ms (medians of 5 rounds of 100
    * operations, 4 cores). Hadoop caches the `file://` instance per JVM
    * and user whatever the conf, so this holds only if no `FileSystem.get`
    * of a local path runs before the first session. Shared with the test
    * session, so the suite writes through the same class. */
  private[graft] val localFileSystem: Map[String, String] =
    Map("spark.hadoop.fs.file.impl" -> classOf[sinks.NioLocalFileSystem].getName)

  def builder(appName: String, cores: Int): SparkSession.Builder = {
    val warehouse = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft-warehouse-${ProcessHandle.current().pid()}")
    armWarehouseCleanup(warehouse)
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      // one shuffle partition per slot locally; 2-3× executor cores on a
      // cluster (small enough to avoid tiny-task overhead, large enough
      // that a partition of a 100 TB shuffle fits in executor memory)
      .config("spark.sql.shuffle.partitions", cores)
      // AQE: runtime re-plan — coalesces empty/small shuffle partitions,
      // switches to broadcast when a side turns out small, splits skewed
      // sort-merge-join partitions
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // no AQE minPartitionSize floor: round 21 measured a 16k floor at +15% on the battery
      // split large files so scan parallelism tracks the cluster, not the
      // writer's file layout
      .config("spark.sql.files.maxPartitionBytes", s"${128 * 1024 * 1024}")
      // deterministic timestamps against the DuckDB oracle and the lake
      .config("spark.sql.session.timeZone", "UTC")
      // managed-table home (bucketed snapshot tables) outside the repo,
      // PER-PROCESS: the in-memory catalog dies with the JVM, so sharing a
      // warehouse across processes would let one process's catalog-miss
      // "self-heal" delete a table another process is actively scanning —
      // a pid-scoped dir makes stale-dir recovery race-free by construction
      // (reclaimed by armWarehouseCleanup above: shutdown hook + dead-pid
      // sweep, so the per-process copies don't accumulate)
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .config(localFileSystem)
  }

  /** Session with the engine's extensions (as-of join strategy) installed. */
  def create(appName: String = "graft", cores: Int = 8): SparkSession = {
    val spark = builder(appName, cores)
      .withExtensions(new plans.GraftExtensions)
      .getOrCreate()
    ops.DdbUnwrap.register(spark)
    spark
  }
}
