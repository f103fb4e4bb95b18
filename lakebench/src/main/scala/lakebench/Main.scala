package lakebench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SessionFactory

/** Runs one workload and writes its result as JSON.
  *
  * Usage: lakebench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --out FILE [--size tiny] [--plant DEFECT]
  *
  * `setup_s` is the program's cold start: from JVM start to the first timed
  * step, through the first session and the warm-up, less the time spent
  * generating inputs. Steps then run one at a time: as many as fill
  * `--seconds` at the workload's nominal step time on the reference host.
  * With `--trace 1` every other step is traced, so the trace's cost shows
  * as traced against untraced steps of the same run, and the `etl_hourly`
  * run adds traced passes over registry entries. */
object Main {
  private val born = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private def phase(what: String): Unit =
    System.err.println(f"lakebench: ${(System.currentTimeMillis() - born) / 1e3}%.1f s $what")

  def main(args: Array[String]): Unit = {
    phase("jvm up")
    def arg(name: String): String =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }.getOrElse(sys.error(s"$name required"))
    val workload = arg("--workload")
    val seed = arg("--seed").toLong
    val seconds = arg("--seconds").toDouble
    val trace = arg("--trace") == "1"
    val work = arg("--work")
    val out = arg("--out")
    val tiny = args.contains("tiny")
    val cores = Runtime.getRuntime.availableProcessors()

    val wl: Workload = workload match {
      case "etl_hourly" => new Hourly(seed, cities = if (tiny) 20 else 200, landedHours = if (tiny) 4 else 16,
        warmLoads = if (tiny) 1 else 3)
      case "gate_chunkstore" =>
        if (tiny) new Gate(seed, nDocs = 400, batchDocs = 20, compactEvery = 3, sampleDocs = 5)
        else new Gate(seed, nDocs = 5000, batchDocs = 100, compactEvery = 1, sampleDocs = 20)
      case other => sys.error(s"unknown workload $other")
    }

    args.sliding(2).collectFirst { case Array("--plant", v) => v }.foreach(wl.plant = _)

    def session(): SparkSession = {
      val s = SessionFactory.builder(s"lakebench-$workload", cores).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    val spark = session()
    val gen0 = System.nanoTime()
    wl.prepare(spark, s"$work/run")
    val genS = (System.nanoTime() - gen0) / 1e9
    phase(f"inputs generated in $genS%.1f s")
    val warm0 = System.nanoTime()
    wl.warmUp(spark)
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = (System.currentTimeMillis() - born) / 1e3 - genS
    phase(f"warmed up in $warmS%.1f s; set-up $setupS%.2f s")
    val steps = ArrayBuffer.empty[(Step, Boolean, Double)] // step, traced, file bytes moved
    val minSteps = if (trace) 4 else 2
    val nSteps = math.max(minSteps, math.round(seconds / wl.nominalStepS).toInt)
    var failures = Vector.empty[String]
    while (steps.size < nSteps) {
      val traced = trace && steps.size % 2 == 1
      if (traced) Trace.start(spark, s"$workload-$seed-${steps.size}")
      wl.takeIo()
      val st =
        try wl.step(spark, traced)
        catch { case e: Exception => Step(0, 0, 0, Seq(s"step threw: $e")) }
        finally Trace.stop()
      steps += ((st, traced, wl.takeIo().toDouble))
      phase(f"step ${steps.size}${if (traced) " traced" else ""}: op ${st.opS}%.3f s, read ${st.readS}%.3f s, " +
        f"io ${steps.last._3 / 1e6}%.2f MB${st.facts.get("compacted").filter(_ > 0).map(_ => ", compacted").getOrElse("")}")
      failures ++= st.failures
      if (st.opS == 0 && st.failures.nonEmpty) sys.error(st.failures.mkString("; "))
    }
    phase(s"${steps.size} steps timed")
    val heapLiveMb = { System.gc(); System.gc(); val rt = Runtime.getRuntime; (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    val finalFailures = try wl.finalChecks(spark) catch { case e: Exception => Seq(s"final check threw: $e") }
    failures ++= finalFailures
    wl.close()
    phase("checked")
    val registry = if (trace && workload == "etl_hourly") Some(new Registry(seed, tiny)) else None
    registry.foreach { r => r.run(spark, s"$work/registry", s"$work/oracle"); phase("registry passes timed") }

    val plain = steps.collect { case (s, false, io) => (s, io) }.toSeq
    val traced = steps.collect { case (s, true, _) => s }.toSeq
    val failed = math.min(steps.size, steps.count(_._1.failures.nonEmpty) + finalFailures.size)
    def metric(v: Double, unit: String, n: Int) = Json.raw(Json.obj("value" -> v, "unit" -> unit, "samples" -> n))
    def e2e = Seq(
      "setup_s" -> metric(setupS, "s", 1),
      "op_p50_s" -> metric(Stats.median(plain.map(_._1.opS)), "s", plain.size),
      "read_p50_s" -> metric(Stats.median(reads(plain.map(_._1))), "s", reads(plain.map(_._1)).size),
      "items_per_s" -> metric(plain.map(_._1.items).sum / plain.map(p => stepWall(p._1)).sum, "1/s", plain.size),
      "io_mb_per_op" -> metric(Stats.median(plain.map(_._2 / 1e6)), "MB", plain.size),
      "heap_live_mb" -> metric(heapLiveMb, "MB", 1))
    val perLayer = if (!trace) Nil else layerMetrics(wl, traced, plain.map(_._1), cores, warmS,
      registry.map(_.layers).getOrElse(Map.empty)).toSeq.sortBy(_._1)
      .map { case (k, (v, u)) => k -> metric(v, u, if (k.startsWith("queries.")) Registry.Passes else traced.size) }
    Files2.write(out, Json.obj(
      "correct" -> failures.isEmpty,
      "attempted" -> steps.size,
      "failed" -> failed,
      "failures" -> failures.distinct.take(20),
      "metrics" -> Json.raw(Json.obj((if (trace) perLayer else e2e): _*))) + "\n")
    if (trace) Files2.write(out.stripSuffix(".json") + "-spans.json", Trace.toJson)
    spark.stop()
    phase("stopped")
  }

  private def reads(steps: Seq[Step]): Seq[Double] = steps.map(_.readS).filterNot(_.isNaN)
  private def stepWall(s: Step): Double = s.opS + (if (s.readS.isNaN) 0 else s.readS)
  /** Write-side times of steps without a compaction, which only some
    * positions in the run have: traced and untraced steps compare like
    * for like. */
  private def uncompacted(steps: Seq[Step]): Seq[Double] =
    steps.filterNot(_.facts.get("compacted").exists(_ > 0)).map(_.opS)

  /** Every per-layer metric, 0 for a layer the workload does not call. */
  def layerMetrics(wl: Workload, traced: Seq[Step], plain: Seq[Step], cores: Int,
      warmS: Double, queries: Map[String, Double]): Map[String, (Double, String)] = {
    val own = wl.layers(traced, traced ++ plain) ++ queries
    val steps = Trace.spans.filter(sp => sp.parent == -1 && !sp.name.startsWith("queries."))
    val perStep = (k: String) => steps.map(_.counters.getOrElse(k, 0.0)).sum / math.max(traced.size, 1)
    val wall = steps.map(_.seconds).sum
    val engine = Map(
      "spark.planning_s" -> (perStep("planning_s"), "s"),
      "spark.jobs" -> (perStep("jobs"), "count"),
      "spark.tasks" -> (perStep("tasks"), "count"),
      "spark.task_s" -> (perStep("task_s"), "s"),
      "spark.gc_s" -> (perStep("gc_s"), "s"),
      "spark.shuffle_write_bytes" -> (perStep("shuffle_write_bytes"), "bytes"),
      "spark.spill_bytes" -> (perStep("spill_bytes"), "bytes"),
      "spark.core_util" -> (perStep("task_s") * traced.size / math.max(wall * cores, 1e-9), "ratio"),
      "bench.warmup_s" -> (warmS, "s"),
      "trace.overhead_ratio" -> (Stats.median(uncompacted(traced)) / Stats.median(uncompacted(plain)), "ratio"))
    engine ++ Catalog.perLayer.map { case (k, unit) => k -> (own.getOrElse(k, 0.0), unit) }
  }
}

/** The per-layer metric names and units every traced run reports. */
object Catalog {
  val perLayer: Seq[(String, String)] = Seq(
    "sources.read_s" -> "s", "sources.scan_tasks" -> "count", "sources.files_read" -> "count",
    "sources.prune_ratio" -> "ratio", "sources.bytes_read" -> "bytes", "sources.quarantined_rows" -> "count",
    "ops.transform_s" -> "s", "ops.dedup_s" -> "s", "ops.dedup_shuffle_bytes" -> "bytes",
    "ops.dedup_task_skew" -> "ratio", "ops.kept_ratio" -> "ratio", "ops.dq_s" -> "s",
    "sinks.commit_s" -> "s", "sinks.bytes_written" -> "bytes", "sinks.files_per_partition" -> "count",
    "sinks.io_bytes_per_gold_byte" -> "ratio", "sinks.snapshot_read_s" -> "s",
    "sinks.live_files" -> "count", "sinks.versions" -> "count", "sinks.manifest_bytes" -> "bytes",
    "streaming.batch_jobs" -> "count", "streaming.novel_chunk_ratio" -> "ratio",
    "streaming.state_rows" -> "count", "streaming.state_files" -> "count", "streaming.batch_task_s" -> "s",
    "streaming.compaction_batch_s" -> "s", "streaming.bytes_written_per_doc" -> "bytes",
    "streaming.reconstruct_s" -> "s", "ext.chunk_s" -> "s",
    "queries.build_s" -> "s", "queries.exec_s" -> "s", "queries.build_jobs" -> "count") ++
    Registry.Entries.flatMap(n => Seq(s"queries.$n.build_s" -> "s", s"queries.$n.exec_s" -> "s"))
}
