package lakebench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{Etl, SparkEntry}
import graft.ext.{ContentChunker, TextAnalysis}
import graft.model.Weather
import graft.ops.{Conform, Dedup, DqCheck, EventTime, JsonExpand, Metrics, Validate}
import graft.sinks.Snapshots
import graft.sources.BronzeReader
import graft.streaming.StreamingOps

/** One closed-loop step: the write-side operation, the read that follows
  * it (NaN for a step without one), the work units it completed, and the
  * output checks it failed. */
final case class Step(opS: Double, readS: Double, items: Long, failures: Seq[String],
    facts: Map[String, Double] = Map.empty)

trait Workload {
  /** A defect to plant after each step's write, for the self-test only. */
  var plant: String = ""
  /** A step's wall time on the reference host (4 cores), which sizes a run:
    * `--seconds` buys a fixed number of steps, so every run does the same
    * work and the state the steps build up ends at the same size. */
  def nominalStepS: Double
  /** Generate the inputs under `dir`: seeded, and left out of `setup_s`. */
  def prepare(spark: SparkSession, dir: String): Unit
  /** Bring the engine to steady state before timing: part of `setup_s`, of no step. */
  def warmUp(spark: SparkSession): Unit
  /** One timed step. `traced` runs the layer-by-layer variant under spans. */
  def step(spark: SparkSession, traced: Boolean): Step
  /** Checks over the final state, after timing. */
  def finalChecks(spark: SparkSession): Seq[String] = Nil
  /** Per-layer metrics from the traced steps' spans and facts (`all`
    * holds the untraced steps too). */
  def layers(traced: Seq[Step], all: Seq[Step]): Map[String, Double] = Map.empty
  def close(): Unit = ()

  protected def check(ok: Boolean, what: => String): Seq[String] = if (ok) Nil else Seq(what)
  /** File bytes read and written inside [[timed]] regions since the last
    * [[takeIo]]: the timed work's I/O, without the checks'. */
  private var io = 0L
  def takeIo(): Long = { val b = io; io = 0; b }

  protected def timed[T](body: => T): (T, Double) = {
    val io0 = FileIo.bytesRead + FileIo.bytesWritten
    val t0 = System.nanoTime()
    val r = body
    val t = (System.nanoTime() - t0) / 1e9
    io += FileIo.bytesRead + FileIo.bytesWritten - io0
    (r, t)
  }
  protected def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
  protected def spanMed(name: String, f: Span => Double = _.seconds): Double = med(Trace.named(name).map(f))
  protected def count(sp: Span, k: String): Double = sp.counters.getOrElse(k, 0.0)
}

/** One hourly load in `Etl.run`'s order, one layer call per span, each
  * step's input pinned by a local checkpoint so a span times its own layer
  * only. Returns the gold rows written and the files under the scanned
  * prefix. */
object EtlSteps {
  def run(spark: SparkSession, bronze: String, dt: String, hour: String, quarantine: String,
      gold: String): (Long, Int) = {
    val prefix = BronzeReader.globFor(bronze, Some(dt), Some(hour))
    val raw = Trace.span("sources.read") {
      val (good, bad) = BronzeReader.readWithQuarantine(spark, prefix, Weather.contract)
      bad.write.mode("append").text(quarantine)
      good.localCheckpoint()
    }
    val silver = Trace.span("ops.transform") {
      val expanded = JsonExpand.findJsonColumn(raw).map(c => JsonExpand.withInference(raw, c)).getOrElse(raw)
      val conformed = Conform.toContract(expanded, Weather.contract)
      EventTime.derive(Validate.tag(conformed, Validate.weatherRules(conformed))).localCheckpoint()
    }
    val deduped = Trace.span("ops.dedup") {
      Dedup.keepFirst(silver, Seq("city", "fetched_at_utc"), Seq(col("ts"))).localCheckpoint()
    }
    val (observed, obs) = Metrics.observed(deduped, "etl", Seq(count(lit(1)).as("rows")))
    Trace.span("sinks.commit")(Snapshots.commitPartitioned(observed, gold, Seq("dt", "hour"), SaveMode.Overwrite))
    (obs.get("rows").asInstanceOf[Long], Files2.files(prefix).size)
  }
}

/** Defects the output checks must catch; planted only by the self-test. */
object Plant {
  private def parquetFiles(dir: String) = Files2.files(dir).filter(_.getName.endsWith(".parquet"))

  /** Replace a committed data file's rows in place, behind the table's back. */
  private def rewrite(s: SparkSession, f: File, change: DataFrame => DataFrame): Unit = {
    val tmp = s"${f.getParent}/_planted"
    change(s.read.parquet(f.getPath)).coalesce(1).write.parquet(tmp)
    java.nio.file.Files.move(parquetFiles(tmp).head.toPath, f.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new File(f.getParent, s".${f.getName}.crc").delete()
    Files2.rm(new File(tmp))
  }

  /** One live gold row stored twice. */
  def dupGoldRow(s: SparkSession, gold: String): Unit = {
    val f = new File(new java.net.URI(Snapshots.read(s, gold).inputFiles.head))
    rewrite(s, f, df => df.union(df.limit(1)))
  }

  /** The stored text of a document's first chunk, altered. */
  def corruptChunk(s: SparkSession, chunkT: String, manT: String, doc: Long): Unit = {
    val h = Snapshots.read(s, manT).filter(col("doc_id") === doc && col("chunk_idx") === 1)
      .select(col("chunk_hash")).head().getString(0)
    val f = parquetFiles(chunkT).find(f => s.read.parquet(f.getPath).filter(col("chunk_hash") === h).count() > 0).get
    rewrite(s, f, _.withColumn("ctext",
      when(col("chunk_hash") === h, concat(col("ctext"), lit(" corrupted"))).otherwise(col("ctext"))))
  }
}

/** The reference's schedule: consecutive incremental hourly loads into a
  * `Snapshots` gold table, each followed by the analyst's read. The bronze
  * carries at-least-once duplicates, type-malformed and unparseable lines,
  * which the load quarantines. The first hours' bronze has landed before
  * set-up ends; later hours land just before their load, untimed. */
final class Hourly(seed: Long, cities: Int, landedHours: Int, warmLoads: Int) extends Workload {
  private var bronze, gold, quarantine = ""
  private var hour = 0
  private var loaded = Gen.Bronze(0, 0, 0, 0) // what the loaded hours planted, summed
  private val landed = mutable.Map.empty[Int, Gen.Bronze]

  private def land(h: Int): Gen.Bronze =
    landed.getOrElseUpdate(h, Gen.bronzeHour(bronze, seed * 7919 + h, cities, h))

  def prepare(s: SparkSession, d: String): Unit = {
    bronze = s"$d/bronze"; gold = s"$d/gold"; quarantine = s"$d/quarantine"
    (0 until landedHours).foreach(land)
  }

  def nominalStepS: Double = 2.5
  def warmUp(s: SparkSession): Unit = (0 until warmLoads).foreach(_ => step(s, traced = false))

  /** Every loaded hour reads back its own rows, and each load published
    * exactly one snapshot version. */
  override def finalChecks(s: SparkSession): Seq[String] = {
    val perHour = Snapshots.read(s, gold)
      .groupBy(col("dt").cast("string"), lpad(col("hour").cast("string"), 2, "0")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val versions = Snapshots.versions(s, gold).size
    (0 until hour).flatMap { h =>
      val key = Gen.dtHour(h)
      check(perHour.get(key).contains(landed(h).goldRows),
        s"hour ${key._1}/${key._2} reads ${perHour.getOrElse(key, 0L)} rows, expected ${landed(h).goldRows}")
    } ++ check(versions == hour, s"$versions snapshot versions after $hour loads")
  }

  /** The reference's init.sql reads: row count, fully-null rows, the temp_c
    * null fraction and null count, and duplicate (city, ts) keys. */
  private def dq(gold: DataFrame): (Map[String, Double], Long) = {
    val rules = Seq(DqCheck.rowCount(), DqCheck.noFullyNullRows(Seq("city", "temp_c", "humidity")),
      DqCheck.maxNullFraction("temp_c", 0.05),
      DqCheck.Rule("null_temp_c", sum(when(col("temp_c").isNull, 1).otherwise(0)), lit(true)))
    val rep = DqCheck.report(gold, rules).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    (rep, DqCheck.duplicateKeys(gold, Seq("city", "ts")).count())
  }

  private def quarantinedLines: Long = Files2.files(quarantine).filter(_.getName.startsWith("part-"))
    .map(f => scala.io.Source.fromFile(f).getLines().size.toLong).sum

  def step(s: SparkSession, traced: Boolean): Step = {
    val truth = land(hour)
    val (dt, hr) = Gen.dtHour(hour)
    hour += 1
    loaded += truth
    val ((rows, filesRead), opS) = timed {
      if (traced) EtlSteps.run(s, bronze, dt, hr, quarantine, gold)
      else (Etl.run(s, Etl.Config(bronze, gold, dtFilter = Some(dt), hourFilter = Some(hr),
        quarantine = Some(quarantine), snapshot = true))("rows").asInstanceOf[Long], 0)
    }
    s.catalog.clearCache() // the quarantine read caches its parse
    if (plant == "dup_gold_row") Plant.dupGoldRow(s, gold)
    val ((rep, dups), readS) = timed {
      val df = Trace.span("sinks.snapshot_read")(Snapshots.read(s, gold))
      Trace.span("ops.dq") {
        df.orderBy(col("ts").desc, col("city")).limit(10).collect()
        dq(df)
      }
    }
    val quarantined = quarantinedLines
    val failures =
      check(rows == truth.goldRows, s"hour $dt/$hr loaded $rows rows, expected ${truth.goldRows}") ++
      check(rep("row_count") == loaded.goldRows, s"gold holds ${rep("row_count")} rows, expected ${loaded.goldRows}") ++
      check(dups == 0, s"$dups duplicate (city, ts) keys in gold") ++
      check(quarantined == loaded.quarantined, s"quarantined $quarantined lines, injected ${loaded.quarantined}") ++
      check(rep("null_temp_c") == loaded.nullTemp, s"null temp_c ${rep("null_temp_c")}, injected ${loaded.nullTemp}")
    val facts =
      if (!traced) Map.empty[String, Double]
      else {
        val liveFiles = Snapshots.read(s, gold).inputFiles.toSeq
        val hourFiles = liveFiles.filter(_.contains(s"/dt=$dt/hour=$hr/"))
        Map("files_read" -> filesRead.toDouble, "bronze_files" -> Files2.files(bronze).size.toDouble,
          "hour_lines" -> truth.lines.toDouble, "hour_quarantined" -> truth.quarantined.toDouble,
          "gold_rows" -> rows.toDouble, "gold_files" -> hourFiles.size.toDouble,
          "gold_bytes" -> hourFiles.map(f => new File(new java.net.URI(f)).length).sum.toDouble,
          "live_files" -> liveFiles.size.toDouble,
          "versions" -> Snapshots.versions(s, gold).size.toDouble,
          "manifest_bytes" -> Files2.bytes(s"$gold/_manifests").toDouble)
      }
    Step(opS, readS, rows, failures, facts)
  }

  override def layers(traced: Seq[Step], all: Seq[Step]): Map[String, Double] = {
    val fact = (k: String) => med(traced.map(_.facts(k)))
    val ratio = (a: String, b: String) => med(traced.map(t => t.facts(a) / t.facts(b)))
    val loadIo = Trace.spans.filter(sp => sp.name == "sources.read" || sp.name == "sinks.commit")
      .map(sp => count(sp, "bytes_read") + count(sp, "bytes_written")).sum
    Map(
      "sources.read_s" -> spanMed("sources.read"),
      "sources.scan_tasks" -> spanMed("sources.read", count(_, "tasks")),
      "sources.files_read" -> fact("files_read"),
      "sources.prune_ratio" -> ratio("files_read", "bronze_files"),
      "sources.bytes_read" -> spanMed("sources.read", count(_, "bytes_read")),
      "sources.quarantined_rows" -> fact("hour_quarantined"),
      "ops.transform_s" -> spanMed("ops.transform"),
      "ops.dedup_s" -> spanMed("ops.dedup"),
      "ops.dedup_shuffle_bytes" -> spanMed("ops.dedup", count(_, "shuffle_write_bytes")),
      "ops.dedup_task_skew" -> spanMed("ops.dedup", count(_, "task_skew")),
      "ops.kept_ratio" -> ratio("gold_rows", "hour_lines"),
      "ops.dq_s" -> spanMed("ops.dq"),
      "sinks.commit_s" -> spanMed("sinks.commit"),
      "sinks.bytes_written" -> spanMed("sinks.commit", count(_, "bytes_written")),
      "sinks.files_per_partition" -> fact("gold_files"),
      "sinks.io_bytes_per_gold_byte" -> loadIo / traced.map(_.facts("gold_bytes")).sum,
      "sinks.snapshot_read_s" -> spanMed("sinks.snapshot_read"),
      "sinks.live_files" -> fact("live_files"),
      "sinks.versions" -> fact("versions"),
      "sinks.manifest_bytes" -> fact("manifest_bytes"))
  }
}

/** Micro-batches of documents into the chunk-store gate; a fifth of each
  * batch re-delivers documents already sent. */
final class Gate(seed: Long, nDocs: Int, batchDocs: Int, compactEvery: Int, sampleDocs: Int) extends Workload {
  private var dir = ""
  private var docs: Map[Long, String] = Map.empty
  private var normalized: Map[Long, String] = Map.empty
  private var order: Vector[Long] = Vector.empty
  private var rnd: Random = _
  private var stream: MemoryStream[(Long, String)] = _
  private var query: StreamingQuery = _
  private var chunkT, manT = ""
  private var next = 0
  private val delivered = mutable.ArrayBuffer.empty[Long]
  private val redelivery = batchDocs / 5
  private var batches = 0

  def prepare(s: SparkSession, d: String): Unit = {
    import s.implicits._
    dir = d
    val corpus = Gen.documents(nDocs, seed)
    docs = corpus.map(x => x.id -> x.text).toMap
    normalized = docs.toSeq.toDF("doc_id", "text")
      .select(col("doc_id"), array_join(TextAnalysis.tokens(col("text")), " "))
      .as[(Long, String)].collect().toMap
    rnd = new Random(seed)
    order = rnd.shuffle(docs.keys.toVector.sorted)
  }

  private def open(s: SparkSession): Unit = {
    chunkT = s"$dir/gate/chunks"; manT = s"$dir/gate/manifest"
    next = 0; batches = 0; delivered.clear()
    stream = MemoryStream[(Long, String)](s.implicits.newProductEncoder[(Long, String)], s.sqlContext)
    query = StreamingOps.startChunkStoreIngest(stream.toDF().toDF("doc_id", "text"), chunkT, manT,
      s"$dir/gate/ckpt", compactEvery = compactEvery, trigger = Trigger.ProcessingTime(0))
  }

  private def nextBatch(): Seq[Long] = {
    val fresh = order.slice(next, next + batchDocs - (if (delivered.isEmpty) 0 else redelivery))
    next += fresh.size
    val again = if (delivered.isEmpty) Nil else Seq.fill(redelivery)(delivered(rnd.nextInt(delivered.size)))
    delivered ++= fresh
    rnd.shuffle(fresh ++ again)
  }

  def nominalStepS: Double = 5.0

  /** One untimed batch warms the engine and the tables. A bucket is
    * rewritten once more than four commits touched it, so with
    * `compactEvery` = 1 the fourth timed batch compacts. The sample is
    * reconstructed after every other batch, the warm-up batch first, so the
    * timed reads come after the second timed batch and after the
    * compaction. */
  override def warmUp(s: SparkSession): Unit = {
    open(s)
    step(s, traced = false); ()
  }

  def step(s: SparkSession, traced: Boolean): Step = {
    val ids = nextBatch()
    require(ids.size == batchDocs, s"corpus of $nDocs documents exhausted; raise it")
    val versionsBefore = Snapshots.versions(s, chunkT).size
    val rowsBefore = if (traced && versionsBefore > 0) Snapshots.read(s, chunkT).count() else 0L
    val (_, opS) = timed {
      Trace.span("streaming.batch") {
        stream.addData(ids.map(i => i -> docs(i)))
        query.processAllAvailable()
      }
    }
    batches += 1
    val sample = delivered.take(sampleDocs).toSeq
    if (plant == "corrupt_chunk") Plant.corruptChunk(s, chunkT, manT, sample.head)
    val (got, readS) =
      if (batches % 2 == 0) (Map.empty[Long, String], Double.NaN)
      else timed {
        Trace.span("streaming.reconstruct") {
          StreamingOps.reconstruct(s, manT, chunkT, Some(sample)).collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap
        }
      }
    val failures = query.exception.map(e => s"gate failed: ${e.getMessage}").toSeq ++
      (if (readS.isNaN) Nil else sample.filterNot(i => got.get(i).contains(normalized(i))).take(3)
        .map(i => s"reconstruct($i) differs from its tokenized text"))
    // a compaction publishes a version of its own beside the batch's commit
    val compacted = Map("compacted" -> (if (Snapshots.versions(s, chunkT).size - versionsBefore > 1) 1.0 else 0.0))
    val facts =
      if (!traced) compacted
      else {
        import s.implicits._
        val batchDf = ids.map(i => i -> docs(i)).toDF("doc_id", "text")
        val (batchChunks, chunkS) = timed(Trace.span("ext.chunk") {
          ContentChunker.chunks(batchDf, "doc_id", "text").count()
        })
        val rowsAfter = Snapshots.read(s, chunkT).count()
        compacted ++ Map("novel_chunk_ratio" -> (rowsAfter - rowsBefore).toDouble / batchChunks,
          "state_rows" -> rowsAfter.toDouble,
          "state_files" -> Files2.files(chunkT, _.endsWith(".parquet")).size.toDouble,
          "chunk_s" -> chunkS)
      }
    Step(opS, readS, ids.size, failures, facts)
  }

  override def finalChecks(s: SparkSession): Seq[String] = {
    val twice = Snapshots.read(s, chunkT).groupBy(col("chunk_hash")).count().filter(col("count") > 1).count()
    check(twice == 0, s"$twice chunk_hash values stored more than once")
  }

  override def layers(traced: Seq[Step], all: Seq[Step]): Map[String, Double] = {
    val batches = Trace.named("streaming.batch")
    Map(
      "streaming.batch_jobs" -> med(batches.map(count(_, "jobs"))),
      "streaming.novel_chunk_ratio" -> med(traced.map(_.facts("novel_chunk_ratio"))),
      "streaming.state_rows" -> traced.last.facts("state_rows"),
      "streaming.state_files" -> traced.last.facts("state_files"),
      "streaming.batch_task_s" -> med(batches.map(count(_, "task_s"))),
      "streaming.compaction_batch_s" -> med(all.filter(_.facts("compacted") > 0).map(_.opS)),
      "streaming.bytes_written_per_doc" -> med(batches.map(count(_, "bytes_written") / batchDocs)),
      "streaming.reconstruct_s" -> spanMed("streaming.reconstruct"),
      "ext.chunk_s" -> med(traced.map(_.facts("chunk_s"))))
  }

  override def close(): Unit = if (query != null) {
    query.stop(); query = null
  }
}

/** Passes over fixed registry entries, each built and then written to the
  * `noop` sink, in a seeded order per pass. They run in the traced
  * `etl_hourly` run, after its steps, and give the `queries` per-layer
  * metrics. Before the passes, which also warms them, each entry is built
  * once and written as parquet with its oracle SQL beside it, for run.py's
  * DuckDB check. */
final class Registry(seed: Long, tiny: Boolean) {
  private val defs = SparkEntry.allQueries.filter(q => Registry.Entries.contains(q.name)).map(q => q.name -> q).toMap
  require(defs.size == Registry.Entries.size, s"unknown entries: ${Registry.Entries.filterNot(defs.contains)}")
  private val passes = mutable.ArrayBuffer.empty[(Double, Double)] // build, exec seconds

  def run(s: SparkSession, tables: String, oracle: String): Unit = {
    if (tiny) Gen.registryTables(s, tables, seed, docs = 200, events = 2000, lineitems = 5000)
    else Gen.registryTables(s, tables, seed, docs = 500, events = 10000, lineitems = 60000)
    Registry.Entries.foreach(n => defs(n).build(s, tables).write.parquet(s"$oracle/$n"))
    Files2.write(s"$oracle/oracle_sql.json", Json.obj(Registry.Entries.flatMap(n => defs(n).oracle.map(n -> _)): _*))
    Files2.write(s"$oracle/tables_dir", tables)
    val rnd = new Random(seed)
    (0 until Registry.Passes).foreach { p =>
      Trace.start(s, s"registry-$seed-$p")
      var build, exec = 0.0
      try rnd.shuffle(Registry.Entries).foreach { n =>
        val t0 = System.nanoTime()
        val df = Trace.span(s"queries.build.$n")(defs(n).build(s, tables))
        val t1 = System.nanoTime()
        Trace.span(s"queries.exec.$n")(df.write.format("noop").mode("overwrite").save())
        build += (t1 - t0) / 1e9; exec += (System.nanoTime() - t1) / 1e9
      } finally Trace.stop()
      passes += ((build, exec))
    }
  }

  def layers: Map[String, Double] = {
    def med(name: String, f: Span => Double) = Stats.median(Trace.named(name).map(f))
    val per = Registry.Entries.flatMap { n =>
      Seq(s"queries.$n.build_s" -> med(s"queries.build.$n", _.seconds),
        s"queries.$n.exec_s" -> med(s"queries.exec.$n", _.seconds))
    }
    val buildJobs = Trace.spans.filter(_.name.startsWith("queries.build.")).map(_.counters.getOrElse("jobs", 0.0)).sum
    Map(
      "queries.build_s" -> Stats.median(passes.map(_._1).toSeq),
      "queries.exec_s" -> Stats.median(passes.map(_._2).toSeq),
      "queries.build_jobs" -> buildJobs / passes.size) ++ per
  }
}

object Registry {
  val Passes = 2
  /** One entry per mechanism: eager jobs inside the builder
    * (q_pretrain_pipeline, q_cross_modal_dedup, q_dup_longest_substring), a
    * per-row text projection whose noop write costs far more than a count
    * (q_lang_id), the SortedOverlapCount verify kernel of the `functions`
    * layer (q_winnow_neardup), broadcast ADC tables (q_pq_topk), the as-of
    * join strategy of the `plans` layer (q_asof_join) and a plain relational
    * control (q_pricing_summary). */
  val Entries: Seq[String] = Seq("q_pretrain_pipeline", "q_cross_modal_dedup", "q_dup_longest_substring",
    "q_lang_id", "q_winnow_neardup", "q_pq_topk", "q_asof_join", "q_pricing_summary")
}
