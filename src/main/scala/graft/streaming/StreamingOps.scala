package graft.streaming

import java.sql.Timestamp

import graft.sinks.Snapshots
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming analytics the reference's pipeline implies but leaves to
  * Redshift: watermarked event-time windows and streaming dedup — the
  * Structured Streaming upgrades of SURVEY.md §2.9 T7 (at-least-once →
  * dedup downstream) and the load-verification per-hour rollup (A5).
  *
  * All operators take/return DataFrames so they run identically on
  * `readStream` inputs (stateful, incremental) and batch frames (tests,
  * backfills) — the Spark pattern for write-once-run-both pipelines.
  *
  * The ingest gates share one micro-batch driver ([[startGate]]), one
  * probed state read ([[graft.sinks.Snapshots.readProbedOrEmpty]]) and one
  * watermarked batch append ([[appendBatch]]); each gate spells out only
  * its verdict.
  */
object StreamingOps {

  /** Tumbling event-time window counts per key — the streaming form of the
    * README's load-verification query (`README.md:196-211`): how many rows
    * landed per (window, key), with a watermark bounding state. */
  def windowedCounts(
      df: DataFrame,
      tsCol: String,
      keyCol: String,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength), col(keyCol))
      .agg(count(lit(1)).as("n"), max(col(tsCol)).as("max_ts"))

  /** Streaming dedup on the natural key (T7): drops retry-duplicates within
    * the watermark horizon, bounding state — the streaming complement of
    * `graft.ops.Dedup` and the fix for `fwd:67-72`'s at-least-once retries. */
  def dedupWithinWatermark(
      df: DataFrame,
      tsCol: String,
      keys: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream inner join with a time-range condition: right events
    * within [left.ts, left.ts + withinSeconds] on equal keys. Watermarks on
    * BOTH sides plus the range bound are what let Spark expire join state —
    * without them stream-stream state grows forever. Key columns must be
    * distinct across the two sides (rename before joining). */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[(String, String)],
      leftTs: String,
      rightTs: String,
      withinSeconds: Long,
      watermark: String = "1 hour"): DataFrame = {
    val cond = keys.map { case (l, r) => col(l) === col(r) }.reduce(_ && _) &&
      col(rightTs) >= col(leftTs) &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $withinSeconds SECONDS")
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark), cond, "inner")
  }

  /** The micro-batch driver of every gate: an append-mode `foreachBatch`
    * query checkpointed at `checkpointDir`, whose `body` runs on each
    * NON-EMPTY micro-batch with its id. A batch with no rows (a source
    * offset that carried none) runs no body, so it publishes no version. */
  private def startGate(stream: DataFrame, checkpointDir: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) body(batch.toDF(), batchId)
      }
      .start()

  /** Append a micro-batch's rows to `table` as one new version carrying the
    * `(txnId, batchId)` watermark, so a replayed batch no-ops, and re-commit
    * on a lost commit race ([[graft.sinks.Snapshots.commitRetryingRaces]]).
    * `partCols` non-empty → a hive-partitioned commit, else a plain one.
    * Returns the committed version.
    *
    * §9.4 fragmentation maintenance: every `compactEvery` commits (0 =
    * off), selectively rewrite the partitions whose commit-dir count
    * crossed [[graft.sinks.Snapshots.compactFragmented]]'s threshold.
    * Append gates accrete one tiny file per partition per commit, and any
    * per-batch read of that state (gram index, token index, corpus cells,
    * chunk digests) comes to be dominated by file count rather than data
    * volume — measured on both the chunk-store and semdedup gates.
    * Selective, not whole-table (round-15): the fixed-cadence full rewrite
    * was itself the remaining O(corpus)-per-K-batches term — at 100 TB the
    * maintenance loop must rewrite bytes ∝ the fragmented (recently-
    * touched) partitions, and cold partitions never. Compaction preserves
    * the txn map, so replays still no-op. */
  private def appendBatch(
      df: DataFrame,
      table: String,
      partCols: Seq[String],
      txnId: String,
      batchId: Long,
      compactEvery: Int = 0): Long = {
    val txn = Some(txnId -> batchId)
    val v = Snapshots.commitRetryingRaces()(
      if (partCols.isEmpty) Snapshots.commit(df, table, SaveMode.Append, txn = txn)
      else Snapshots.commitPartitioned(df, table, partCols, SaveMode.Append, txn = txn))
    if (compactEvery > 0 && v % compactEvery == 0)
      Snapshots.compactFragmented(df.sparkSession, table)
    v
  }

  /** Streaming MERGE sink: each micro-batch upserts into a partitioned
    * parquet table via [[graft.sinks.LakeMaintenance.upsert]] — keys replace,
    * new keys insert, only touched partitions rewrite. With the batch dedup
    * inside upsert this makes the at-least-once source (T7) exactly-once at
    * the table level: re-delivered rows replace themselves idempotently. */
  def startMergeSink(
      stream: DataFrame,
      targetPath: String,
      checkpointDir: String,
      keys: Seq[String],
      partitionCols: Seq[String],
      orderCol: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startGate(stream, checkpointDir, trigger) { (batch, _) =>
      graft.sinks.LakeMaintenance.upsert(
        batch.sparkSession, targetPath, batch, keys, partitionCols, orderCol)
    }

  /** Streaming vector-index maintenance: each micro-batch of (id, vec)
    * rows is encoded against a FIXED trained model (coarse assignment +
    * PQ residual codes — both map-only) and committed to the index's
    * inverted-list SNAPSHOT table (`<indexDir>/lists`, partitioned by
    * `cluster_id`) — the same layout [[graft.ext.IvfPq.buildIndex]] writes
    * and [[graft.ext.IvfPq.searchIndexed]] probe-prunes, so searches serve
    * a streaming-maintained index with no code change. Commits carry the
    * (appId, batchId) txn watermark: a replayed micro-batch no-ops, making
    * index freshness exactly-once at one atomic snapshot version per batch.
    * Retraining the model is an offline decision (codebook drift), not a
    * streaming one. */
  def startIndexMaintenance(
      stream: DataFrame, // (id, vec)
      model: graft.ext.IvfPq.Model,
      indexDir: String,
      checkpointDir: String,
      appId: String = "graft-index-maintenance",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startGate(stream, checkpointDir, trigger) { (batch, batchId) =>
      appendBatch(graft.ext.IvfPq.encode(batch, model), s"$indexDir/lists",
        Seq("cluster_id"), appId, batchId)
    }

  /** Streaming semantic-dedup ingest: each micro-batch of (id, v) vectors
    * is grid-clustered, decided against the STANDING corpus snapshot with
    * [[graft.ext.SemDedup.dedupDeltaBounded]] (delta–delta + delta–corpus
    * edges only, behind the hot-cell guard), and only the KEPT rows are
    * committed — the corpus table stays semantically dup-free as it grows,
    * which is the training-data ingestion contract: a document whose
    * embedding semantically matches anything already accepted never enters
    * the corpus.
    *
    * Corpus-biased keep: corpus ids are shifted below every possible delta
    * id (by 2^62) before the component labeling, so a delta row matching
    * the corpus ALWAYS drops in favor of the standing copy — the dup-free
    * contract holds for ANY id order, not just monotonically-increasing
    * ingest ids (ids must lie in (-2^62, 2^62), which any real key does).
    * Delta–delta groups with no corpus member still keep their minimum id.
    *
    * Scale shape: the corpus table is hive-partitioned by RAW `cluster_id`,
    * and the batch's cell set (≤ 2^gridBits, collected driver-side — the
    * [[graft.ext.IvfIndex.searchIndexed]] probe-set device) prunes the
    * corpus read at the manifest level, so a batch touching 3 cells reads
    * 3 partitions of the corpus, not all of it. Within those cells the
    * pair generation runs on [[graft.ext.SemDedup.refineTogether]]-split
    * ids, so one HOT corpus cell costs each batch at most
    * |delta|·maxCellSize candidate edges instead of |delta_c|·|corpus_c| —
    * the same skew bound `dedupBounded` gives the batch path.
    *
    * Partition-overlap probe: the batch's cells are checked against the
    * manifest's partition specs EXPLICITLY — a genuinely non-overlapping
    * batch compares against an empty corpus and ingests, while a corrupted
    * or unreadable corpus table FAILS the batch (no blanket exception
    * catch that could silently admit duplicates).
    *
    * Exactly-once: commits carry the (appId, batchId) txn watermark. On
    * failure + replay the verdicts are recomputed (possibly against a
    * corpus that already contains this batch's kept rows — harmless: the
    * replayed copy defers to its standing twin under the corpus bias) and
    * the commit no-ops on the watermark.
    *
    * `compactEvery` (0 = off): every K corpus commits, rewrite each cell
    * partition that crossed the fragmentation threshold to one file
    * ([[graft.sinks.Snapshots.compactFragmented]] — txn map carries
    * forward, replays still no-op). Measured (§9.4): per-append
    * fragmentation, not pair math, dominated per-batch cost growth at 50
    * batches (the probed-cell read unions one tiny file per cell per
    * commit), same disease and same cure as the chunk store. */
  def startSemDedupIngest(
      stream: DataFrame, // (id, v)
      corpusTable: String,
      checkpointDir: String,
      minCos: Double,
      gridBits: Int = 4,
      dim: Int = 64,
      maxCellSize: Long = 4096,
      appId: String = "graft-semdedup-ingest",
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startGate(stream, checkpointDir, trigger) { (batch, batchId) =>
      val sideBias = 1L << 62
      val cells = graft.ext.SemDedup.gridCells(
        batch.select(col("id"), col("v")), gridBits, dim)
      val probed: Set[String] = cells
        .select(col("cluster_id").cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
      // explicit manifest overlap probe: "no corpus partition matches this
      // batch's cells" is an empty corpus side, a read error fails the batch
      val corpusCells = Snapshots.readProbedOrEmpty(
        batch.sparkSession, corpusTable, "cluster_id", probed, cells.schema)
      val kept = cells.join(
        graft.ext.SemDedup.dedupDeltaBounded(
            corpusCells.withColumn("id", col("id") - sideBias),
            cells, minCos, maxCellSize, dim = dim)
          .filter(col("keep")).select(col("vec_id").as("id")), "id")
        .localCheckpoint() // pin: probed once for emptiness, then committed
      // a batch may keep NOTHING (every row matched the corpus) — no
      // commit then; a replay recomputes the same empty verdict set, so
      // the missing txn watermark costs nothing
      if (!kept.isEmpty)
        appendBatch(kept.select(col("id"), col("v"), col("cluster_id")),
          corpusTable, Seq("cluster_id"), appId, batchId, compactEvery)
    }

  /** Exactly-once streaming commit into a [[graft.sinks.Snapshots]] table:
    * each micro-batch publishes as one ATOMIC snapshot version carrying the
    * (appId, batchId) transaction watermark in the manifest. On failure +
    * replay the source re-delivers a batch, but the commit sees the
    * watermark and no-ops — at-least-once delivery becomes exactly-once at
    * the table (the Delta `txnAppId`/`txnVersion` pattern, here on the
    * manifest format). Readers never observe a torn batch: the version
    * appears with one manifest rename. `partitionCols` non-empty → hive-
    * partitioned commits (dt/hour style), else plain appends. */
  def startSnapshotSink(
      stream: DataFrame,
      table: String,
      checkpointDir: String,
      appId: String,
      partitionCols: Seq[String] = Nil,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startGate(stream, checkpointDir, trigger) { (batch, batchId) =>
      appendBatch(batch, table, partitionCols, appId, batchId)
    }

  /** Handle for [[startMaintenanceLoop]]: stop() joins the thread;
    * `compactions` / `races` / `errors` are live counters (the §9.6 probe
    * reports them alongside the batch walls). */
  final class MaintenanceLoop private[streaming] (
      thread: Thread,
      run: java.util.concurrent.atomic.AtomicBoolean,
      val compactions: java.util.concurrent.atomic.AtomicLong,
      val races: java.util.concurrent.atomic.AtomicLong,
      val errors: java.util.concurrent.atomic.AtomicLong) {
    def stop(): Unit = {
      run.set(false)
      thread.interrupt()
      thread.join(60000)
    }
  }

  /** OUT-OF-BAND fragmentation maintenance (§9.5's closing caveat, wired):
    * a daemon thread runs [[graft.sinks.Snapshots.compactFragmented]] over
    * `tables` on a cadence, so ingest batch walls stop paying the hot-spec
    * rewrite in-band (the periodic bumps in every §9.5 curve — the in-band
    * `compactEvery` hook remains for single-writer deployments).
    *
    * Concurrency rides the spec-pinned commit arbiter: a maintenance/
    * ingest version collision makes exactly ONE writer throw 'commit race'
    * before anything is torn. This loop treats every race as "ingest won"
    * and retries at the next tick (maintenance is idempotent best-effort —
    * correctness never depends on it); the gates wrap their own commits in
    * [[graft.sinks.Snapshots.commitRetryingRaces]], re-deriving against
    * the compacted manifest when maintenance wins. Either way the chain
    * stays contiguous and the txn watermarks still swallow true replays
    * (pinned in ChunkStoreIngestSpec).
    *
    * `onCompact(table, newVersion)` fires ONLY for versions this loop's
    * compaction actually committed (the `Some` of
    * [[graft.sinks.Snapshots.compactFragmented]] — a stale version-list
    * compare would misattribute a concurrent ingest's commit and stamp a
    * stale sidecar over it); the chunk-store
    * deployment re-stamps its DigestBloom sidecar there (compaction
    * preserves the digest set, so the base version's sidecar carries
    * verbatim; see [[chunkStoreMaintenanceRestamp]]). Failures inside the
    * loop count in `errors` and never kill the thread: transient read
    * races against a concurrent vacuum are expected background noise, and
    * a maintenance loop that dies silently is worse than one that skips a
    * tick. */
  def startMaintenanceLoop(
      spark: org.apache.spark.sql.SparkSession,
      tables: Seq[String],
      intervalMs: Long = 5000,
      maxBasesPerSpec: Int = 4,
      onCompact: (String, Long) => Unit = (_, _) => ()): MaintenanceLoop = {
    val run = new java.util.concurrent.atomic.AtomicBoolean(true)
    val compactions = new java.util.concurrent.atomic.AtomicLong
    val races = new java.util.concurrent.atomic.AtomicLong
    val errors = new java.util.concurrent.atomic.AtomicLong
    val th = new Thread(() => {
      while (run.get()) {
        tables.foreach { t =>
          if (run.get())
            try {
              if (graft.sinks.Snapshots.versions(spark, t).nonEmpty)
                graft.sinks.Snapshots.compactFragmented(spark, t, maxBasesPerSpec)
                  .foreach { v =>
                    compactions.incrementAndGet()
                    onCompact(t, v)
                  }
            } catch {
              case e: java.io.IOException
                  if Option(e.getMessage).exists(_.contains("commit race")) =>
                races.incrementAndGet() // ingest won the version — next tick
              case _: InterruptedException => () // stop() mid-compaction:
                // fall out via the run flag (InterruptedException is fatal
                // to NonFatal and would otherwise kill the thread noisily)
              case scala.util.control.NonFatal(_) =>
                errors.incrementAndGet()
            }
        }
        try Thread.sleep(intervalMs) catch { case _: InterruptedException => () }
      }
    }, "graft-maintenance-loop")
    th.setDaemon(true)
    th.start()
    new MaintenanceLoop(th, run, compactions, races, errors)
  }

  /** The chunk-store onCompact hook for [[startMaintenanceLoop]]: an
    * out-of-band compaction of the CHUNK table must carry the DigestBloom
    * sidecar forward to the compacted version (identical digest set — a
    * verbatim re-stamp, no rebuild), else the next ingest batch distrusts
    * the sidecar and pays a full-table bloom rebuild. The source version
    * is exactly `v - 1`: the compaction's CAS pins its base, and
    * `onCompact` fires only for versions the loop itself committed. The
    * exists-guard is belt-and-suspenders — a sidecar already present at
    * `v` is authoritative and must never be replaced by a copy. */
  def chunkStoreMaintenanceRestamp(
      spark: org.apache.spark.sql.SparkSession,
      chunkTable: String)(table: String, v: Long): Unit =
    if (table == chunkTable &&
        graft.sinks.DigestBloom.read(spark, chunkTable, v).isEmpty)
      graft.sinks.DigestBloom.read(spark, chunkTable, v - 1)
        .foreach(b => graft.sinks.DigestBloom.write(spark, chunkTable, v, b))

  /** Streaming exact-substring ingest (the [[startSemDedupIngest]]
    * discipline applied to the token-gram family — the q_dup_span_delta
    * decision run as a corpus gate): each micro-batch of (doc_id, text)
    * documents is tokenized, its `gramN`-gram positions are flagged as
    * duplicated when the gram appears in the STANDING gram index or in a
    * lower-id document of the same batch (canonical-keep: exact twins in
    * one batch admit the minimum doc_id), and a document is ACCEPTED when
    * its duplicated-position fraction is ≤ `maxDupFrac`. Accepted docs
    * commit to `docsTable` and their grams to `gramTable`; a document that
    * substantially duplicates anything already admitted never enters the
    * corpus — the Lee-et-al dedup run as an ingestion contract instead of
    * a batch rewrite.
    *
    * Scale shape: the gram index is hive-partitioned by `bucket` =
    * pmod(xxhash64(gram), buckets), and the batch's bucket set (≤
    * `buckets`, collected driver-side — the cells-probe device) prunes the
    * index read at the manifest level; batch grams then join index grams
    * per bucket — per-ingest cost is |batch grams| against the touched
    * buckets, linear in the corpus, and the corpus–corpus work a full
    * re-dedup would pay is never generated. Bucket count is the
    * parallelism knob, not a correctness one.
    *
    * Exactly-once: docs commit FIRST, grams second, with separate
    * (appId-docs / appId-grams, batchId) watermarks. Replay after a crash
    * between the two recomputes verdicts against an index that cannot yet
    * contain this batch's grams (they commit last), so the SAME accepted
    * set re-derives; the docs commit no-ops on its watermark and the gram
    * commit completes the pair. Replay after both committed recomputes
    * verdicts that may now see the batch's own grams in the index —
    * harmless, because both commits no-op on their watermarks. */
  def startDupSpanIngest(
      stream: DataFrame, // (doc_id: Long, text: String)
      docsTable: String,
      gramTable: String,
      checkpointDir: String,
      maxDupFrac: Double = 0.5,
      gramN: Int = 8,
      buckets: Int = 64,
      appId: String = "graft-dupspan-ingest",
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startGate(stream, checkpointDir, trigger) { (batch, batchId) =>
      val docs = batch.select(col("doc_id"), col("text"))
        .withColumn("toks",
          filter(split(lower(col("text")), "\\s+"), w => length(w) > 0))
        .localCheckpoint()
      val grams = docs.filter(size(col("toks")) >= gramN)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("toks")) - (gramN - 1)),
            i => struct(i.as("i"),
              array_join(slice(col("toks"), i, lit(gramN)), " ").as("gram")))).as("x"))
        .select(col("doc_id"), col("x.i").as("i"), col("x.gram").as("gram"))
        .withColumn("bucket", pmod(xxhash64(col("gram")), lit(buckets)))
        .localCheckpoint()
      val probed: Set[String] = grams
        .select(col("bucket").cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      // explicit manifest overlap probe, as in startSemDedupIngest: a
      // non-overlapping batch sees an empty index; a read error fails the
      // batch rather than admitting duplicates
      val indexGrams = Snapshots.readProbedOrEmpty(batch.sparkSession, gramTable,
        "bucket", probed, StructType.fromDDL("gram STRING")).distinct()
      // canonical-keep within the batch: a gram flags every holder but
      // its minimum doc_id, so exact twins admit exactly one copy
      val gramMin = grams.groupBy(col("gram").as("g2"))
        .agg(min(col("doc_id")).as("mdoc"))
      val corpusFlagged = grams
        .join(indexGrams.select(col("gram").as("g2")), col("gram") === col("g2"))
        .select(col("doc_id"), col("i"))
      val batchFlagged = grams
        .join(gramMin, col("gram") === col("g2") && col("doc_id") > col("mdoc"))
        .select(col("doc_id"), col("i"))
      val flagged = corpusFlagged.unionByName(batchFlagged).distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
      val accepted = docs
        .withColumn("n_pos", greatest(size(col("toks")) - (gramN - 1), lit(0)))
        .join(flagged, Seq("doc_id"), "left")
        .filter(col("n_pos") <= 0 ||
          coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_pos") <= maxDupFrac)
        .select(col("doc_id"), col("text"))
        .localCheckpoint()
      if (!accepted.isEmpty) {
        appendBatch(accepted, docsTable, Nil, s"$appId-docs", batchId)
        val acceptedGrams = grams
          .join(accepted.select(col("doc_id")), "doc_id")
          .select(col("bucket"), col("gram")).distinct()
        if (!acceptedGrams.isEmpty)
          appendBatch(acceptedGrams, gramTable, Seq("bucket"), s"$appId-grams",
            batchId, compactEvery)
      }
    }

  /** Streaming split-STABLE ingest gate — the `q_split_ingest` rule as an
    * operating pipeline (the third ingest gate, beside the exact-substring
    * and semantic-dedup gates): every arriving document is assigned a
    * train/val/test split that can never create a near-duplicate pair
    * straddling the eval boundary, and standing assignments are never
    * recomputed (eval-set stability across ingests).
    *
    * Per batch:
    *   1. candidate generation: the batch's distinct tokens probe the
    *      token-bucket-partitioned index (`tokenTable`; manifest overlap
    *      probe first, as in [[startSemDedupIngest]] — a read error FAILS
    *      the batch, a non-overlapping batch sees an empty index). Sharing
    *      ANY token is a recall-SUPERSET of the SetSimJoin prefix filter,
    *      so no qualifying pair is missed; candidate doc rows are then
    *      fetched from the id-bucket-partitioned `docsTable` with partition
    *      pruning — the corpus is never rescanned wholesale.
    *   2. exact verify: Jaccard ≥ `threshold` on the candidate pairs only.
    *   3. assignment per batch-internal near-dup component: linked corpus
    *      splits S (train/val/test) — |S| ≥ 2 → 'quarantine' (a bridge doc
    *      is the one assignment with zero leakage); any link to an already-
    *      quarantined doc → 'quarantine' (near-dup of a boundary-ambiguous
    *      doc is itself ambiguous); |S| = 1 → inherit; no links → the
    *      [[graft.ext.Splits]] md5 rule on the component's canonical id,
    *      exactly what a from-scratch re-split would produce.
    *   4. append (docs + token index) with (appId, batchId) txn watermarks
    *      — replays no-op at both tables.
    *
    * Production tightening documented, not implemented: the any-shared-token
    * candidate filter is recall-safe but looser than SetSimJoin's
    * rarest-first prefix; a frequency-vintage-keyed prefix index would cut
    * candidates further at identical recall. */
  def startSplitIngest(
      stream: DataFrame, // (doc_id: Long, text: String)
      docsTable: String,
      tokenTable: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      buckets: Int = 64,
      appId: String = "graft-split-ingest",
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startGate(stream, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val docs = batch.select(col("doc_id"), col("text"))
        .withColumn("toks",
          array_distinct(graft.ext.TextAnalysis.tokens(col("text"))))
        .localCheckpoint()
      val batchToks = docs.filter(size(col("toks")) > 0)
        .select(col("doc_id"), explode(col("toks")).as("token"))
        .withColumn("bucket", pmod(xxhash64(col("token")), lit(buckets)))
        .localCheckpoint()
      val probed: Set[String] = batchToks
        .select(col("bucket").cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      val idx = Snapshots.readProbedOrEmpty(spark, tokenTable, "bucket", probed,
          StructType.fromDDL("token STRING, doc_id BIGINT"))
        .select(col("token"), col("doc_id").as("corpus_id"))
      // candidate (batch, corpus) pairs: shared-any-token, then pruned
      // corpus-doc fetch, then EXACT Jaccard verify on candidates only
      val candIds = batchToks.join(idx, "token")
        .select(col("doc_id").as("batch_id"), col("corpus_id"))
        .distinct().localCheckpoint()
      val candBuckets: Set[String] = candIds
        .select(pmod(col("corpus_id"), lit(buckets)).cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
      // same manifest overlap probe as the token read above: a candidate
      // set whose id buckets match no standing partition is an empty
      // corpus side, never a read error
      val corpusDocs = Snapshots.readProbedOrEmpty(spark, docsTable, "dbucket",
          candBuckets, StructType.fromDDL("doc_id BIGINT, text STRING, split STRING"))
        .select(col("doc_id").as("corpus_id"),
          array_distinct(graft.ext.TextAnalysis.tokens(col("text"))).as("ctoks"),
          col("split").as("corpus_split"))
      val inter = size(array_intersect(col("toks"), col("ctoks")))
      val links = candIds
        .join(docs.select(col("doc_id").as("batch_id"), col("toks")), "batch_id")
        .join(corpusDocs, "corpus_id")
        .filter(inter > 0 &&
          inter.cast("double") /
            (size(col("toks")) + size(col("ctoks")) - inter) >= threshold)
        .select(col("batch_id"), col("corpus_split"))
        .localCheckpoint()
      // batch-internal near-dup components (prefix-filtered, never
      // all-pairs); singletons label themselves
      val batchPairs = graft.ext.SetSimJoin.join(
        docs.select(col("doc_id"), col("text")), "doc_id", "text", threshold)
      val comp = graft.ext.Components
        .connectedComponents(batchPairs, "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
      val withComp = docs
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"),
          coalesce(col("component"), col("doc_id")).cast("long").as("comp"))
        .localCheckpoint()
      val compVerdict = withComp
        .select(col("doc_id").as("batch_id"), col("comp"))
        .join(links, Seq("batch_id"), "left")
        .groupBy(col("comp"))
        .agg(
          count_distinct(when(col("corpus_split").isin("train", "val", "test"),
            col("corpus_split"))).as("n"),
          min(when(col("corpus_split").isin("train", "val", "test"),
            col("corpus_split"))).as("s"),
          count(when(col("corpus_split") === "quarantine", 1)).as("nq"))
      val assigned = withComp
        .join(compVerdict, Seq("comp"), "left")
        .select(col("doc_id"), col("text"),
          when(col("nq") > 0 || col("n") >= 2, "quarantine")
            .when(col("n") === 1, col("s"))
            .otherwise(graft.ext.Splits.splitOf(col("comp"))).as("split"))
        .withColumn("dbucket", pmod(col("doc_id"), lit(buckets)))
        .localCheckpoint()
      appendBatch(assigned, docsTable, Seq("dbucket"), s"$appId-docs", batchId, compactEvery)
      val newToks = batchToks.select(col("bucket"), col("token"), col("doc_id"))
      if (!newToks.isEmpty)
        appendBatch(newToks, tokenTable, Seq("bucket"), s"$appId-tokens", batchId,
          compactEvery)
    }

  // ---- streaming GDPR-erasure gate -----------------------------------------

  /** Right-to-be-forgotten as an ingest gate (the FOURTH streaming gate,
    * beside the exact-substring, semantic-dedup and split gates): each
    * arriving batch of erasure requests (`doc_id`) tombstones the requested
    * corpus docs AND their transitive Jaccard-`threshold` near-duplicates —
    * the streaming twin of [[graft.ext.Erasure.sweep]] behind the oracled
    * `q_gdpr_erasure` (deleting only the requested row leaves its content
    * alive in lightly-edited twins).
    *
    * Per batch:
    *   1. requested docs fetch id-bucket-pruned from `docsTable` (unknown
    *      ids no-op); already-tombstoned requests seed the walk but emit
    *      no duplicate tombstone (re-requesting is idempotent).
    *   2. closure walk, ≤ `maxHops` rounds: the frontier's tokens probe the
    *      token-bucket-partitioned `tokenTable` (manifest overlap probe
    *      first — a read ERROR fails the batch, a non-overlapping frontier
    *      is an empty index: the [[startSemDedupIngest]] discipline);
    *      shared-any-token candidates fetch id-bucket-pruned and verify
    *      EXACT Jaccard ≥ `threshold`; fresh ids become the next frontier.
    *      Every round is frontier-sized — the corpus is never rescanned,
    *      and already-erased docs never re-tombstone, so the walk strictly
    *      shrinks its candidate space. `maxHops` is an availability bound
    *      against adversarial twin chains; a longer chain RESUMES by
    *      re-requesting any of its members — already-tombstoned requests
    *      re-seed the walk without producing duplicate tombstone rows.
    *   3. tombstones (doc_id, reason, hop, batch) append to
    *      `tombstoneTable` under a txn watermark — replays no-op.
    *
    * Deletion is TWO-PHASE (the deletion-vector discipline): tombstones are
    * metadata-speed and make [[erasedCorpus]] correct immediately;
    * [[applyErasure]] amortizes the physical rewrite, touching only the
    * partitions that actually hold tombstoned rows. */
  def startErasureIngest(
      requests: DataFrame, // (doc_id: Long)
      docsTable: String,
      tokenTable: String,
      tombstoneTable: String,
      checkpointDir: String,
      threshold: Double = 0.8,
      buckets: Int = 64,
      maxHops: Int = 5,
      appId: String = "graft-erasure-ingest",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startGate(requests, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val already =
        if (Snapshots.versions(spark, tombstoneTable).isEmpty)
          spark.createDataFrame(java.util.List.of[Row](), StructType.fromDDL("doc_id BIGINT"))
        else Snapshots.read(spark, tombstoneTable).select(col("doc_id"))
      // ALL distinct requests seed the walk — an already-tombstoned
      // request re-seeds (resuming a maxHops-cut chain) but never
      // re-tombstones; only genuinely new ids produce tombstone rows
      val reqAll = batch.select(col("doc_id")).distinct()
        .localCheckpoint()
      // id-bucket-pruned doc fetch (ids → (doc_id, toks)); the manifest
      // overlap probe keeps "no matching partition" distinct from a
      // genuine read error
      def fetchDocs(ids: DataFrame): DataFrame = {
        val bks: Set[String] = ids
          .select(pmod(col("doc_id"), lit(buckets)).cast("string"))
          .distinct().collect().map(_.getString(0)).toSet
        Snapshots.readProbedOrEmpty(spark, docsTable, "dbucket", bks,
            StructType.fromDDL("doc_id BIGINT, text STRING"))
          .join(ids.select(col("doc_id")), Seq("doc_id"), "left_semi")
          .select(col("doc_id"),
            array_distinct(graft.ext.TextAnalysis.tokens(col("text"))).as("toks"))
      }
      var frontier = fetchDocs(reqAll).localCheckpoint()
      var erasedIds = already
        .union(frontier.select(col("doc_id"))).distinct().localCheckpoint()
      var newTombs = frontier.select(col("doc_id"))
        .join(already, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("requested").as("reason"), lit(0).as("hop"))
        .localCheckpoint()
      var hop = 1
      while (hop <= maxHops && !frontier.isEmpty) {
        val ftoks = frontier
          .select(col("doc_id").as("src_id"), explode(col("toks")).as("token"))
          .withColumn("bucket", pmod(xxhash64(col("token")), lit(buckets)))
        val probed: Set[String] = ftoks
          .select(col("bucket").cast("string")).distinct()
          .collect().map(_.getString(0)).toSet
        val idx = Snapshots.readProbedOrEmpty(spark, tokenTable, "bucket", probed,
            StructType.fromDDL("token STRING, doc_id BIGINT"))
          .select(col("token"), col("doc_id").as("corpus_id"))
        val cand = ftoks.join(idx, "token")
          .select(col("src_id"), col("corpus_id")).distinct()
          .join(erasedIds.select(col("doc_id").as("corpus_id")),
            Seq("corpus_id"), "left_anti")
          .localCheckpoint()
        val candDocs = fetchDocs(cand.select(col("corpus_id").as("doc_id")))
          .select(col("doc_id").as("corpus_id"), col("toks").as("ctoks"))
        val inter = size(array_intersect(col("toks"), col("ctoks")))
        val fresh = cand
          .join(frontier.select(col("doc_id").as("src_id"), col("toks")), "src_id")
          .join(candDocs, "corpus_id")
          .filter(inter > 0 &&
            inter.cast("double") /
              (size(col("toks")) + size(col("ctoks")) - inter) >= threshold)
          .select(col("corpus_id").as("doc_id"), col("ctoks").as("toks"))
          .dropDuplicates("doc_id")
          .localCheckpoint()
        frontier = fresh
        erasedIds = erasedIds
          .union(fresh.select(col("doc_id"))).localCheckpoint()
        newTombs = newTombs.union(
          fresh.select(col("doc_id"), lit("collateral").as("reason"),
            lit(hop).as("hop"))).localCheckpoint()
        hop += 1
      }
      if (!newTombs.isEmpty)
        appendBatch(newTombs.withColumn("batch", lit(batchId)), tombstoneTable, Nil,
          appId, batchId)
    }

  // ---- streaming benchmark-decontamination gate ----------------------------

  /** Publish (or REPLACE) the protected benchmark as one atomic snapshot:
    * the DISTINCT token 3-grams of the eval documents. Serving reads the
    * newest version per micro-batch, so registering a new benchmark
    * hot-swaps mid-stream exactly like a quality-model retrain — the
    * manifest commit is the benchmark registry. Gram extraction matches
    * `q_decontaminate` (lowercased whitespace tokens, 3-token windows). */
  def registerBenchmark(
      evalDocs: DataFrame,
      textCol: String,
      benchTable: String,
      gramN: Int = 3): Long = {
    val grams = evalDocs
      .withColumn("toks",
        filter(split(lower(col(textCol)), "\\s+"), w => length(w) > 0))
      .filter(size(col("toks")) >= gramN)
      .select(explode(
        transform(sequence(lit(1), size(col("toks")) - (gramN - 1)),
          i => array_join(slice(col("toks"), i, lit(gramN)), " "))).as("gram"))
      .distinct()
    graft.sinks.Snapshots.commit(grams, benchTable,
      org.apache.spark.sql.SaveMode.Overwrite)
  }

  /** Benchmark decontamination as an ingest gate (the SIXTH streaming
    * gate): each arriving batch of (doc_id, text) counts its distinct
    * token 3-grams shared with the newest [[registerBenchmark]] snapshot
    * — the `q_decontaminate` rule run BEFORE a document ever reaches the
    * corpus, which is where eval protection has to live: scrubbing after
    * training is too late. Rows land in `outTable` PARTITIONED BY the
    * contamination verdict (clean-side reads prune flagged docs at
    * file-listing time) carrying `n_shared` and the serving benchmark
    * version as provenance. The benchmark gram set is eval-sized — fixed
    * and broadcastable no matter the corpus — so per-batch cost is one
    * map-side gram explode plus a broadcast semi-probe: nothing grows
    * with stream length, and a new benchmark hot-swaps mid-stream.
    * Txn watermark → replays no-op. */
  def startDecontaminationIngest(
      stream: DataFrame, // (doc_id: Long, text: String)
      benchTable: String,
      outTable: String,
      checkpointDir: String,
      minShared: Int = 3,
      gramN: Int = 3,
      appId: String = "graft-decontam-ingest",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startGate(stream, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val bv = Snapshots.versions(spark, benchTable).lastOption.getOrElse(
        throw new IllegalStateException(
          s"no benchmark at $benchTable — run registerBenchmark first"))
      val bench = Snapshots.read(spark, benchTable, Some(bv))
        .select(col("gram"))
      val docs = batch.select(col("doc_id"), col("text"))
        .withColumn("toks",
          filter(split(lower(col("text")), "\\s+"), w => length(w) > 0))
        .localCheckpoint()
      val grams = docs.filter(size(col("toks")) >= gramN)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(1), size(col("toks")) - (gramN - 1)),
            i => array_join(slice(col("toks"), i, lit(gramN)), " ")))).as("gram"))
      val shared = grams.join(broadcast(bench), Seq("gram"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      val out = docs
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("text"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          (coalesce(col("n_shared"), lit(0L)) >= minShared).as("contaminated"),
          lit(bv).as("bench_version"))
      appendBatch(out, outTable, Seq("contaminated"), appId, batchId)
    }

  // ---- streaming content-addressed chunk store ------------------------------

  /** Content-addressed chunk-store ingest (the SEVENTH streaming gate —
    * the STORAGE-dedup tier): arriving documents are cut by
    * [[graft.ext.ContentChunker]] (content-defined boundaries, so an
    * edited re-ingest re-synchronizes) and only chunks whose digest the
    * store has never seen are written; every document lands as a MANIFEST
    * of (chunk_idx, digest) rows. A near-identical re-upload therefore
    * stores just its edited chunks — transport/storage dedup at
    * sub-document granularity, which at 100 TB is the difference between
    * re-storing a corpus vintage and storing its delta.
    *
    * Layout: `chunkTable` holds (chunk_hash, ctext) partitioned by a
    * digest bucket — the existence probe reads ONLY the buckets the
    * batch's digests hash into (manifest overlap probe first, same
    * discipline as the other gates: a read error FAILS the batch, a
    * non-overlapping batch sees an empty store). `manifestTable` holds
    * (doc_id, chunk_idx, chunk_hash, n_tok) partitioned by a doc-id
    * bucket so [[reconstruct]] prunes to the requested docs' buckets, and
    * from there to their digests' chunk buckets ([[cbucketOf]], the one
    * bucket expression the gate writes by).
    * Both appends carry (appId, batchId) txn watermarks → replays no-op
    * at both tables, and each clusters its rows by its partition column
    * first, so a commit writes one file per touched bucket. Intra-batch
    * duplicate digests collapse to one stored row in the same shuffle
    * that clusters the chunk rows.
    *
    * BOUNDED PER-BATCH PROBE (SURVEY §9.4): a 1000-doc batch hashes into
    * every cbucket, so the naive existence probe reads the WHOLE stored
    * digest column per batch — measured growing 6.6 s → 27.3 s per batch
    * over 50 batches at sf1 (O(corpus), the gate's one scale-killer). The
    * gate therefore keeps a [[graft.sinks.DigestBloom]] sidecar, version-
    * matched to the chunk table: each batch collects its own digests
    * (driver work bounded by BATCH size), tests them against the sidecar,
    * reads only the buckets of digests that MIGHT exist, filtered to those
    * digests, and decides "novel" on the driver from what that read
    * collects — no join or shuffle over stored state, and on novel-heavy
    * ingest no read at all. Erasure/compaction/crashes bump the
    * table version without a sidecar → the next batch falls back to the
    * full probe and rebuilds the sidecar DISTRIBUTEDLY (a driver
    * footprint of one sidecar, at most 40 bits per stored digest); false
    * negatives are impossible by the version match, false positives only
    * cost an extra bucket read.
    *
    * `compactEvery` (0 = off) bounds the OTHER growth axis — commit
    * fragmentation. Batches whose digests genuinely hit the store (shared
    * boilerplate chunks) must read their buckets, and after N append
    * commits a bucket is N tiny files: measured, hit-batch cost tracked
    * FILE COUNT, not data volume (§9.4). Every `compactEvery` commits of
    * each table the gate rewrites the buckets whose commit-dir count
    * crossed the threshold to one file each
    * ([[graft.sinks.Snapshots.compactFragmented]]), and when the chunk
    * table's compaction published a version it re-stamps the sidecar there
    * (same digest set — no rebuild). Rewrite bytes are ∝ the fragmented
    * (recently-touched) buckets, never the whole corpus. */
  def startChunkStoreIngest(
      stream: DataFrame, // (doc_id: Long, text: String)
      chunkTable: String,
      manifestTable: String,
      checkpointDir: String,
      mask: Int = 16,
      buckets: Int = 64,
      appId: String = "graft-chunkstore-ingest",
      compactEvery: Int = 0,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // per-GATE-INSTANCE lease holder: the bare appId is SHARED by every
    // gate left on the default, and acquireLease is re-entrant by holder —
    // two default-appId gates would steal each other's live lease
    // mid-batch and silently void the very exclusion the lease enforces.
    // A crashed instance's lease falls to the TTL instead of instant
    // same-holder recovery; that trade is the safe direction.
    val leaseHolder = s"$appId-${java.util.UUID.randomUUID().toString.take(8)}"
    startGate(stream, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      import graft.sinks.DigestBloom
      // WRITER LEASE over the batch's two-table critical section
      // (VERDICT r16 item 1): between this batch's chunk-table append
      // and its manifest-table append, a concurrent erase/sweep could
      // decide "unreferenced" for a chunk the in-flight manifest is
      // about to reference and collect it — no version ever collides,
      // so the CAS alone cannot catch it. The lease (held seconds,
      // released at batch end) makes the exclusion mechanical: an
      // erase attempted mid-batch waits briefly, then fails LOUDLY
      // naming this gate. Maintenance compactions stay lease-free
      // (content-preserving; racing them is CAS-safe).
      Snapshots.withTableLease(spark, manifestTable, holder = leaseHolder) {
        val ch = graft.ext.ContentChunker
          .chunks(batch.select(col("doc_id"), col("text")), "doc_id", "text", mask)
          .select(col("id").as("doc_id"), col("chunk_idx"),
            array_join(col("ctoks"), " ").as("ctext"),
            size(col("ctoks")).cast("int").as("n_tok"))
          .withColumn("chunk_hash", md5(col("ctext")))
          .withColumn("cbucket", cbucketOf(col("chunk_hash"), buckets))
          .localCheckpoint()
        // the batch's own (digest, bucket) set, deduped on the driver —
        // bounded by batch size
        val pairs = ch.select(col("chunk_hash"), col("cbucket").cast("string"))
          .collect().map(r => (r.getString(0), r.getString(1))).distinct
        val curV = Snapshots.versions(spark, chunkTable).lastOption
        val sidecar = curV.flatMap(v => DigestBloom.read(spark, chunkTable, v))
        // saturation gauge (VERDICT r16 item 4): past ~50% fill the fp
        // rate climbs toward 1 and the probe stops pruning. A sidecar is
        // sized for twice the store it was built from, so crossing 0.5
        // is the planned growth trigger, not a fault: the commit below
        // regrows it instead of carrying it forward. Still surfaced, as
        // a regrow scans the whole digest column.
        val sidecarFill = sidecar.map(DigestBloom.fillRatio).getOrElse(0.0)
        if (sidecarFill > 0.5)
          System.err.println(f"[graft.chunkstore] WARNING: digest bloom " +
            f"fill ${sidecarFill * 100}%.1f%% — this commit regrows the " +
            "sidecar at twice the store's digest count")
        // with a trusted (version-matched) sidecar, only bloom-positive
        // digests can exist; without one, every batch digest might
        val maybe = sidecar match {
          case Some(b) => pairs.filter { case (d, _) => b.mightContainString(d) }
          case None => pairs
        }
        // which of the maybe-digests are stored: the probed buckets read at
        // the version the sidecar was matched against, filtered to the
        // maybe-digests and collected (⊆ batch digests — bounded); no read
        // at all when nothing is bloom-positive
        val hits: Set[String] =
          if (maybe.isEmpty) Set.empty
          else Snapshots.readProbedOrEmpty(spark, chunkTable, "cbucket",
              maybe.map(_._2).toSet, StructType.fromDDL("chunk_hash STRING"), curV)
            .filter(col("chunk_hash").isin(maybe.map(_._1).toSeq: _*))
            .collect().map(_.getString(0)).toSet
        val novelDigests = pairs.map(_._1).filterNot(hits)
        // the writes cluster by their partition column over the default
        // parallelism (FanOut's floor), so each commit writes one file per
        // touched spec
        val par = spark.sparkContext.defaultParallelism
        if (novelDigests.nonEmpty) {
          // novel = never stored; the groupBy reuses the cbucket shuffle
          // to collapse intra-batch twins to one row (ctext is a function
          // of the digest, so first() is deterministic in content)
          val novel = ch.filter(!col("chunk_hash").isin(hits.toSeq: _*))
            .repartition(par, col("cbucket"))
            .groupBy(col("cbucket"), col("chunk_hash"))
            .agg(first(col("ctext")).as("ctext"))
          val v2 = appendBatch(novel, chunkTable, Seq("cbucket"), s"$appId-chunks", batchId)
          // advance the sidecar to v2: trusted base + this batch's novel
          // digests, else a one-off distributed rebuild from the table
          // (adding novelDigests twice after a rebuild is harmless).
          // GEOMETRIC GROWTH: a saturated (fill > 50%) sidecar is NOT
          // carried forward — rebuild sized for TWICE the store's actual
          // count (the rebuild scans the digest column anyway; the count
          // is one cheap extra aggregation on a rare path). A fresh
          // sidecar starts at most ~30% full and lasts until the store
          // has roughly doubled, so rebuild scans cost O(1) per stored
          // digest over time and the sidecar stays near the store's size.
          val next = sidecar.filter(_ => sidecarFill <= 0.5).getOrElse {
            val stored = Snapshots.read(spark, chunkTable, Some(v2))
              .select(col("chunk_hash"))
            DigestBloom.build(stored, "chunk_hash",
              DigestBloom.sizedBits(2 * stored.count()))
          }
          novelDigests.foreach(next.putString)
          DigestBloom.write(spark, chunkTable, v2, next)
          // fragmentation maintenance: selectively rewrite buckets whose
          // commit-dir count crossed the threshold, then re-stamp the
          // sidecar at the version that compaction published (identical
          // digest set — no rebuild needed; a no-op compaction publishes
          // nothing and the sidecar stays at v2)
          if (compactEvery > 0 && v2 % compactEvery == 0)
            Snapshots.compactFragmented(spark, chunkTable)
              .foreach(DigestBloom.write(spark, chunkTable, _, next))
        }
        val manifest = ch.select(
            pmod(col("doc_id"), lit(buckets)).as("dbucket"),
            col("doc_id"), col("chunk_idx"), col("chunk_hash"), col("n_tok"))
          .repartition(par, col("dbucket"))
        // PRE-COMMIT OWNERSHIP RE-CHECK (ADVICE r17): the lease bracket
        // heartbeats at ttl/3 and fails loudly AFTER the body on any
        // loss, but the manifest append is the commit whose chunk
        // references a stolen-lease GC could have just collected — so
        // verify ownership immediately before it and fail BEFORE
        // publishing a manifest that may point at swept chunks. The
        // streaming checkpoint replays the batch; the chunk-table
        // append above is idempotent under its txn watermark.
        if (!Snapshots.leaseHeld(spark, manifestTable, leaseHolder))
          throw new java.io.IOException(
            s"writer lease on $manifestTable stolen from '$leaseHolder' " +
              "mid-batch: refusing the manifest commit (its chunk rows may " +
              "have been GC'd by the thief) — the batch will replay")
        // same cadence for the manifest table: reconstruct() and the
        // erase sweep read it whole, and it fragments one file per
        // dbucket per batch just like the chunk table
        appendBatch(manifest, manifestTable, Seq("dbucket"), s"$appId-manifest", batchId,
          compactEvery)
      } // lease released: the two-table critical section is closed
    }
  }

  /** The chunk store's digest bucket: the `cbucket` a digest is stored
    * under. The gate writes by it and every chunk-table read prunes by it,
    * so it is defined once. */
  private def cbucketOf(digest: Column, buckets: Int): Column =
    pmod(xxhash64(digest), lit(buckets))

  /** Reassemble documents from the chunk store: each document's manifest
    * rows, re-ordered by chunk_idx, their chunks' texts joined by a space.
    * Returns (doc_id, text).
    *
    * With `docIds` the read is bounded by the request, on the driver: the
    * requested docs' manifest rows are read from their doc-id buckets and
    * collected, each with its digest's `cbucket`; then only those chunk
    * buckets are read, filtered to those digests and collected, and the
    * texts are assembled locally into a frame typed (doc_id BIGINT, text
    * STRING). Two Spark jobs, whatever the store holds. Requested ids whose
    * buckets hold no manifest rows (never stored, or erased until the
    * bucket emptied) are simply absent. A requested document whose manifest
    * names a digest the chunk table lacks throws IllegalStateException:
    * chunks commit before manifests and an erase replaces the manifest
    * first, so that can only be corruption. Without `docIds` the whole
    * store is reassembled by a distributed join.
    *
    * Manifest rows are DEDUPED first: a document RE-DELIVERED in a later
    * batch (new batchId, so the txn watermark correctly does not swallow
    * it) appends a second identical manifest, and without the distinct the
    * reassembly would double every chunk. Documents are immutable by
    * contract here — an UPDATED text under a reused doc_id is a different
    * system (versioned manifests), not a re-delivery. */
  def reconstruct(
      spark: org.apache.spark.sql.SparkSession,
      manifestTable: String,
      chunkTable: String,
      docIds: Option[Seq[Long]] = None,
      buckets: Int = 64): DataFrame = docIds match {
    case None =>
      Snapshots.read(spark, manifestTable)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_hash")).distinct()
        .join(Snapshots.read(spark, chunkTable)
          .select(col("chunk_hash"), col("ctext")), Seq("chunk_hash"))
        .groupBy(col("doc_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("ctext")))),
          e => e.getField("ctext")), " ").as("text"))
    case Some(ids) =>
      // a requested bucket that holds no manifest rows only means that
      // none of its requested documents is stored
      val dbks = ids.map(i => (((i % buckets) + buckets) % buckets).toString).toSet
      val rows = Snapshots.readProbedOrEmpty(spark, manifestTable, "dbucket", dbks,
          StructType.fromDDL("doc_id BIGINT, chunk_idx INT, chunk_hash STRING"))
        .filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id"), col("chunk_idx"), col("chunk_hash"),
          cbucketOf(col("chunk_hash"), buckets).cast("string"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getString(3))).distinct
      val digests = rows.map(_._3).distinct
      val ctext: Map[String, String] =
        if (rows.isEmpty) Map.empty
        else Snapshots.readProbedOrEmpty(spark, chunkTable, "cbucket", rows.map(_._4).toSet,
            StructType.fromDDL("chunk_hash STRING, ctext STRING"))
          .filter(col("chunk_hash").isin(digests.toSeq: _*))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val docs = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, rs) =>
        val parts = rs.map { case (_, idx, d, _) =>
          idx -> ctext.getOrElse(d, throw new IllegalStateException(
            s"document $id names chunk $d, which $chunkTable does not hold"))
        }
        Row(id, parts.sorted.map(_._2).mkString(" "))
      }
      spark.createDataFrame(java.util.List.of(docs: _*),
        StructType.fromDDL("doc_id BIGINT, text STRING"))
  }

  /** Right-to-be-forgotten for the content-addressed store: drop the
    * erased docs' manifests, then any chunk NO OTHER document references —
    * shared chunks survive (their text is still live data through the
    * docs that hold it; deleting them would corrupt innocent documents),
    * unique chunks leave the live table. Content addressing cuts both
    * ways for governance: dedup means one stored blob can serve many
    * owners, so erasure must be reference-counted, not per-doc.
    *
    * Cost shape: the erased docs' rows come from their own dbucket
    * partitions (pruned); the dead-chunk probe is ONE column-pruned scan
    * of each table (erasure GC is a rare batch job — a standing refcount
    * table would trade that scan for bookkeeping on every ingest); chunk
    * rewrites touch only the dead digests' cbucket partitions, dropping
    * ones that empty out. Physical file removal then completes with
    * [[graft.sinks.Snapshots.vacuum]] — partition-granular, so a
    * partly-live bulk commit loses exactly its dead spec subdirs.
    *
    * CRASH-SAFE: the two commits (manifest replace, chunk-table rewrite)
    * are not atomic together, so the dead set is derived from the chunk
    * table ITSELF (stored digests left-anti ALL surviving manifest
    * references) — never from the pre-replace manifest. A failure between
    * the commits leaves orphaned chunk rows, and the next erase (or a
    * bare [[sweepOrphanChunks]] with no docIds) completes the sweep; the
    * earlier derivation early-returned on the re-run (erased docs' rows
    * already gone from the manifest) and stranded the text forever. */
  def chunkStoreErase(
      spark: org.apache.spark.sql.SparkSession,
      manifestTable: String,
      chunkTable: String,
      docIds: Seq[Long],
      buckets: Int = 64,
      leaseWaitMs: Long = 120000L): Unit = {
    // CONCURRENCY CONTRACT, MECHANICALLY ENFORCED (VERDICT r16 item 1):
    // erase/sweep may race the out-of-band compactFragmented loop
    // (content-preserving — the CAS'd retry below re-derives and
    // completes), but NOT a live ingest batch on the SAME tables: a GC
    // that deletes "unreferenced" chunks while an ingest is between its
    // chunk and manifest commits could collect a chunk the in-flight
    // manifest is about to reference. Both sides now take the manifest
    // table's WRITER LEASE around their critical section — an erase
    // attempted mid-batch waits up to `leaseWaitMs` for the batch to
    // close, then fails LOUDLY naming the holder (the r16 write-skew find
    // proved prose contracts around concurrency get violated silently).
    Snapshots.withTableLease(spark, manifestTable,
        holder = s"chunkStoreErase-${java.util.UUID.randomUUID().toString.take(8)}",
        waitMs = leaseWaitMs) {
      chunkStoreEraseLocked(spark, manifestTable, chunkTable, docIds, buckets)
    }
  }

  /** [[chunkStoreErase]]'s body, lease already held by the caller. */
  private def chunkStoreEraseLocked(
      spark: org.apache.spark.sql.SparkSession,
      manifestTable: String,
      chunkTable: String,
      docIds: Seq[Long],
      buckets: Int): Unit = {
    var cands: Option[DataFrame] = None
    if (Snapshots.versions(spark, manifestTable).nonEmpty && docIds.nonEmpty) {
      val dbks = docIds.map(i => (((i % buckets) + buckets) % buckets).toString).toSet
      // the whole derive+replace sits INSIDE the race retry: losing the
      // version to a concurrent compaction re-reads at the new base — a
      // retry around only the commit would replay stale inputs forever
      Snapshots.commitRetryingRaces() {
        cands = None
        val manV = Snapshots.versions(spark, manifestTable).last
        def inBuckets(bks: Set[String]) =
          Snapshots.readSelected(spark, manifestTable, Some(manV), _.get("dbucket").exists(bks))
            .map { case (specs, rows) => (specs, rows.localCheckpoint()) } // probe + rewrite
        // manifest overlap probe FIRST (the standing gate discipline):
        // after a prior erase emptied these docs' dbuckets nothing is
        // selected — that absence means the manifest leg is already done
        // (the chunk sweep below still runs: recovery)
        val derived = inBuckets(dbks)
        // COVERAGE CHECK on the dbucket derivation (same premise-
        // verification as the sweep's, ADVICE r16): with the ingest's own
        // bucket count every still-present requested doc lives in its
        // derived dbucket. A requested doc the pruned read can NOT find is
        // EITHER already erased OR sitting in a partition the (mismatched)
        // derivation never read — and concluding "already erased" in the
        // second case silently RETAINS the doc on an erasure API.
        val found: Set[Long] = derived.map(
          _._2.filter(col("doc_id").isin(docIds: _*)).select(col("doc_id"))
            .distinct().collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
        // premise failed for at least one doc: locate the docs' rows
        // bucket-agnostically (ONE column-pruned manifest scan — the same O
        // as the sweep's reference scan, paid only on premise failure),
        // then rewrite exactly the partitions that hold them; none found
        // means genuinely nothing left to erase
        val target =
          if (found == docIds.toSet) derived
          else inBuckets(Snapshots.read(spark, manifestTable, Some(manV))
            .filter(col("doc_id").isin(docIds: _*))
            .select(col("dbucket").cast("string")).distinct()
            .collect().map(_.getString(0)).toSet)
        target match {
          case None => manV
          case Some((replaced, rows)) =>
            // the erased docs' own digests, pinned BEFORE the replace: only
            // these can have been orphaned BY THIS ERASE, so the sweep can
            // prune its chunk-side read to their cbuckets (§9.6 curve —
            // without this the sweep re-reads the whole chunk table per
            // erase). Pre-existing orphans from an earlier crash still
            // fall to the full recovery sweep below.
            cands = Some(rows.filter(col("doc_id").isin(docIds: _*))
              .select(col("chunk_hash")).distinct().localCheckpoint())
            Snapshots.commitPartitionReplace(rows.filter(!col("doc_id").isin(docIds: _*)),
              manifestTable, Seq("dbucket"), replaced, baseVersion = Some(manV))
        }
      }
    }
    // no candidates when nothing matched the manifest (already-replaced
    // dbuckets, an empty table, or no docIds): the FULL recovery sweep —
    // exactly the crash-between-commits path the header describes
    sweepOrphanChunksLocked(spark, manifestTable, chunkTable, cands, buckets)
  }

  /** GC leg of [[chunkStoreErase]], callable on its own as crash recovery:
    * delete every stored chunk that NO surviving manifest references.
    * Rewrites only the cbucket partitions that actually hold dead digests
    * (none dead → no commit at all).
    *
    * Cost shape (§9.6): with `candidates` (the normal erase path — the
    * erased docs' own digests) the chunk-side read prunes to the
    * candidates' cbuckets, derived arithmetically (cbucket is a hash of
    * the digest — zero IO to resolve), so that side is O(erased docs'
    * chunks), NOT O(corpus). The manifest side stays ONE column-pruned
    * full scan and cannot be partition-pruned correctly: a reference to a
    * digest can live in ANY document's dbucket, so a pruned reference
    * probe would miss live references and delete shared chunks. That scan
    * is the measured O(corpus-column) term of the erase curve — the
    * standing-refcount alternative trades it for bookkeeping on every
    * ingest, the wrong trade for a rare GC. Without `candidates` (crash
    * recovery, or a periodic orphan GC) both sides scan fully — that pass
    * also catches orphans this erase did NOT create (an ingest that
    * crashed between its chunk and manifest commits).
    *
    * The pruned path VERIFIES its own premise: every candidate digest must
    * be found in its arithmetically-derived cbucket (ingest commits chunks
    * before manifests, so a referenced digest is always stored). Any miss
    * — a `buckets` value differing from the ingest's, or an already-swept
    * candidate — falls back to the bucket-agnostic full scan, so a wrong
    * bucket count can cost an extra scan but can never silently RETAIN
    * erased text. */
  def sweepOrphanChunks(
      spark: org.apache.spark.sql.SparkSession,
      manifestTable: String,
      chunkTable: String,
      candidates: Option[DataFrame] = None,
      buckets: Int = 64,
      leaseWaitMs: Long = 120000L): Unit =
    // standalone sweeps take the same writer lease the gate and the erase
    // hold (see chunkStoreErase) — a bare recovery sweep racing a live
    // ingest batch has the identical collect-an-in-flight-reference hazard
    graft.sinks.Snapshots.withTableLease(spark, manifestTable,
        holder = s"sweepOrphans-${java.util.UUID.randomUUID().toString.take(8)}",
        waitMs = leaseWaitMs) {
      sweepOrphanChunksLocked(spark, manifestTable, chunkTable, candidates, buckets)
    }

  /** [[sweepOrphanChunks]]'s body, lease already held by the caller. */
  private def sweepOrphanChunksLocked(
      spark: org.apache.spark.sql.SparkSession,
      manifestTable: String,
      chunkTable: String,
      candidates: Option[DataFrame],
      buckets: Int): Unit = {
    if (Snapshots.versions(spark, chunkTable).isEmpty) return
    // the whole derive+rewrite sits inside the race retry, CAS'd on the
    // chunk-table version it resolved: losing to a concurrent compaction
    // re-derives the dead set against the compacted base instead of
    // replaying a stale rewrite (same contract note as chunkStoreErase —
    // racing a compaction is safe, racing a live ingest is not)
    Snapshots.commitRetryingRaces() {
      val chunkV = Snapshots.versions(spark, chunkTable).last
      val candPruned: Option[DataFrame] = candidates match {
        case Some(cand0) =>
          val cand = cand0.select(col("chunk_hash")).distinct()
          val pbks: Set[String] = cand
            .select(cbucketOf(col("chunk_hash"), buckets).cast("string"))
            .distinct().collect().map(_.getString(0)).toSet
          // the bucket-agnostic full scan, candidate-joined — None when the
          // chunk table holds no spec at all (nothing stored to sweep)
          def unpruned = Snapshots.readSelected(spark, chunkTable, Some(chunkV), _ => true)
            .map(_._2.select(col("cbucket"), col("chunk_hash")).join(cand, Seq("chunk_hash")))
          if (pbks.isEmpty) None
          else Snapshots.readSelected(spark, chunkTable, Some(chunkV),
              _.get("cbucket").exists(pbks)) match {
            // no derived bucket is stored: the premise below fails outright
            case None => unpruned
            case Some((_, rows)) =>
              // localCheckpoint: the coverage count below AND the sweep's
              // downstream reference anti-join both consume this join —
              // uncached it would re-read the pruned partitions twice per
              // erase (the exact IO the §9.6 pruning bought back). Bounded
              // by the candidates' own chunk rows.
              val pruned = rows.select(col("cbucket"), col("chunk_hash"))
                .join(cand, Seq("chunk_hash"))
                .localCheckpoint()
              // COVERAGE CHECK on the pruning premise (ADVICE r16): the
              // candidates came from manifest rows this erase just removed,
              // and ingest commits chunks BEFORE manifests — so with the
              // RIGHT bucket count every candidate digest is present in its
              // derived cbucket. A candidate the pruned read cannot find
              // means the premise is broken: the caller's `buckets` differs
              // from the ingest's (the arithmetic derivation points at the
              // wrong partitions — silently no-op'ing would RETAIN erased
              // text on an erasure API), or a prior pass already swept it.
              // Either way the bucket-agnostic full scan is correct, still
              // candidate-joined, and only paid when the premise fails.
              val candN = cand.count()
              val foundN = pruned.select(col("chunk_hash")).distinct().count()
              if (candN == 0) None
              else if (foundN == candN) Some(pruned)
              else unpruned
          }
        case None => Some(Snapshots.read(spark, chunkTable, Some(chunkV))
          .select(col("cbucket"), col("chunk_hash")))
      }
      candPruned match {
        case None => chunkV // candidates hit no stored bucket — no-op
        case Some(stored) =>
          // an empty (or never-written) manifest orphans every stored chunk
          val dead = (if (Snapshots.versions(spark, manifestTable).isEmpty) stored
            else stored.join(
              Snapshots.read(spark, manifestTable).select(col("chunk_hash")),
              Seq("chunk_hash"), "left_anti"))
            .localCheckpoint() // bounded by the erased docs' own chunk count
          val cbks = dead.select(col("cbucket").cast("string"))
            .distinct().collect().map(_.getString(0)).toSet
          (if (cbks.isEmpty) None
            else Snapshots.readSelected(spark, chunkTable, Some(chunkV),
              _.get("cbucket").exists(cbks))) match {
            case None => chunkV // nothing orphaned — idempotent no-op
            case Some((replaced, rows)) => Snapshots.commitPartitionReplace(
              rows.join(dead.select(col("chunk_hash")), Seq("chunk_hash"), "left_anti"),
              chunkTable, Seq("cbucket"), replaced, baseVersion = Some(chunkV))
          }
      }
    }
    ()
  }

  // ---- streaming quality-admission gate ------------------------------------

  /** Train (or RETRAIN) the Naive-Bayes quality model on a seed-labeled
    * corpus and publish it as ONE atomic snapshot version of `modelTable`
    * (65 rows: 64 bucket weights + the prior). Serving picks up the newest
    * version per micro-batch, so a retrain hot-swaps mid-stream without
    * restarting the query — the manifest commit is the model registry. */
  def trainQualityModel(
      docs: DataFrame,
      toksCol: String,
      labelCol: String,
      trainCol: String,
      modelTable: String): Long =
    graft.sinks.Snapshots.commit(
      graft.ext.QualityFilter.model(docs, toksCol, labelCol, trainCol),
      modelTable, org.apache.spark.sql.SaveMode.Overwrite)

  /** Quality ADMISSION as an ingest gate (the FIFTH streaming gate — the
    * first filter every production corpus ingest runs): each arriving
    * batch of (doc_id, text) scores against the newest [[trainQualityModel]]
    * snapshot (a 65-row read + broadcast — model size is fixed by the
    * hashed-bucket design no matter the training vocabulary) and lands in
    * `outTable` PARTITIONED BY the admission verdict, so downstream
    * corpus reads of `admitted=true` prune the rejects at file-listing
    * time. Each row records its round-6 quality score and the serving
    * model version (the provenance a re-audit needs after a retrain).
    * Txn watermark → replays no-op. Stateless per batch: nothing here
    * grows with stream length. */
  def startQualityIngest(
      stream: DataFrame, // (doc_id: Long, text: String)
      modelTable: String,
      outTable: String,
      checkpointDir: String,
      threshold: Double = 0.0,
      appId: String = "graft-quality-ingest",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startGate(stream, checkpointDir, trigger) { (batch, batchId) =>
      val spark = batch.sparkSession
      val mv = Snapshots.versions(spark, modelTable).lastOption.getOrElse(
        throw new IllegalStateException(
          s"no quality model at $modelTable — run trainQualityModel first"))
      val model = Snapshots.read(spark, modelTable, Some(mv))
      val docs = batch.select(col("doc_id"), col("text"))
        .withColumn("toks", graft.ext.TextAnalysis.tokens(col("text")))
        .localCheckpoint()
      val scored = graft.ext.QualityFilter
        .scoreWith(docs, "doc_id", "toks", model)
      val out = docs.join(scored, Seq("doc_id"))
        .select(col("doc_id"), col("text"),
          round(col("score"), 6).as("quality"),
          (round(col("score"), 6) > threshold).as("admitted"),
          lit(mv).as("model_version"))
      appendBatch(out, outTable, Seq("admitted"), appId, batchId)
    }

  /** The logically-erased corpus: `docsTable` minus standing tombstones —
    * correct immediately after a gate batch, before any physical rewrite.
    * The anti-join side is the tombstone id set (small until vacuumed;
    * Spark broadcasts it on its own under AQE). */
  def erasedCorpus(
      spark: org.apache.spark.sql.SparkSession,
      docsTable: String,
      tombstoneTable: String): DataFrame = {
    val docs = Snapshots.read(spark, docsTable)
    if (Snapshots.versions(spark, tombstoneTable).isEmpty) docs
    else docs.join(Snapshots.read(spark, tombstoneTable)
        .select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** Phase two of erasure — the PHYSICAL rewrite, amortized across gate
    * batches: rewrites ONLY the id-bucket partitions of `docsTable` and the
    * token-bucket partitions of `tokenTable` that actually hold tombstoned
    * rows (one column-pruned semi-probe of the token index finds its
    * affected buckets — robust to any crash ordering, no dependency on doc
    * text still being readable). Partitions that become empty DROP from the
    * manifest ([[graft.sinks.Snapshots.commitPartitionReplace]]).
    * Idempotent: a second run finds nothing to rewrite. Tombstones are
    * retained — they carry only ids, the audit record erasure regimes
    * themselves require — so [[erasedCorpus]] stays correct throughout.
    * Old versions still reference pre-rewrite files; physical removal
    * completes with [[graft.sinks.Snapshots.vacuum]], same as compaction. */
  def applyErasure(
      spark: org.apache.spark.sql.SparkSession,
      docsTable: String,
      tokenTable: String,
      tombstoneTable: String,
      buckets: Int = 64): Unit = {
    if (Snapshots.versions(spark, tombstoneTable).isEmpty) return
    val ids = Snapshots.read(spark, tombstoneTable)
      .select(col("doc_id")).distinct().localCheckpoint()
    def rewrite(table: String, partCol: String, bks: => Set[String]): Unit =
      if (Snapshots.versions(spark, table).nonEmpty) {
        // derive+replace inside the race retry, CAS'd on the version the
        // read resolved — a concurrent compaction loses cleanly and the
        // retry re-derives (the commit alone retried would replay stale
        // inputs; an unpinned replace would drop interleaved commits)
        Snapshots.commitRetryingRaces() {
          val v = Snapshots.versions(spark, table).last
          val want = bks // by-name: derived once per attempt, not per spec
          Snapshots.readSelected(spark, table, Some(v), _.get(partCol).exists(want)) match {
            case None => v
            case Some((replaced, rows)) =>
              Snapshots.commitPartitionReplace(rows.join(ids, Seq("doc_id"), "left_anti"),
                table, Seq(partCol), replaced, baseVersion = Some(v))
          }
        }
        ()
      }
    // docs: affected id-buckets derive from the ids themselves — no scan
    rewrite(docsTable, "dbucket",
      ids.select(pmod(col("doc_id"), lit(buckets)).cast("string"))
        .distinct().collect().map(_.getString(0)).toSet)
    // token index: ids scatter across token buckets, so ONE column-pruned
    // semi-probe of the index finds the buckets that actually hold them
    rewrite(tokenTable, "bucket",
      Snapshots.read(spark, tokenTable)
        .join(ids, Seq("doc_id"), "left_semi")
        .select(col("bucket").cast("string")).distinct()
        .collect().map(_.getString(0)).toSet)
  }

  // ---- rolling z-score anomaly detection ----------------------------------

  /** Per-(label, dim) cohort-mean drift over integer-quantized embedding
    * components — the write-once-run-both form behind the oracled batch
    * entry `q_embedding_drift` AND the streaming drift monitor. Cohorts are
    * the vec_id parity (two interleaved corpus vintages). As a stream
    * (update/complete mode) the aggregation state is ONE row per
    * (label, dim) — bounded by the attribute domain × dims, never the
    * stream length — so the monitor runs unbounded with constant state and
    * needs no watermark. The state is integer sums/counts (quantized
    * components), so the emitted means are exactly the batch run's no
    * matter how micro-batches slice the input. No orderBy here: streaming
    * aggregations forbid it; the batch entry sorts at the edge. */
  def embeddingDrift(df: DataFrame, dims: Int = 8): DataFrame =
    df.select(col("label"), (col("vec_id") % 2 === 0).as("even"),
        posexplode(expr(
          s"transform(slice(embedding, 1, $dims), x -> floor(CAST(x AS DOUBLE) * 8.0D + 0.5D))"))
          .as(Seq("pos", "qv")))
      .groupBy(col("label"), (col("pos") + 1).cast("int").as("dim"))
      .agg(
        sum(when(col("even"), col("qv"))).as("se"),
        count(when(col("even"), lit(1))).as("n_e"),
        sum(when(!col("even"), col("qv"))).as("so"),
        count(when(!col("even"), lit(1))).as("n_o"))
      .filter(col("n_e") > 0 && col("n_o") > 0)
      .select(col("label"), col("dim"),
        round(col("se") / col("n_e"), 6).as("mean_even"),
        round(col("so") / col("n_o"), 6).as("mean_odd"),
        round(col("se") / col("n_e") - col("so") / col("n_o"), 6).as("drift"))

  final case class DriftVec(label: String, vec_id: Long, embedding: Seq[Double])

  final case class ZEvent(event_id: Long, event_type: String, ts: Timestamp, value: Double)
  final case class ZState(vals: Seq[Double])
  final case class ZAnomaly(event_id: Long, event_type: String, value: Double, z: Double)

  /** Shared fold: score a (ts, event_id)-SORTED run of events against the
    * rolling ring, returning the advanced ring and the anomalies. Both
    * streaming variants delegate here so their scoring can never diverge. */
  private def foldSorted(
      key: String,
      ring0: Vector[Double],
      ordered: Seq[ZEvent],
      frame: Int, minPrev: Int, threshold: Double): (Vector[Double], Seq[ZAnomaly]) = {
    var ring = ring0
    val out = Seq.newBuilder[ZAnomaly]
    ordered.foreach { e =>
      val n = ring.size
      if (n >= minPrev) {
        // two-pass refold is O(frame) per event; running sums would be
        // O(1) but accumulate eviction drift over unbounded streams —
        // at frame ≤ a few hundred the refold is ~100 flops, noise
        // next to the groupByKey shuffle, so robustness wins
        var sum = 0.0
        ring.foreach(sum += _)
        val mu = sum / n
        var ss = 0.0
        ring.foreach { v => val d = v - mu; ss += d * d }
        val sigma = math.sqrt(ss / (n - 1))
        if (sigma > 0) {
          val z = (e.value - mu) / sigma
          if (math.abs(z) > threshold) out += ZAnomaly(e.event_id, key, e.value, z)
        }
      }
      ring = if (ring.size >= frame) ring.drop(ring.size - frame + 1) :+ e.value
             else ring :+ e.value
    }
    (ring, out.result())
  }

  /** full-precision Timestamp sort: getTime is millisecond-floored, which
    * would fold sub-millisecond ties in the wrong order vs the batch
    * window's (ts, event_id) sort (events carry µs timestamps) */
  private def sortByTsId(rows: Seq[ZEvent]): Seq[ZEvent] =
    rows.sortWith { (a, b) =>
      val c = a.ts.compareTo(b.ts)
      c < 0 || (c == 0 && a.event_id < b.event_id)
    }

  /** Rolling z-score anomaly detection, STREAMING form — the incremental
    * twin of the batch `q_anomaly_zscore` window (`RollingHalo
    * .precedingStats` + filter): each event is scored against the mean /
    * sample-stddev of the `frame` events that PRECEDED it for its key, so
    * an outlier never dilutes its own baseline; events with fewer than
    * `minPrev` predecessors are warm-up and never emitted.
    *
    * State per key is a bounded ring of the last `frame` values — O(frame)
    * doubles regardless of history length, the same state discipline as
    * [[sessionizeStream]]. `flatMapGroupsWithState` rather than a windowed
    * agg because the frame is a ROW count, not a time width — no built-in
    * streaming window expresses "last 100 events".
    *
    * Ordering contract: rows are folded in (ts, event_id) order WITHIN each
    * micro-batch; cross-batch order is arrival order — correct for per-key
    * in-order sources (the CDC / append-log shape this models). Late
    * arrivals would need a watermarked reorder buffer in front.
    * ZscoreStreamSpec pins stream ≡ batch on a planted fixture. */
  def zscoreAnomaliesStream(
      events: Dataset[ZEvent],
      frame: Int = 100,
      minPrev: Int = 30,
      threshold: Double = 3.0): Dataset[ZAnomaly] = {
    implicit val stateEnc = Encoders.product[ZState]
    implicit val outEnc = Encoders.product[ZAnomaly]
    events
      .groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState[ZState, ZAnomaly](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[ZEvent], state: GroupState[ZState]) =>
          val ring0 = state.getOption.map(_.vals.toVector).getOrElse(Vector.empty)
          val (ring, out) = foldSorted(key, ring0, sortByTsId(rows.toSeq),
            frame, minPrev, threshold)
          state.update(ZState(ring))
          out.iterator
      }
  }

  final case class ZHeld(event_id: Long, ts: Timestamp, value: Double)
  final case class ZOrderedState(held: Seq[ZHeld], vals: Seq[Double])

  /** [[zscoreAnomaliesStream]] behind a WATERMARKED REORDER BUFFER — the
    * variant for sources that deliver a key's events out of order (shuffled
    * partitions, multi-writer logs). The plain variant folds in arrival
    * order across micro-batches, which is only correct for per-key in-order
    * sources (the CDC / append-log shape); this one holds every event until
    * the event-time watermark passes it, then folds the released prefix in
    * full-precision (ts, event_id) order — so ANY arrival order within the
    * watermark horizon yields results identical to the batch window
    * (pinned in ZscoreStreamSpec under adversarially shuffled batches).
    *
    * Mechanics (the `dedupWithinWatermark` discipline, custom-state form):
    *   - input carries `withWatermark(ts, delay)`, so the engine tracks
    *     max(event time) − delay and DROPS rows later than the horizon —
    *     beyond-horizon stragglers are discarded loudly (counted in
    *     StreamingQueryProgress), never folded in the wrong order;
    *   - per key, arrivals buffer in state; each invocation releases the
    *     events STRICTLY older than the current watermark (nothing that
    *     could still be preceded by an in-horizon arrival), folds them
    *     sorted, and re-arms an event-time timeout at the newest held
    *     event so the tail flushes when the watermark advances past it
    *     even if the key never receives another row;
    *   - state is the O(frame) ring plus the held buffer, which the
    *     watermark bounds at O(key arrival rate × delay) — the same bound
    *     every watermarked stateful operator carries.
    *
    * Trade-off vs the plain variant: emission latency ≥ the watermark
    * delay, and state carries the in-flight horizon. Use the plain variant
    * for in-order sources (zero added latency/state), this one whenever
    * per-key arrival order is not guaranteed. */
  def zscoreAnomaliesStreamOrdered(
      events: Dataset[ZEvent],
      frame: Int = 100,
      minPrev: Int = 30,
      threshold: Double = 3.0,
      watermarkDelay: String = "10 minutes"): Dataset[ZAnomaly] = {
    implicit val stateEnc = Encoders.product[ZOrderedState]
    implicit val outEnc = Encoders.product[ZAnomaly]
    events.toDF()
      .withWatermark("ts", watermarkDelay)
      .as(Encoders.product[ZEvent])
      .groupByKey(_.event_type)(Encoders.STRING)
      .flatMapGroupsWithState[ZOrderedState, ZAnomaly](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, rows: Iterator[ZEvent], state: GroupState[ZOrderedState]) =>
          val st = state.getOption.getOrElse(ZOrderedState(Nil, Nil))
          val held = st.held ++
            rows.map(e => ZHeld(e.event_id, e.ts, e.value)) // empty on timeout
          val wmMs = state.getCurrentWatermarkMs()
          // release STRICTLY-older-than-watermark events only: a boundary
          // event (ts in the watermark's millisecond) could still be
          // preceded by an admissible arrival, so it stays held. The
          // millisecond floor of getTime is safe here BECAUSE it is
          // conservative — sub-ms siblings of the boundary are held too.
          val (ready, hold) = held.partition(_.ts.getTime < wmMs)
          val ordered = sortByTsId(
            ready.map(h => ZEvent(h.event_id, key, h.ts, h.value)))
          val (ring, out) = foldSorted(key,
            st.vals.toVector, ordered, frame, minPrev, threshold)
          state.update(ZOrderedState(hold, ring))
          // re-arm: fire once the watermark passes the newest held event
          // (strictly above the current watermark by the partition above)
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(hold.map(_.ts.getTime).max + 1)
          out.iterator
      }
  }

  // ---- sessionization ------------------------------------------------------

  final case class SessionEvent(user_id: Long, ts: Timestamp)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class Session(
      user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)

  /** Gap-based sessionization, BATCH form: consecutive events of a key
    * belong to one session while the gap stays ≤ `gapSeconds`. Pure window
    * functions (lag → gap flag → running sum = session id), so it is
    * ANSI-expressible and oracle-comparable. One hash-shuffle on the key —
    * the minimum sessionization costs. */
  def sessionizeBatch(df: DataFrame, tsCol: String, keyCol: String,
      gapSeconds: Long): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(col(tsCol))
    // gap in MICROseconds: cast-to-long would truncate sub-second parts and
    // disagree with a fractional-seconds oracle at exact-gap boundaries
    val newSession = when(
      unix_micros(col(tsCol)) -
        lag(unix_micros(col(tsCol)), 1).over(byKey) > gapSeconds * 1000000L, 1)
      .otherwise(0)
    df.withColumn("_new", newSession)
      .withColumn("session_id",
        sum(col("_new")).over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("session_id"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
      .drop("session_id")
  }

  /** Gap-based sessionization, STREAMING form: `flatMapGroupsWithState`
    * with event-time timeout — the custom-state tier of Structured
    * Streaming. A session closes (and is emitted) when the watermark passes
    * its last event + gap; state per key is three longs, so executor state
    * stays O(active keys) regardless of history length. */
  def sessionizeStream(
      events: Dataset[SessionEvent],
      gapSeconds: Long,
      watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[Session]
    events.toDF()
      .withWatermark("ts", watermarkDelay)
      .as(Encoders.product[SessionEvent])
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          def ms(t: Timestamp) = t.getTime
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, new Timestamp(s.start), new Timestamp(s.last), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(e => ms(e.ts))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              cur match {
                case Some(s) if ms(e.ts) - s.last <= gapSeconds * 1000 =>
                  cur = Some(SessionState(s.start, math.max(s.last, ms(e.ts)), s.n + 1))
                case Some(s) =>
                  closed += Session(user, new Timestamp(s.start), new Timestamp(s.last), s.n)
                  cur = Some(SessionState(ms(e.ts), ms(e.ts), 1))
                case None =>
                  cur = Some(SessionState(ms(e.ts), ms(e.ts), 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapSeconds * 1000)
            }
            closed.result().iterator
          }
      }
  }
}
