package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Snapshots

/** The content-addressed chunk store: an edited re-upload stores only its
  * novel chunks (boundaries re-synchronize), documents reconstruct exactly,
  * and replays no-op at both tables. */
class ChunkStoreIngestSpec extends SparkSpec {
  import spark.implicits._

  private def norm(s: String): String =
    s.trim.toLowerCase.split("\\s+").mkString(" ")

  test("dedup at chunk granularity; exact reconstruction; bucket-pruned reads") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")

    val body = (1 to 400).map(i => s"word$i").mkString(" ")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.startChunkStoreIngest(
      mem.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // batch 1: two docs sharing the same long body → shared chunks
      // stored ONCE; a short unique doc
      mem.addData(Seq((1L, body), (2L, body), (3L, "tiny unique doc")))
      q.processAllAvailable()
      val stored1 = Snapshots.read(spark, chunkT).count()
      val doc1Chunks = Snapshots.read(spark, manT)
        .filter($"doc_id" === 1L).count()
      val doc3Chunks = Snapshots.read(spark, manT)
        .filter($"doc_id" === 3L).count()
      // identical docs contribute no extra chunk rows
      assert(stored1 == doc1Chunks + doc3Chunks,
        s"stored $stored1, expected ${doc1Chunks + doc3Chunks}")
      assert(doc1Chunks > 5, "400 tokens should cut into many chunks")

      // batch 2: doc 4 = doc 1 with a small FRONT edit → boundaries
      // re-synchronize and only the chunks around the edit are novel
      mem.addData(Seq((4L, s"edited preamble $body")))
      q.processAllAvailable()
      val stored2 = Snapshots.read(spark, chunkT).count()
      val novel = stored2 - stored1
      assert(novel >= 1 && novel <= 3,
        s"front edit should store 1-3 novel chunks, stored $novel")

      // exact reconstruction, both full and pruned forms
      val all = StreamingOps.reconstruct(spark, manT, chunkT)
        .as[(Long, String)].collect().toMap
      assert(all(1L) == norm(body) && all(2L) == norm(body))
      assert(all(3L) == "tiny unique doc")
      assert(all(4L) == norm(s"edited preamble $body"))
      val pruned = StreamingOps.reconstruct(spark, manT, chunkT, Some(Seq(4L)))
        .as[(Long, String)].collect().toMap
      assert(pruned == Map(4L -> norm(s"edited preamble $body")))

      // RE-DELIVERY in a later batch (new batchId — txn correctly lets it
      // through): the duplicate manifest must not double the reconstruction
      mem.addData(Seq((3L, "tiny unique doc")))
      q.processAllAvailable()
      assert(Snapshots.read(spark, manT).filter($"doc_id" === 3L).count() == 2L)
      val re = StreamingOps.reconstruct(spark, manT, chunkT, Some(Seq(3L)))
        .as[(Long, String)].collect().toMap
      assert(re == Map(3L -> "tiny unique doc"), s"re-delivered doc corrupted: $re")
    } finally q.stop()

    // ERASURE with reference counting: dropping doc 1 must keep every
    // chunk doc 2 still references (deleting a shared blob would corrupt
    // an innocent document) and remove only what became unreferenced
    val preChunks = Snapshots.read(spark, chunkT).count()
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(1L))
    assert(Snapshots.read(spark, manT).filter($"doc_id" === 1L).isEmpty)
    // doc 1's body chunks are all shared with doc 2 → none may die; only a
    // chunk unique to doc 1 could go, and doc 1 == doc 2 so there is none
    assert(Snapshots.read(spark, chunkT).count() == preChunks)
    val after1 = StreamingOps.reconstruct(spark, manT, chunkT)
      .as[(Long, String)].collect().toMap
    assert(!after1.contains(1L) && after1(2L) == norm(body))
    // idempotent re-erase
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(1L))
    assert(Snapshots.read(spark, chunkT).count() == preChunks)

    // doc 4 (the edited re-upload) still references the body chunks, so
    // erasing doc 2 keeps them live and doc 4 reconstructs intact
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(2L))
    val after2 = StreamingOps.reconstruct(spark, manT, chunkT)
      .as[(Long, String)].collect().toMap
    assert(after2.keySet == Set(3L, 4L))
    assert(after2(4L) == norm(s"edited preamble $body"),
      "doc 4 must survive: its manifest still references the shared body chunks")

    // only once the LAST referencing doc goes do the body chunks orphan
    // and leave the live table; doc 3 is untouched throughout
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(4L))
    val liveText = Snapshots.read(spark, chunkT)
      .select($"ctext".as[String]).collect()
    assert(!liveText.exists(_.contains("word17")), "orphaned body chunk survives")
    val after4 = StreamingOps.reconstruct(spark, manT, chunkT)
      .as[(Long, String)].collect().toMap
    assert(after4 == Map(3L -> "tiny unique doc"))

    // physical completion: partition-granular vacuum leaves NO on-disk
    // parquet holding an erased chunk's text in either table
    for (t <- Seq(chunkT, manT)) Snapshots.vacuum(spark, t, retainLast = 1, minAgeMs = 0L)
    val onDisk = java.nio.file.Files.walk(java.nio.file.Paths.get(chunkT))
      .filter(p => p.toString.endsWith(".parquet")).toArray.map(_.toString)
    assert(onDisk.nonEmpty)
    val diskText = spark.read.parquet(onDisk: _*).select($"ctext".as[String]).collect()
    assert(!diskText.exists(_.contains("word17")),
      "erased chunk text survives on disk after vacuum")

    // replay no-op: a fresh query over the same data with the same appId
    // but a FRESH checkpoint re-delivers batch 0 — txn watermarks swallow it
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val vChunks = Snapshots.versions(spark, chunkT).size
    val rows = Snapshots.read(spark, manT).count()
    val q2 = StreamingOps.startChunkStoreIngest(
      mem2.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt2",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem2.addData(Seq((1L, body), (2L, body), (3L, "tiny unique doc")))
      q2.processAllAvailable()
      assert(Snapshots.read(spark, manT).count() == rows, "replayed manifest rows")
      assert(Snapshots.versions(spark, chunkT).size == vChunks, "replayed chunk commit")
    } finally q2.stop()
  }

  test("reconstruct of ids whose buckets hold nothing returns no row instead of failing the read") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.startChunkStoreIngest(
      mem.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(Seq((1L, "first stored doc"), (2L, "second stored doc")))
      q.processAllAvailable()
    } finally q.stop()
    def rec(ids: Seq[Long]) = StreamingOps.reconstruct(spark, manT, chunkT, Some(ids))
    // 65 shares doc 1's bucket (64 buckets) but is not stored
    assert(rec(Seq(1L, 65L)).as[(Long, String)].collect().toMap == Map(1L -> "first stored doc"))
    // bucket 35 holds nothing; an empty id list names no bucket at all
    for (ids <- Seq(Seq(99L), Nil)) {
      val df = rec(ids)
      assert(df.schema.map(f => f.name -> f.dataType.simpleString) ==
        Seq("doc_id" -> "bigint", "text" -> "string"))
      assert(df.isEmpty, s"reconstruct($ids)")
    }
    // an erased doc whose bucket emptied reads back as no row as well
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(2L))
    assert(!Snapshots.partitions(spark, manT).exists(_ == "dbucket=2"))
    assert(rec(Seq(2L)).isEmpty)
    assert(rec(Seq(1L, 2L)).as[(Long, String)].collect().toMap == Map(1L -> "first stored doc"))
  }

  test("compaction cadence: buckets collapse to one file each, sidecar re-stamps, dedup and reconstruct unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-compact").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val body = (1 to 300).map(i => s"cmpt$i").mkString(" ")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.startChunkStoreIngest(
      mem.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt",
      compactEvery = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      for (b <- 0 until 4) {
        mem.addData(Seq((b * 2L, s"batch$b " + body), (b * 2L + 1, s"solo$b text$b")))
        q.processAllAvailable()
      }
    } finally q.stop()
    // shared body chunks stored once despite the interleaved compactions
    val stored = Snapshots.read(spark, chunkT)
    assert(stored.count() == stored.select($"chunk_hash").distinct().count(),
      "compaction or probe loss produced duplicate chunk rows")
    // the sidecar tracks the latest (compacted) version — no rebuild needed
    val v = Snapshots.versions(spark, chunkT).last
    assert(graft.sinks.DigestBloom.read(spark, chunkT, v).isDefined,
      s"no sidecar at the compacted version $v")
    // post-compaction: each live bucket spec reads from ONE commit dir
    val parts = Snapshots.partitions(spark, chunkT)
    assert(parts.nonEmpty)
    // all documents reconstruct exactly through the compacted store
    val all = StreamingOps.reconstruct(spark, manT, chunkT)
      .as[(Long, String)].collect().toMap
    assert(all.size == 8)
    for (b <- 0 until 4) {
      assert(all(b * 2L) == norm(s"batch$b " + body), s"doc ${b * 2} corrupted")
      assert(all(b * 2L + 1) == s"solo$b text$b")
    }
  }

  test("OUT-OF-BAND maintenance racing the ingest: chain contiguous, dedup exact, no loss") {
    // §9.6: compactFragmented runs from an independent thread on an
    // aggressive cadence while the gate ingests — version collisions are
    // EXPECTED (the loop yields and retries; the gate re-derives via
    // commitRetryingRaces), and afterwards nothing may be torn: contiguous
    // manifest chains, the chunk-dedup invariant intact, every document
    // reconstructing exactly.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkoob").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.startChunkStoreIngest(
      mem.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val loop = StreamingOps.startMaintenanceLoop(spark, Seq(chunkT, manT),
      intervalMs = 50, maxBasesPerSpec = 2,
      onCompact = StreamingOps.chunkStoreMaintenanceRestamp(spark, chunkT))
    val nBatches = 8
    val perBatch = 15
    try {
      (0 until nBatches).foreach { b =>
        mem.addData((0 until perBatch).map { i =>
          val id = (b * perBatch + i).toLong
          (id, (1 to 120).map(t => s"w$id-$t").mkString(" "))
        })
        q.processAllAvailable()
      }
      q.stop()
      // ingest quiesced: the loop must now WIN a compaction (under live
      // ingest its CAS may lose every tick — that's the design: ingest
      // always wins, maintenance retries), so the >0 assertion below is
      // about the loop working at all, not about race luck
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (loop.compactions.get() == 0 && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally { q.stop(); loop.stop() }
    // contiguous version chains — no gaps, no torn manifests
    val vsC = Snapshots.versions(spark, chunkT)
    val vsM = Snapshots.versions(spark, manT)
    assert(vsC == (1L to vsC.last), s"chunk chain has gaps: $vsC")
    assert(vsM == (1L to vsM.last), s"manifest chain has gaps: $vsM")
    // the race scenario actually happened: the loop compacted live
    assert(loop.compactions.get() > 0,
      "maintenance loop never compacted — the spec exercised nothing")
    // dedup invariant survived: one stored row per distinct digest
    val chunks = Snapshots.read(spark, chunkT)
    assert(chunks.count() == chunks.select("chunk_hash").distinct().count())
    // no document lost or corrupted through the interleaving
    val all = StreamingOps.reconstruct(spark, manT, chunkT)
      .as[(Long, String)].collect().toMap
    assert(all.size == nBatches * perBatch, s"expected ${nBatches * perBatch} docs, got ${all.size}")
    val probe = 37L
    assert(all(probe) == norm((1 to 120).map(t => s"w$probe-$t").mkString(" ")))
  }

  test("erase completes the chunk sweep after a crash between its two commits") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-crash").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val body = (1 to 400).map(i => s"crash$i").mkString(" ")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.startChunkStoreIngest(
      mem.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(Seq((1L, body), (2L, "other text entirely")))
      q.processAllAvailable()
    } finally q.stop()

    // simulate the crash: replay EXACTLY chunkStoreErase's first commit
    // (manifest replace dropping doc 1), then "die" before the chunk sweep
    val dbks = Set("1") // doc 1's dbucket at the default 64 buckets
    val replacedMan = Snapshots.partitions(spark, manT)
      .filter(sp => Snapshots.parseSpec(sp).get("dbucket").exists(dbks))
    Snapshots.commitPartitionReplace(
      Snapshots.read(spark, manT,
          partitionFilter = m => m.get("dbucket").exists(dbks))
        .filter(!$"doc_id".isin(1L)),
      manT, Seq("dbucket"), replacedMan)
    assert(Snapshots.read(spark, chunkT)
        .select($"ctext".as[String]).collect().exists(_.contains("crash17")),
      "precondition: doc 1's unique chunks still stored after the crashed run")

    // the RE-RUN sees no doc-1 manifest rows (its leg no-ops) but must
    // still complete the sweep — the dead set comes from the chunk table
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(1L))
    val live = Snapshots.read(spark, chunkT).select($"ctext".as[String]).collect()
    assert(!live.exists(_.contains("crash17")),
      "crashed erase never completed the chunk sweep — erased text still live")
    // the innocent document is untouched and still reconstructs
    val after = StreamingOps.reconstruct(spark, manT, chunkT)
      .as[(Long, String)].collect().toMap
    assert(after == Map(2L -> "other text entirely"))
  }

  test("saturated digest bloom rebuilds at corpus-proportional size; trust and dedup semantics unchanged") {
    // VERDICT r16 item 4: the sidecar's size was fixed at the default —
    // at 100 TB a saturated bloom degrades to ~100% false positives,
    // never incorrect (FPs only cost extra bucket reads) but the probe
    // quietly stops pruning. The committer now refuses to carry a
    // > 50%-full sidecar forward and rebuilds at 20-40 bits per stored
    // digest (sized for twice the store). This spec stamps a deliberately
    // tiny SATURATED sidecar (valid: it contains every stored digest —
    // no false negatives) and asserts the next commit rebuilds it bigger,
    // un-saturated, with dedup exactness untouched.
    import graft.sinks.DigestBloom
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-bloom").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val body = (1 to 400).map(i => s"bloom$i").mkString(" ")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.startChunkStoreIngest(
      mem.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(Seq((1L, body)))
      q.processAllAvailable()
      val v1 = Snapshots.versions(spark, chunkT).last
      // replace v1's sidecar with a 64-bit bloom holding EVERY stored
      // digest: trusted (version-exact), correct (no false negatives),
      // and hopelessly saturated — the shape a fixed-size sidecar reaches
      // as the corpus grows past its capacity
      val tiny = DigestBloom.build(
        Snapshots.read(spark, chunkT, Some(v1)).select($"chunk_hash"),
        "chunk_hash", bits = 64)
      assert(DigestBloom.fillRatio(tiny) > 0.5, "precondition: tiny sidecar saturated")
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(f"$chunkT/_bloom/v-$v1%05d"))
      DigestBloom.write(spark, chunkT, v1, tiny)
      assert(DigestBloom.read(spark, chunkT, v1).get.bitSize == 64)

      // next batch: novel content commits, and the committer must REBUILD
      // (not carry) the sidecar — sized from the store's actual count
      mem.addData(Seq((2L, "wholly new second document text")))
      q.processAllAvailable()
      val v2 = Snapshots.versions(spark, chunkT).last
      val rebuilt = DigestBloom.read(spark, chunkT, v2)
      assert(rebuilt.isDefined, "rebuild must stamp the new version")
      val stored = Snapshots.read(spark, chunkT)
        .select($"chunk_hash".as[String]).collect()
      // regrown for twice the store: at least 20 bits per stored digest,
      // so it starts at most ~30% full (k = 7)
      assert(rebuilt.get.bitSize >= 20L * stored.length,
        s"rebuilt sidecar still tiny: ${rebuilt.get.bitSize} bits for ${stored.length} digests")
      val fill = DigestBloom.fillRatio(rebuilt.get)
      assert(fill < 0.3, f"rebuilt sidecar fill $fill%.3f")
      assert(fill < 0.5, "rebuilt sidecar still saturated")
      // no false negatives across the transition: every stored digest hits
      assert(stored.forall(rebuilt.get.mightContainString), "rebuild lost digests")

      // dedup exactness unchanged: re-delivering doc 1's body as a new doc
      // stores ZERO new chunks (probe + anti-join still correct)
      val preCount = Snapshots.read(spark, chunkT).count()
      mem.addData(Seq((3L, body)))
      q.processAllAvailable()
      assert(Snapshots.read(spark, chunkT).count() == preCount,
        "dedup broke after the sidecar rebuild")
    } finally q.stop()
  }

  test("digest bloom sidecar stays sized to the store and trusted; _bloom/ keeps only the latest two") {
    // The sidecar grows geometrically with the store instead of sitting
    // at a fixed size, and each publish deletes the sidecars older than
    // its predecessor, so `_bloom/` is bounded by the live store, not by
    // the commit count. Four buckets make every batch touch every bucket,
    // so compactEvery = 2 really compacts and the in-band re-stamp runs.
    import graft.sinks.DigestBloom
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-sidecars").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val shared = (1 to 200).map(i => s"shared$i").mkString(" ")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.startChunkStoreIngest(
      mem.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt",
      buckets = 4, compactEvery = 2,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val nBatches = 10
    val widths = scala.collection.mutable.ArrayBuffer.empty[Int]
    try {
      for (b <- 0 until nBatches) {
        // a growing novel document beside a re-delivered shared one
        val fresh = (1 to 100 * (b + 1)).map(i => s"b${b}w$i").mkString(" ")
        mem.addData(Seq((2L * b, fresh), (2L * b + 1, shared)))
        q.processAllAvailable()
        val v = Snapshots.versions(spark, chunkT).last
        val sidecar = DigestBloom.read(spark, chunkT, v)
        assert(sidecar.isDefined, s"batch $b: no trusted sidecar at the latest version $v")
        val stored = Snapshots.read(spark, chunkT).select($"chunk_hash".as[String]).collect()
        assert(stored.forall(sidecar.get.mightContainString), s"batch $b: sidecar misses a stored digest")
        val bits = sidecar.get.bitSize
        assert(bits <= math.max(64L, 40L * stored.length),
          s"batch $b: $bits bits for ${stored.length} stored digests")
        widths += (bits / 64).toInt
      }
    } finally q.stop()
    val vs = Snapshots.versions(spark, chunkT)
    assert(vs.size > nBatches, s"no compaction ran in ${vs.size} versions")
    assert(widths.distinct.size > 1, s"the sidecar never regrew: ${widths.mkString(",")} words")
    val names = new java.io.File(s"$chunkT/_bloom").list().toSeq.sorted
    val published = names.filter(_.matches("v-\\d+"))
    assert(published.size <= 2 && published.last == f"v-${vs.last}%05d",
      s"_bloom/ holds ${names.mkString(",")} at version ${vs.last}")
    assert(names.filterNot(published.contains).toSet == published.map(p => s".$p.crc").toSet,
      s"_bloom/ holds more than the published sidecars' checksums: ${names.mkString(",")}")
    val docs = StreamingOps.reconstruct(spark, manT, chunkT).as[(Long, String)].collect().toMap
    assert(docs.size == 2 * nBatches && docs(1L) == norm(shared))
  }

  test("writer lease enforces erase-vs-live-ingest exclusion: refusal is loud, retry after release is clean") {
    // VERDICT r16 item 1: the erase/ingest exclusion was a DOC contract
    // ("may race the maintenance loop, NOT a live ingest"); the same
    // round's write-skew find proved prose contracts get violated
    // silently. Now both sides take the manifest table's writer lease —
    // this spec pins the refusal (loud, holder named, nothing erased),
    // the clean retry after release, and the wait-for-release liveness.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-lease").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val body = (1 to 400).map(i => s"lease$i").mkString(" ")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.startChunkStoreIngest(
      mem.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(Seq((1L, body), (2L, "second doc")))
      q.processAllAvailable()
    } finally q.stop()

    // simulate an ingest batch IN FLIGHT between its two commits: the gate
    // holds the manifest table's lease for the whole critical section
    Snapshots.acquireLease(spark, manT, "in-flight-ingest-batch")
    // an impatient erase REFUSES loudly, naming the holder...
    val e = intercept[java.io.IOException] {
      StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(1L), leaseWaitMs = 0L)
    }
    assert(e.getMessage.contains("in-flight-ingest-batch"), e.getMessage)
    // ...and NOTHING was erased (no partial manifest replace, no sweep)
    assert(Snapshots.read(spark, manT).filter($"doc_id" === 1L).count() > 0)
    assert(Snapshots.read(spark, chunkT)
      .select($"ctext".as[String]).collect().exists(_.contains("lease17")))
    // a bare recovery sweep refuses under the same lease
    intercept[java.io.IOException] {
      StreamingOps.sweepOrphanChunks(spark, manT, chunkT, leaseWaitMs = 0L)
    }

    // liveness: a PATIENT erase waits for the batch to close, then runs
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val eraser = Future {
      StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(1L), leaseWaitMs = 30000L)
    }
    Thread.sleep(1000)
    Snapshots.releaseLease(spark, manT, "in-flight-ingest-batch")
    Await.result(eraser, 2.minutes)
    assert(Snapshots.read(spark, manT).filter($"doc_id" === 1L).isEmpty)
    assert(!Snapshots.read(spark, chunkT)
      .select($"ctext".as[String]).collect().exists(_.contains("lease17")),
      "erase after release must complete the sweep")
    // the innocent doc is intact, and the store is erase-idempotent with
    // the lease in the path
    val after = StreamingOps.reconstruct(spark, manT, chunkT)
      .as[(Long, String)].collect().toMap
    assert(after == Map(2L -> "second doc"))
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(1L))
  }

  test("erase with a MISMATCHED bucket count still erases: the coverage check falls back to the full scan, never silent retention") {
    // ADVICE r16 (low): cbucket/dbucket derive arithmetically from the
    // caller's `buckets`; a caller passing a value differing from the
    // ingest's would prune to partitions that hold nothing of the erased
    // docs, and the pre-fix code silently no-op'd — erased text RETAINED
    // with no error, on an erasure API. The coverage check (every
    // requested doc / candidate digest must be FOUND where the derivation
    // says it lives) now detects the broken premise and re-runs bucket-
    // agnostically.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-mb").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val body = (1 to 400).map(i => s"mismatch$i").mkString(" ")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    // ingest at the DEFAULT 64 buckets
    val q = StreamingOps.startChunkStoreIngest(
      mem.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // doc 70 lives in dbucket 6 at 64 buckets but derives dbucket 0 at
      // the mismatched 7 — the pruned manifest read misses it entirely
      mem.addData(Seq((70L, body), (2L, "innocent second doc")))
      q.processAllAvailable()
    } finally q.stop()

    // erase with the WRONG bucket count
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(70L), buckets = 7)
    assert(Snapshots.read(spark, manT).filter($"doc_id" === 70L).isEmpty,
      "mismatched-bucket erase silently retained the doc's manifest rows")
    val live = Snapshots.read(spark, chunkT).select($"ctext".as[String]).collect()
    assert(!live.exists(_.contains("mismatch17")),
      "mismatched-bucket erase silently retained the doc's chunk text")
    // the innocent doc survives intact
    val after = StreamingOps.reconstruct(spark, manT, chunkT)
      .as[(Long, String)].collect().toMap
    assert(after == Map(2L -> "innocent second doc"))
    // and a MATCHED-bucket erase of the remaining doc still works (the
    // normal pruned path is untouched by the fallback)
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(2L))
    assert(Snapshots.read(spark, chunkT).isEmpty)
  }

  test("erasing the LAST documents leaves both tables empty-but-readable; erase and sweep stay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-full").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val body = (1 to 400).map(i => s"full$i").mkString(" ")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = StreamingOps.startChunkStoreIngest(
      mem.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem.addData(Seq((1L, body), (2L, "second doc text")))
      q.processAllAvailable()
    } finally q.stop()

    // erase EVERY referenced document: the manifest replace removes its
    // last populated specs (empty manifest version) and the sweep then
    // orphans every stored chunk — this used to crash on the read of a
    // versioned-but-empty snapshot, stranding the erased text
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(1L, 2L))
    assert(Snapshots.read(spark, manT).isEmpty, "manifest rows survive full erase")
    assert(Snapshots.read(spark, chunkT).isEmpty, "chunk rows survive full erase")

    // idempotent re-runs on the fully-erased tables: the documented
    // recovery path must be a no-op, not a throw
    StreamingOps.chunkStoreErase(spark, manT, chunkT, Seq(1L))
    StreamingOps.sweepOrphanChunks(spark, manT, chunkT)
    assert(Snapshots.read(spark, chunkT).isEmpty)

    // the store keeps working after a full erase: new ingest re-populates
    // (a NEW writer appId — the first writer's txn watermark survives the
    // erase and would rightly swallow a fresh checkpoint's batch 0)
    val mem2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q2 = StreamingOps.startChunkStoreIngest(
      mem2.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt2",
      appId = "graft-chunkstore-ingest-2",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      mem2.addData(Seq((9L, "fresh after erase")))
      q2.processAllAvailable()
    } finally q2.stop()
    val back = StreamingOps.reconstruct(spark, manT, chunkT)
      .as[(Long, String)].collect().toMap
    assert(back == Map(9L -> "fresh after erase"))
  }

  /** A gate over a fresh memory stream; the caller stops the query. */
  private def startGate(chunkT: String, manT: String, ckpt: String)
      : (org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)],
        org.apache.spark.sql.streaming.StreamingQuery) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    (mem, StreamingOps.startChunkStoreIngest(mem.toDF().toDF("doc_id", "text"), chunkT, manT,
      ckpt, trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)))
  }

  private def words(id: Long, n: Int): String = (1 to n).map(t => s"d$id-w$t").mkString(" ")

  test("each batch writes at most one file per touched spec in both tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-files").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    // the newest commit dir's parquet files, counted per spec dir
    def filesPerSpec(table: String): Map[String, Int] = {
      val v = Snapshots.versions(spark, table).last
      val commit = new java.io.File(s"$table/data").listFiles()
        .filter(_.getName.startsWith(f"c-$v%05d-")).head
      commit.listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    val (mem, q) = startGate(chunkT, manT, s"$dir/ckpt")
    try {
      for (b <- 0 until 2) {
        // 200 documents over 64 doc buckets: the chunker's round-robin
        // fan-out spreads a bucket's documents over every task; the second
        // batch re-delivers a tenth of the first
        val ids = if (b == 0) 0L until 200L else (200L until 380L) ++ (0L until 200L by 10)
        mem.addData(ids.map(id => id -> words(id, 40)))
        q.processAllAvailable()
        for (t <- Seq(chunkT, manT)) {
          val per = filesPerSpec(t)
          assert(per.size > 1, s"batch $b: $t touched ${per.size} specs")
          assert(per.values.forall(_ == 1),
            s"batch $b: $t wrote more than one file in ${per.filter(_._2 != 1)}")
        }
      }
    } finally q.stop()
  }

  test("novel check: an all-new batch under a trusted sidecar opens no chunk file; twins and re-deliveries store each novel digest once") {
    import graft.sinks.{CountingFs, DigestBloom}
    spark.sparkContext.hadoopConfiguration.set("fs.cfs.impl", classOf[CountingFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-novel").toString
    val (chunkT, manT) = (s"cfs://$dir/chunks", s"$dir/manifest")
    val (mem, q) = startGate(chunkT, manT, s"$dir/ckpt")
    val sent = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def deliver(docs: Seq[(Long, String)]): Unit = {
      mem.addData(docs)
      q.processAllAvailable()
      sent ++= docs
    }
    def stored(): Array[String] =
      Snapshots.read(spark, chunkT).select($"chunk_hash".as[String]).collect()
    try {
      deliver((1L to 10L).map(i => i -> words(i, 80)))
      val v1 = Snapshots.versions(spark, chunkT).last
      assert(DigestBloom.read(spark, chunkT, v1).isDefined, "precondition: trusted sidecar")

      // every digest of this batch is new and none is bloom-positive, so
      // the check decides on the driver without reading the chunk table
      CountingFs.opens.set(0)
      deliver((11L to 20L).map(i => i -> words(i, 80)))
      assert(CountingFs.opens.get() == 0,
        s"an all-new batch opened ${CountingFs.opens.get()} chunk-table data files")
      assert(Snapshots.versions(spark, chunkT).last == v1 + 1, "the all-new batch stored nothing")

      // mixed: two re-deliveries, identical twins 21 and 22, and doc 23,
      // which repeats doc 21 and then a body of its own
      val before = stored().toSet
      deliver(Seq(3L -> words(3, 80), 12L -> words(12, 80), 21L -> words(21, 80),
        22L -> words(21, 80), 23L -> s"${words(21, 80)} ${words(23, 80)}"))
      val after = stored()
      assert(after.length == after.distinct.length,
        s"${after.length - after.distinct.length} digests stored twice")
      val expected = graft.ext.ContentChunker.chunks(sent.toSeq.toDF("doc_id", "text"), "doc_id", "text")
        .select(md5(array_join($"ctoks", " ")).as[String]).distinct().collect().toSet
      assert(after.toSet == expected, "the stored digests are not the delivered documents' digests")
      assert(after.toSet.diff(before).nonEmpty, "the mixed batch stored no novel digest")
    } finally q.stop()
    val docs = StreamingOps.reconstruct(spark, manT, chunkT).as[(Long, String)].collect().toMap
    assert(docs(22L) == norm(words(21, 80)) && docs(23L) == norm(s"${words(21, 80)} ${words(23, 80)}"))
  }

  test("reconstruct of one document reads only its digests' chunk buckets, in two Spark jobs") {
    import graft.sinks.CountingFs
    spark.sparkContext.hadoopConfiguration.set("fs.cfs.impl", classOf[CountingFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-rec").toString
    val (chunkT, manT) = (s"cfs://$dir/chunks", s"$dir/manifest")
    val (mem, q) = startGate(chunkT, manT, s"$dir/ckpt")
    try {
      mem.addData((1L to 30L).map(i => i -> words(i, 60)))
      q.processAllAvailable()
    } finally q.stop()
    val own = Snapshots.read(spark, manT).filter($"doc_id" === 7L)
      .select(concat(lit("cbucket="), pmod(xxhash64($"chunk_hash"), lit(64))).as[String])
      .collect().toSet
    assert(own.nonEmpty && own.size < Snapshots.partitions(spark, chunkT).size,
      s"precondition: doc 7's ${own.size} buckets are a strict subset of the store's")
    CountingFs.opened.clear()
    val (docs, jobs) = jobsDuring(
      StreamingOps.reconstruct(spark, manT, chunkT, Some(Seq(7L))).as[(Long, String)].collect())
    assert(docs.toSeq == Seq(7L -> norm(words(7, 60))))
    val opened = scala.jdk.CollectionConverters.IteratorHasAsScala(CountingFs.opened.iterator)
      .asScala.toSeq
    assert(opened.nonEmpty)
    val outside = opened.filterNot(p => own.exists(b => p.contains(s"/$b/"))).distinct
    assert(outside.isEmpty, s"opened ${outside.size} chunk files outside doc 7's buckets " +
      s"${own.mkString(", ")}, e.g. ${outside.take(3).mkString(", ")}")
    assert(jobs == 2, s"reconstruct + collect ran $jobs Spark jobs")
  }

  test("reconstruct of a document whose chunk is missing fails loudly, naming the doc and digest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-hole").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val (mem, q) = startGate(chunkT, manT, s"$dir/ckpt")
    try {
      mem.addData((1L to 5L).map(i => i -> words(i, 60)))
      q.processAllAvailable()
    } finally q.stop()
    val (hash, bucket) = Snapshots.read(spark, manT).filter($"doc_id" === 3L && $"chunk_idx" === 1)
      .select($"chunk_hash", pmod(xxhash64($"chunk_hash"), lit(64)).cast("string"))
      .as[(String, String)].head()
    // replace the digest's bucket with its other rows only
    Snapshots.commitPartitionReplace(
      Snapshots.read(spark, chunkT, None, _("cbucket") == bucket).filter($"chunk_hash" =!= hash),
      chunkT, Seq("cbucket"), Seq(s"cbucket=$bucket"))
    val e = intercept[IllegalStateException](
      StreamingOps.reconstruct(spark, manT, chunkT, Some(Seq(3L))).collect())
    assert(e.getMessage.contains("document 3") && e.getMessage.contains(hash), e.getMessage)
    // a document whose chunks are all stored still reconstructs
    val others = (1L to 5L).filterNot(i => Snapshots.read(spark, manT)
      .filter($"doc_id" === i && $"chunk_hash" === hash).count() > 0)
    assert(StreamingOps.reconstruct(spark, manT, chunkT, Some(others)).as[(Long, String)]
      .collect().toMap == others.map(i => i -> norm(words(i, 60))).toMap)
  }

  test("a steady-state gate batch runs a pinned number of Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstore-jobs").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val (mem, q) = startGate(chunkT, manT, s"$dir/ckpt")
    try {
      mem.addData((1L to 20L).map(i => i -> words(i, 60)))
      q.processAllAvailable()
      // trusted sidecar, a re-delivered document (its digests are bloom
      // hits the probed read confirms) and new ones; no compaction
      val (_, jobs) = allJobsDuring {
        mem.addData((3L -> words(3, 60)) +: (21L to 30L).map(i => i -> words(i, 60)))
        q.processAllAvailable()
      }
      assert(jobs == 9, s"$jobs Spark jobs in one steady-state batch")
    } finally q.stop()
  }
}
