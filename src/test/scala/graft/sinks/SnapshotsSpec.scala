package graft.sinks

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-snap").toString + "/t"

  /** Three appends of 40 `g` specs each: a latest read names 120 leaf
    * dirs, well past Spark's 32-dir parallel-listing threshold. */
  private def fortySpecsThreeCommits(t: String): Unit = (0 until 3).foreach { c =>
    Snapshots.commitPartitioned(spark.range(c * 400, (c + 1) * 400)
      .selectExpr("id", "CAST(id * 3 AS STRING) AS v", "CAST(id % 40 AS INT) AS g")
      .coalesce(1), t, Seq("g"))
  }

  test("append commits accumulate; every version stays readable (time travel)") {
    val t = tmp()
    val v1 = Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), t)
    val v2 = Snapshots.commit(Seq((3, "c")).toDF("k", "v"), t)
    assert((v1, v2) == (1L, 2L))
    assert(Snapshots.read(spark, t).count() == 3)
    assert(Snapshots.read(spark, t, Some(1L)).count() == 2) // time travel
    assert(Snapshots.versions(spark, t) == Seq(1L, 2L))
  }

  test("overwrite commit replaces the snapshot, prior version unchanged") {
    val t = tmp()
    Snapshots.commit(Seq((1, "old")).toDF("k", "v"), t)
    Snapshots.commit(Seq((9, "new"), (10, "new2")).toDF("k", "v"), t, SaveMode.Overwrite)
    assert(Snapshots.read(spark, t).select("v").as[String].collect().toSet == Set("new", "new2"))
    assert(Snapshots.read(spark, t, Some(1L)).select("v").as[String].head() == "old")
  }

  test("vacuum drops unreferenced data dirs but keeps retained versions intact") {
    val t = tmp()
    Snapshots.commit(Seq((1, "x")).toDF("k", "v"), t)
    Snapshots.commit(Seq((2, "y")).toDF("k", "v"), t, SaveMode.Overwrite)
    Snapshots.commit(Seq((3, "z")).toDF("k", "v"), t)
    // default grace window: a just-written dir is NOT vacuumable even when
    // unreferenced (it may belong to a concurrent commit that hasn't
    // published its manifest yet)
    Snapshots.vacuum(spark, t, retainLast = 2)
    assert(new java.io.File(s"$t/data").listFiles().length == 3)
    // with the window waived (no concurrent writers), orphans drop
    Snapshots.vacuum(spark, t, retainLast = 2, minAgeMs = 0L)
    assert(Snapshots.versions(spark, t) == Seq(2L, 3L))
    assert(Snapshots.read(spark, t).select("k").as[Int].collect().toSet == Set(2, 3))
    // v1's orphaned data dir is gone
    val dataDirs = new java.io.File(s"$t/data").listFiles().map(_.getName)
    assert(dataDirs.length == 2)
  }

  test("compact publishes a new version; pinned old versions still read") {
    val t = tmp()
    (1 to 4).foreach(i => Snapshots.commit(
      spark.range(200).select(($"id" + i * 1000).as("k")).repartition(4), t))
    val before = Snapshots.read(spark, t)
    assert(before.inputFiles.length >= 8) // many small files across commits
    val v = Snapshots.compact(spark, t, targetFileRows = 1000000L)
    val after = Snapshots.read(spark, t)
    assert(after.inputFiles.length == 1)
    assert(after.count() == 800)
    // time travel to a pre-compaction version still works
    assert(Snapshots.read(spark, t, Some(v - 1)).count() == 800)
  }

  test("partitioned: dynamic overwrite replaces only touched partitions") {
    val t = tmp()
    val day1 = Seq(("2025-01-01", 1, "a"), ("2025-01-01", 2, "b"),
      ("2025-01-02", 3, "c")).toDF("dt", "k", "v")
    Snapshots.commitPartitioned(day1, t, Seq("dt"))
    assert(Snapshots.partitions(spark, t) == Seq("dt=2025-01-01", "dt=2025-01-02"))
    // dynamic overwrite of ONLY dt=2025-01-02
    val fix = Seq(("2025-01-02", 9, "fixed")).toDF("dt", "k", "v")
    Snapshots.commitPartitioned(fix, t, Seq("dt"), SaveMode.Overwrite)
    val now = Snapshots.read(spark, t)
    assert(now.count() == 3) // 2 surviving day-1 rows + 1 replacement
    assert(now.filter($"dt" === "2025-01-02").select("v").as[String].collect().toSeq == Seq("fixed"))
    assert(now.filter($"dt" === "2025-01-01").count() == 2) // untouched
    // time travel to pre-fix still shows the original day-2 row
    assert(Snapshots.read(spark, t, Some(1L))
      .filter($"dt" === "2025-01-02").select("v").as[String].collect().toSeq == Seq("c"))
  }

  test("partitioned: append accumulates within a partition; pruned read scans only matching dirs") {
    val t = tmp()
    Snapshots.commitPartitioned(
      Seq(("2025-01-01", 1), ("2025-01-02", 2)).toDF("dt", "k"), t, Seq("dt"))
    Snapshots.commitPartitioned(
      Seq(("2025-01-01", 10)).toDF("dt", "k"), t, Seq("dt"))
    val all = Snapshots.read(spark, t)
    assert(all.count() == 3)
    val pruned = Snapshots.read(spark, t, None, p => p("dt") == "2025-01-01")
    assert(pruned.select("k").as[Int].collect().toSet == Set(1, 10))
    // the prune happened at the MANIFEST, before file I/O: every input file
    // sits under a dt=2025-01-01 path
    assert(pruned.inputFiles.nonEmpty && pruned.inputFiles.forall(_.contains("dt=2025-01-01")))
  }

  test("partitioned: compact rewrites each partition to one file, history intact") {
    val t = tmp()
    (1 to 3).foreach { i =>
      Snapshots.commitPartitioned(
        Seq(("a", i), ("b", i * 100)).toDF("g", "k").repartition(2), t, Seq("g"))
    }
    val before = Snapshots.read(spark, t)
    assert(before.inputFiles.length > 2)
    val v = Snapshots.compact(spark, t)
    val after = Snapshots.read(spark, t)
    assert(after.count() == 6 && after.inputFiles.length == 2) // one per partition
    assert(Snapshots.partitions(spark, t) == Seq("g=a", "g=b"))
    assert(Snapshots.read(spark, t, Some(v - 1)).count() == 6)
    // vacuum drops the pre-compaction small files once out of retention
    Snapshots.vacuum(spark, t, retainLast = 1, minAgeMs = 0L)
    assert(Snapshots.read(spark, t).count() == 6)
  }

  test("compactFragmented rewrites only over-threshold partitions; untouched specs byte-identical") {
    val t = tmp()
    // spec g=hot is touched by 6 commits (fragmented); g=cold by one
    Snapshots.commitPartitioned(
      Seq(("cold", 0), ("hot", -1)).toDF("g", "k"), t, Seq("g"))
    (1 to 5).foreach { i =>
      Snapshots.commitPartitioned(Seq(("hot", i)).toDF("g", "k"), t, Seq("g"))
    }
    def bases(spec: String): Seq[String] = {
      // commit base dirs referenced for `spec`, via the files actually read
      Snapshots.read(spark, t, None, m => m("g") == spec.stripPrefix("g="))
        .inputFiles.map(f => f.substring(0, f.indexOf("/g="))).distinct.toSeq
    }
    val coldFilesBefore = Snapshots.read(spark, t, None, m => m("g") == "cold")
      .inputFiles.sorted.toSeq
    val coldBytesBefore = coldFilesBefore.map(f =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        new java.net.URI(f))).toSeq)
    assert(bases("g=hot").size == 6)

    val vBefore = Snapshots.versions(spark, t).last
    val v = Snapshots.compactFragmented(spark, t, maxBasesPerSpec = 4)
    assert(v == Some(vBefore + 1), "fragmented spec present — must commit")
    // hot collapsed to one commit dir / one file; cold untouched
    assert(bases("g=hot").size == 1)
    val coldFilesAfter = Snapshots.read(spark, t, None, m => m("g") == "cold")
      .inputFiles.sorted.toSeq
    assert(coldFilesAfter == coldFilesBefore,
      "untouched spec must keep its exact manifest file references")
    val coldBytesAfter = coldFilesAfter.map(f =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        new java.net.URI(f))).toSeq)
    assert(coldBytesAfter == coldBytesBefore, "untouched spec files rewritten")
    // data identical through the rewrite
    assert(Snapshots.read(spark, t).select("k").as[Int].collect().sorted.toSeq ==
      Seq(-1, 0, 1, 2, 3, 4, 5))
    // nothing fragmented anymore: the next call is a NO-OP — no commit
    val vsCompacted = Snapshots.versions(spark, t)
    assert(Snapshots.compactFragmented(spark, t, maxBasesPerSpec = 4).isEmpty)
    assert(Snapshots.versions(spark, t) == vsCompacted)
    assert(vsCompacted.last == vBefore + 1)

    // a fully-erased table: both compaction flavors no-op instead of
    // committing an empty UNPARTITIONED version (which would flip the
    // table's flavor and refuse future commitPartitioned calls)
    val e = tmp()
    Snapshots.commitPartitioned(Seq(("x", 1)).toDF("g", "k"), e, Seq("g"))
    Snapshots.commitPartitionReplace(Seq.empty[(String, Int)].toDF("g", "k"),
      e, Seq("g"), Seq("g=x"))
    val evs = Snapshots.versions(spark, e)
    val ev = evs.last
    assert(Snapshots.compact(spark, e) == ev)
    assert(Snapshots.compactFragmented(spark, e).isEmpty)
    assert(Snapshots.versions(spark, e) == evs)
    Snapshots.commitPartitioned(Seq(("y", 2)).toDF("g", "k"), e, Seq("g"))
    assert(Snapshots.read(spark, e).count() == 1)

    // unpartitioned tier: all-or-nothing via dirs count
    val u = tmp()
    (1 to 3).foreach(i => Snapshots.commit(Seq((i, s"v$i")).toDF("k", "v"), u))
    val uvs = Snapshots.versions(spark, u)
    assert(Snapshots.compactFragmented(spark, u, maxBasesPerSpec = 4).isEmpty) // 3 <= 4
    assert(Snapshots.versions(spark, u) == uvs)
    (4 to 6).foreach(i => Snapshots.commit(Seq((i, s"v$i")).toDF("k", "v"), u))
    val uv2 = Snapshots.compactFragmented(spark, u, maxBasesPerSpec = 4)
    assert(uv2 == Some(Snapshots.versions(spark, u).last))
    assert(Snapshots.read(spark, u).count() == 6)
    assert(Snapshots.read(spark, u).inputFiles.length == 1)
  }

  test("compactFragmented resolves the manifest once to decide and once to commit") {
    spark.sparkContext.hadoopConfiguration.set("fs.cfs.impl", classOf[CountingFs].getName)
    val t = "cfs://" + tmp()
    Snapshots.commitPartitioned(Seq(("cold", 0)).toDF("g", "k"), t, Seq("g"))
    (1 to 3).foreach(i => Snapshots.commitPartitioned(Seq(("hot", i)).toDF("g", "k"), t, Seq("g")))
    // (result, `_manifests` LISTs, manifest opens) of one call
    def manifestIo[T](body: => T): (T, Int, Int) = {
      CountingFs.manifestLists.set(0)
      CountingFs.manifestOpens.set(0)
      val out = body
      (out, CountingFs.manifestLists.get(), CountingFs.manifestOpens.get())
    }
    // a compacting call: one LIST + open to decide and pin the rewrite's
    // input, one more of each for the commit's base check and prior manifest
    val (v, lists, opens) = manifestIo(Snapshots.compactFragmented(spark, t, maxBasesPerSpec = 2))
    assert(v == Some(5L))
    assert(lists == 2, s"compacting call: $lists _manifests LISTs")
    assert(opens <= 2, s"compacting call: $opens manifest opens")
    // a no-op call decides from one LIST and one open
    val (noop, noopLists, noopOpens) =
      manifestIo(Snapshots.compactFragmented(spark, t, maxBasesPerSpec = 2))
    assert(noop.isEmpty)
    assert((noopLists, noopOpens) == (1, 1), s"no-op call: $noopLists LISTs, $noopOpens opens")
    assert(Snapshots.versions(spark, t) == (1L to 5L))
    assert(Snapshots.read(spark, t).select("k").as[Int].collect().sorted.toSeq == Seq(0, 1, 2, 3))
  }

  test("concurrent writers: each version is won by exactly one publish; losers fail loudly, the chain stays consistent") {
    // the contract behind OUT-OF-BAND maintenance (§9.5): a gate append
    // and a compactFragmented job may interleave — publish is write-temp +
    // rename, so a version collision makes exactly one writer throw
    // 'commit race' BEFORE any manifest is replaced; nothing is torn and
    // the loser (a maintenance job or a replayed micro-batch) just retries
    val t = tmp()
    Snapshots.commitPartitioned(Seq(("a", 0), ("b", 0)).toDF("g", "k"), t, Seq("g"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val attempts = (1 to 6).map { i =>
      Future(
        try Right(Snapshots.commitPartitioned(
          Seq(("a", i)).toDF("g", "k"), t, Seq("g")))
        catch { case e: java.io.IOException => Left(e.getMessage) })
    }
    val results = Await.result(Future.sequence(attempts), 5.minutes)
    val won = results.collect { case Right(v) => v }
    val lost = results.collect { case Left(m) => m }
    assert(lost.forall(_.contains("commit race")), s"unexpected failures: $lost")
    // contiguous manifest chain: one version per successful publish, no gaps
    val vs = Snapshots.versions(spark, t)
    assert(vs == (1L to (1 + won.size)).toSeq, s"chain $vs vs ${won.size} wins")
    assert(won.toSet.size == won.size, "two writers claimed the same version")
    // every winner's row is present exactly once; no loser's row leaked in
    val ks = Snapshots.read(spark, t).select("k").as[Int].collect().sorted.toSeq
    assert(ks.count(_ == 0) == 2 && ks.size == 2 + won.size)
  }

  test("degraded (no-hard-link) publish: claim files arbitrate — two racing writers can never both win a version") {
    // ADVICE r16 (medium): the old degraded path was check-then-ATOMIC_MOVE,
    // and POSIX ATOMIC_MOVE REPLACES an existing destination — two writers
    // racing the same version could both "succeed", the second silently
    // replacing the first's manifest. The claim file (Files.createFile =
    // O_CREAT|O_EXCL) restores atomic arbitration without link(2). This
    // spec pins the degraded mode directly via the test hook.
    val t = tmp()
    val manifestDir = java.nio.file.Paths.get(s"$t/_manifests")
    java.nio.file.Files.createDirectories(manifestDir)
    Snapshots.setLinkSupportForTest(manifestDir, supported = false)
    try {
      Snapshots.commitPartitioned(Seq(("a", 0), ("b", 0)).toDF("g", "k"), t, Seq("g"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val attempts = (1 to 6).map { i =>
        Future(
          try Right(Snapshots.commitPartitioned(
            Seq(("a", i)).toDF("g", "k"), t, Seq("g")))
          catch { case e: java.io.IOException => Left(e.getMessage) })
      }
      val results = Await.result(Future.sequence(attempts), 5.minutes)
      val won = results.collect { case Right(v) => v }
      val lost = results.collect { case Left(m) => m }
      assert(lost.forall(_.contains("commit race")), s"unexpected failures: $lost")
      val vs = Snapshots.versions(spark, t)
      assert(vs == (1L to (1 + won.size)).toSeq, s"chain $vs vs ${won.size} wins")
      assert(won.toSet.size == won.size, "two writers claimed the same version")
      val ks = Snapshots.read(spark, t).select("k").as[Int].collect().sorted.toSeq
      assert(ks.count(_ == 0) == 2 && ks.size == 2 + won.size)
      // every published version left its claim sidecar — the persistent
      // arbiter that prevents the version from ever being "won" twice
      val claims = manifestDir.toFile.listFiles().map(_.getName)
        .filter(_.endsWith(".json.claim")).toSet
      assert(vs.forall(v => claims.contains(f"v$v%05d.json.claim")), s"claims: $claims")
      // vacuum drops the claim beside each pruned manifest
      Snapshots.vacuum(spark, t, retainLast = 1, minAgeMs = 0L)
      val claimsAfter = manifestDir.toFile.listFiles().map(_.getName)
        .filter(_.endsWith(".json.claim")).toSet
      assert(claimsAfter == Set(f"v${vs.last}%05d.json.claim"), s"after vacuum: $claimsAfter")
    } finally Snapshots.setLinkSupportForTest(manifestDir, supported = true)
  }

  test("baseVersion CAS: a rewrite whose base was superseded races loudly instead of dropping the interleaved commit") {
    // the WRITE-SKEW a version collision alone cannot catch (found live by
    // ChunkStoreIngestSpec's out-of-band test): a compaction resolves its
    // input at version B, an ingest lands B+1 while it rewrites, and an
    // unpinned replace would publish B+2 built from B-era data — silently
    // dropping the B+1 rows with every publish "succeeding"
    val t = tmp()
    Snapshots.commitPartitioned(Seq(("a", 1), ("a", 2)).toDF("g", "k"), t, Seq("g"))
    val base = Snapshots.versions(spark, t).last
    val rewrite = Snapshots.read(spark, t, Some(base)).filter($"k" =!= 2)
    // an ingest interleaves: appends k=3 to the same partition
    Snapshots.commitPartitioned(Seq(("a", 3)).toDF("g", "k"), t, Seq("g"))
    // the stale rewrite must RACE, not win
    val e = intercept[java.io.IOException] {
      Snapshots.commitPartitionReplace(rewrite, t, Seq("g"), Seq("g=a"),
        baseVersion = Some(base))
    }
    assert(e.getMessage.contains("commit race"))
    assert(Snapshots.read(spark, t).select("k").as[Int].collect().toSet ==
      Set(1, 2, 3), "interleaved commit must survive")
    // same CAS on the Overwrite flavors
    val e2 = intercept[java.io.IOException] {
      Snapshots.commitPartitioned(rewrite, t, Seq("g"), SaveMode.Overwrite,
        baseVersion = Some(base))
    }
    assert(e2.getMessage.contains("commit race"))
    // retry at the CURRENT base succeeds: re-derive, then replace
    val cur = Snapshots.versions(spark, t).last
    val fresh = Snapshots.read(spark, t, Some(cur)).filter($"k" =!= 2)
    Snapshots.commitPartitionReplace(fresh, t, Seq("g"), Seq("g=a"),
      baseVersion = Some(cur))
    assert(Snapshots.read(spark, t).select("k").as[Int].collect().toSet == Set(1, 3))
    // compactFragmented pins its own base: a quiescent compaction still works
    (1 to 5).foreach(i => Snapshots.commitPartitioned(
      Seq(("a", 100 + i)).toDF("g", "k"), t, Seq("g")))
    val v = Snapshots.compactFragmented(spark, t, maxBasesPerSpec = 2)
    assert(v == Some(Snapshots.versions(spark, t).last))
    assert(Snapshots.read(spark, t).select("k").as[Int].collect().toSet ==
      Set(1, 3, 101, 102, 103, 104, 105))
  }

  test("writer lease: exclusive, re-entrant by holder, expiry steals, contention fails loudly naming the holder") {
    val t = tmp()
    Snapshots.commit(Seq((1, "a")).toDF("k", "v"), t)
    // acquire + re-acquire by the same holder (a restarted gate with a
    // stable appId recovers instantly)
    Snapshots.acquireLease(spark, t, "gate-A", ttlMs = 60000L, waitMs = 0L)
    Snapshots.acquireLease(spark, t, "gate-A", ttlMs = 60000L, waitMs = 0L)
    // a second holder with no patience fails LOUDLY, naming the owner
    val e = intercept[java.io.IOException] {
      Snapshots.acquireLease(spark, t, "erase-B", ttlMs = 60000L, waitMs = 0L)
    }
    assert(e.getMessage.contains("gate-A") && e.getMessage.contains("writer lease"))
    // a patient second holder acquires as soon as the first releases
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val waiter = Future {
      Snapshots.acquireLease(spark, t, "erase-B", ttlMs = 60000L, waitMs = 30000L)
      System.nanoTime()
    }
    Thread.sleep(500)
    val tRelease = System.nanoTime()
    Snapshots.releaseLease(spark, t, "gate-A")
    val tAcquired = Await.result(waiter, 1.minute)
    assert(tAcquired >= tRelease, "waiter acquired before the release")
    // an EXPIRED lease is stolen (crashed holder's shadow is bounded by ttl)
    Snapshots.releaseLease(spark, t, "erase-B")
    Snapshots.acquireLease(spark, t, "crashed-C", ttlMs = 1L, waitMs = 0L)
    Thread.sleep(10)
    Snapshots.acquireLease(spark, t, "next-D", ttlMs = 60000L, waitMs = 0L)
    Snapshots.releaseLease(spark, t, "next-D")
    // releasing a lease one does not hold is a no-op, not a theft
    Snapshots.acquireLease(spark, t, "holder-E", ttlMs = 60000L, waitMs = 0L)
    Snapshots.releaseLease(spark, t, "someone-else")
    intercept[java.io.IOException] {
      Snapshots.acquireLease(spark, t, "F", ttlMs = 60000L, waitMs = 0L)
    }
    Snapshots.releaseLease(spark, t, "holder-E")
    // CONTENDED acquisition: N threads loop acquire→release; the lease is
    // held by at most one at a time (exclusivity under concurrency)
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    var maxInside = 0
    val workers = (1 to 4).map { i =>
      Future {
        (1 to 5).foreach { _ =>
          Snapshots.withTableLease(spark, t, s"w$i", ttlMs = 60000L, waitMs = 60000L) {
            val now = inside.incrementAndGet()
            synchronized { maxInside = math.max(maxInside, now) }
            Thread.sleep(20)
            inside.decrementAndGet()
          }
        }
      }
    }
    Await.result(Future.sequence(workers), 5.minutes)
    assert(maxInside == 1, s"lease admitted $maxInside holders at once")
    // the lease file never pollutes the version chain
    assert(Snapshots.versions(spark, t) == Seq(1L))

    // CRASH ORPHAN: a holder dying between createFile and the body write
    // leaves an EMPTY lease with no expiry — age-bounded steal (no
    // parseable expiry + old mtime) must recover it, else every writer
    // blocks forever on a file nobody owns
    Snapshots.releaseLease(spark, t, "w4") // whoever held last
    (1 to 4).foreach(i => Snapshots.releaseLease(spark, t, s"w$i"))
    val leaseFile = java.nio.file.Paths.get(s"$t/_manifests/_lease.json")
    java.nio.file.Files.createFile(leaseFile) // empty: crashed mid-claim
    java.nio.file.Files.setLastModifiedTime(leaseFile,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 120000L))
    Snapshots.acquireLease(spark, t, "recoverer", ttlMs = 60000L, waitMs = 5000L)
    Snapshots.releaseLease(spark, t, "recoverer")
    // a FRESH unwritten claim is NOT stolen (it is a live contender's
    // instant between create and write): acquisition times out loudly
    java.nio.file.Files.createFile(leaseFile)
    intercept[java.io.IOException] {
      Snapshots.acquireLease(spark, t, "impatient", ttlMs = 60000L, waitMs = 0L)
    }
    java.nio.file.Files.delete(leaseFile)
  }

  test("writer lease heartbeat: long holders are never stolen, release stops the beat, a detected steal fails the bracket loudly") {
    val t = tmp()
    Snapshots.commit(Seq((1, "a")).toDF("k", "v"), t)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // a critical section running 3x past the initial ttl: pre-heartbeat
    // (r17) a contender would steal the "expired" lease mid-body — the
    // exact 100TB erase/sweep hazard VERDICT r17 item 3 names
    val long = Future {
      Snapshots.withTableLease(spark, t, "long-runner", ttlMs = 1000L, waitMs = 0L) {
        Thread.sleep(3000)
        42
      }
    }
    Thread.sleep(1800) // well past the initial expiry
    val e = intercept[java.io.IOException] {
      Snapshots.acquireLease(spark, t, "thief", ttlMs = 60000L, waitMs = 0L)
    }
    assert(e.getMessage.contains("long-runner"),
      s"contender did not name the live renewed holder: ${e.getMessage}")
    assert(Await.result(long, 1.minute) == 42)
    // release stopped the heartbeat: the lease is gone, a new holder enters
    // immediately (a still-beating thread would re-create it)
    Snapshots.acquireLease(spark, t, "after", ttlMs = 60000L, waitMs = 5000L)
    Snapshots.releaseLease(spark, t, "after")
    Thread.sleep(800) // a surviving long-runner beat would resurface here
    Snapshots.acquireLease(spark, t, "after2", ttlMs = 60000L, waitMs = 0L)
    Snapshots.releaseLease(spark, t, "after2")
    // a DEAD heartbeat (bare acquire, no bracket — a crashed holder) still
    // falls to the ttl: the expiry-steal path is unchanged
    Snapshots.acquireLease(spark, t, "crashed", ttlMs = 100L, waitMs = 0L)
    Thread.sleep(250)
    Snapshots.acquireLease(spark, t, "sweeper", ttlMs = 60000L, waitMs = 0L)
    Snapshots.releaseLease(spark, t, "sweeper")
    // a steal the heartbeat DETECTS (here: simulated by a foreign overwrite
    // during heavy starvation) fails the bracket loudly instead of
    // returning a result whose exclusivity was void
    val leaseFile = java.nio.file.Paths.get(s"$t/_manifests/_lease.json")
    val stolen = intercept[java.io.IOException] {
      Snapshots.withTableLease(spark, t, "starved", ttlMs = 600L, waitMs = 0L) {
        java.nio.file.Files.writeString(leaseFile,
          s"""{"holder":"usurper","expiry":${System.currentTimeMillis() + 600000L}}""")
        Thread.sleep(1200) // several heartbeat periods — the loss is noticed
        "body-result"
      }
    }
    assert(stolen.getMessage.contains("starved") &&
      stolen.getMessage.contains("lost"), stolen.getMessage)
    // the usurper's lease was NOT clobbered by the loser's release
    val kept = new String(java.nio.file.Files.readAllBytes(leaseFile), "UTF-8")
    assert(kept.contains("usurper"), s"loser's release clobbered the thief: $kept")
    java.nio.file.Files.delete(leaseFile)
    // renewal DECLINES an already-expired own lease (starvation past the
    // ttl): renewing it could clobber a contender's legitimate steal
    // mid-flight — the bracket must fail loudly instead of resurrecting
    // the expired claim (simulated by rewriting the holder's own lease
    // with a past expiry while the body sleeps through a heartbeat)
    val expired = intercept[java.io.IOException] {
      Snapshots.withTableLease(spark, t, "gc-paused", ttlMs = 600L, waitMs = 0L) {
        java.nio.file.Files.writeString(leaseFile,
          s"""{"holder":"gc-paused","expiry":${System.currentTimeMillis() - 1L}}""")
        Thread.sleep(1200)
        "unreachable-result"
      }
    }
    assert(expired.getMessage.contains("gc-paused") &&
      expired.getMessage.contains("lost"), expired.getMessage)
  }

  test("heartbeat DEGRADES on a transient renewal failure and recovers; only a lapsed expiry turns degradation into loss") {
    // ADVICE r18: the r18 heartbeat set lost=true on ANY renewal
    // IOException, so a single filesystem blip spuriously failed a
    // multi-hour critical section that still held a valid, unexpired
    // lease. Now a failed read/write is DEGRADED while the last
    // successfully written expiry stands — the on-disk lease still
    // excludes contenders — and the next healthy beat resumes renewal.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.flaky.impl", classOf[FlakyLeaseFs].getName)
    val dir = Files.createTempDirectory("graft-flaky").toString
    val t = s"flaky://$dir/t"
    FlakyLeaseFs.failLeaseOpens.set(0)
    val out = Snapshots.withTableLease(spark, t, "steady",
      ttlMs = 3000L, waitMs = 0L) {
      FlakyLeaseFs.failLeaseOpens.set(1) // exactly one renewal read blips
      // hold the section until the blip is consumed AND a later healthy
      // beat has run (bounded: ~10 s worst case on a throttled host)
      val t0 = System.currentTimeMillis()
      while (FlakyLeaseFs.failLeaseOpens.get() > 0 &&
          System.currentTimeMillis() - t0 < 10000) Thread.sleep(100)
      Thread.sleep(1100) // one more period: a healthy renewal follows
      "ok"
    }
    assert(out == "ok", "a transient renewal blip must not fail the bracket")
    assert(FlakyLeaseFs.failLeaseOpens.get() == 0, "injected blip was consumed")

    // degradation that persists past the last written expiry IS a loss —
    // exclusivity stops being provable, and the bracket says so by name
    val t2 = s"flaky://$dir/t2"
    FlakyLeaseFs.failLeaseOpens.set(1000000)
    try {
      val e = intercept[java.io.IOException] {
        Snapshots.withTableLease(spark, t2, "blinded",
          ttlMs = 600L, waitMs = 0L) { Thread.sleep(1500); "unreachable" }
      }
      assert(e.getMessage.contains("lapsed"),
        s"loss must name the lapsed expiry, not a generic steal: ${e.getMessage}")
    } finally FlakyLeaseFs.failLeaseOpens.set(0)
  }

  test("a renewal that removed the prior lease and cannot republish reports LOST, never Degraded") {
    // the review-pass severity-1: on a non-atomic-rename store the renewal
    // rewrite goes temp → delete → rename. Past the delete the prior lease
    // no longer stands (a contender can claim THAT instant), so a rename
    // failure there must surface as a loud loss — 'Degraded' would let the
    // bracket return success while a second writer held the table.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.rffs.impl", classOf[RenameFailFs].getName)
    val dir = Files.createTempDirectory("graft-rffs").toString
    val t = s"rffs://$dir/t"
    RenameFailFs.failLeaseRenames.set(false)
    RenameFailFs.failedRenames.set(0)
    try {
      val e = intercept[java.io.IOException] {
        // generous ttl: the loss signal here must be the RENAME failure,
        // not an expiry the beat thread missed under host starvation (a
        // tight ttl made this pin racy — the first renewal could find its
        // own lease already expired and report a different loss)
        Snapshots.withTableLease(spark, t, "unlucky",
          ttlMs = 3000L, waitMs = 0L) {
          RenameFailFs.failLeaseRenames.set(true)
          // hold the section until a renewal has actually hit the injected
          // rename failure (bounded), rather than a fixed sleep
          val t0 = System.currentTimeMillis()
          while (RenameFailFs.failedRenames.get() == 0 &&
              System.currentTimeMillis() - t0 < 20000) Thread.sleep(100)
          Thread.sleep(200) // let the beat record the loss
          "unreachable"
        }
      }
      assert(e.getMessage.contains("claimable"),
        s"rename-after-delete failure must report the table claimable: ${e.getMessage}")
      // and it IS claimable — the loss was loud, not silent
      RenameFailFs.failLeaseRenames.set(false)
      Snapshots.acquireLease(spark, t, "next", ttlMs = 60000L, waitMs = 0L)
      Snapshots.releaseLease(spark, t, "next")
    } finally RenameFailFs.failLeaseRenames.set(false)
  }

  test("object-store tier: non-atomic create lets two contenders both win; a registered LeaseLock restores exclusion") {
    // VERDICT r18 item 6. The file lease's claim is atomic only where
    // create-exclusive is; S3A-style stores implement no-overwrite create
    // as check-then-write. NonAtomicCreateFs reproduces that window
    // deterministically (a barrier between the check and the write), and
    // this test first PROVES the documented hazard on it, then shows the
    // pluggable external lock restores mutual exclusion over the same FS.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.nacfs.impl", classOf[NonAtomicCreateFs].getName)
    val dir = Files.createTempDirectory("graft-nacfs").toString
    val t = s"nacfs://$dir/t"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      // 1) the hazard is real: both contenders pass the existence check
      // before either writes — both acquire "exclusively"
      NonAtomicCreateFs.arm(2)
      val claims = Seq("a", "b").map { h =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean =
            try { Snapshots.acquireLease(spark, t, h, 60000L, 0L); true }
            catch { case _: java.io.IOException => false }
        })
      }
      assert(claims.forall(_.get(30, java.util.concurrent.TimeUnit.SECONDS)),
        "on a check-then-write store BOTH contenders win the file claim — " +
          "the exact hazard the scope note documents")
      NonAtomicCreateFs.disarm()
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$dir/t/_manifests/_lease.json"))

      // 2) the fallback: an external lock with a real conditional write
      // excludes over the SAME non-atomic filesystem
      Snapshots.setLeaseLock(Some(new MemLeaseLock))
      try {
        val inside = new java.util.concurrent.atomic.AtomicInteger(0)
        val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
        val brackets = Seq("w1", "w2").map { h =>
          pool.submit(new java.util.concurrent.Callable[String] {
            def call(): String =
              Snapshots.withTableLease(spark, t, h,
                ttlMs = 60000L, waitMs = 30000L) {
                val n = inside.incrementAndGet()
                maxInside.updateAndGet(m => math.max(m, n))
                Thread.sleep(300)
                inside.decrementAndGet()
                h
              }
          })
        }
        assert(brackets.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
          .toSet == Set("w1", "w2"))
        assert(maxInside.get() == 1,
          s"critical sections overlapped under the external lock: ${maxInside.get()}")
        // leaseHeld routes through the lock too
        assert(!Snapshots.leaseHeld(spark, t, "w1"))
        // an external lock that stops renewing fails the bracket loudly —
        // the lock service owns degradation semantics, so renew=false IS
        // the loss signal (no Degraded state to hide behind)
        val renews = new java.util.concurrent.atomic.AtomicInteger(0)
        val dying = new MemLeaseLock {
          override def renew(table: String, holder: String, ttlMs: Long): Boolean =
            renews.incrementAndGet() <= 1 && super.renew(table, holder, ttlMs)
        }
        Snapshots.setLeaseLock(Some(dying))
        val e = intercept[java.io.IOException] {
          Snapshots.withTableLease(spark, t, "w3", ttlMs = 300L, waitMs = 0L) {
            // hold the section until renewal 2 (the loss signal) has run —
            // bounded wait, not a fixed sleep a starved beat thread misses
            val t0 = System.currentTimeMillis()
            while (renews.get() < 2 &&
                System.currentTimeMillis() - t0 < 20000) Thread.sleep(50)
            Thread.sleep(200) // let the beat record the loss
            "unreachable"
          }
        }
        assert(e.getMessage.contains("external lock"), e.getMessage)
      } finally Snapshots.setLeaseLock(None)
    } finally pool.shutdownNow()
  }

  test("commitRetryingRaces: re-derives by name on a race, rethrows when exhausted, passes other failures through") {
    // by-name re-evaluation is the load-bearing part: the retry must
    // re-run the WHOLE commit expression (manifest re-reads included)
    var calls = 0
    val v = Snapshots.commitRetryingRaces(attempts = 3) {
      calls += 1
      if (calls < 3) throw new java.io.IOException(s"snapshot commit race on t v$calls")
      42L
    }
    assert(v == 42L && calls == 3)
    // attempts exhausted: the last race rethrows (something is hammering
    // the table — fail loud, never spin)
    var calls2 = 0
    val e = intercept[java.io.IOException] {
      Snapshots.commitRetryingRaces(attempts = 2) {
        calls2 += 1
        throw new java.io.IOException("commit race forever")
      }
    }
    assert(e.getMessage.contains("commit race") && calls2 == 2)
    // a NON-race IOException is not retried — it is a real failure
    var calls3 = 0
    intercept[java.io.IOException] {
      Snapshots.commitRetryingRaces() { calls3 += 1; throw new java.io.IOException("disk full") }
    }
    assert(calls3 == 1)
  }

  test("manifest schema drives reads: ZERO footer opens at plan time, evolution intact") {
    // mergeSchema reconciliation reads EVERY file's footer on the driver
    // before the first task — a scan-startup killer at millions of files.
    // The manifest records the committed schema, so planning a read must
    // open no data file at all (the scan itself obviously does).
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.cfs.impl", classOf[CountingFs].getName)
    val t = "cfs://" + tmp()
    Snapshots.commit(spark.range(0, 2000).selectExpr("id", "id * 2 AS v")
      .repartition(20), t)
    // evolved second commit: adds a column
    Snapshots.commit(spark.range(2000, 2100)
      .selectExpr("id", "id * 2 AS v", "id % 7 AS extra").repartition(4), t)
    CountingFs.opens.set(0)
    val df = Snapshots.read(spark, t)
    assert(df.columns.toSet == Set("id", "v", "extra"))
    assert(CountingFs.opens.get() == 0,
      s"plan-time read opened ${CountingFs.opens.get()} data files (footer reconciliation)")
    // evolution semantics unchanged: old rows read the added column as null
    assert(df.filter($"extra".isNull).count() == 2000)
    assert(df.count() == 2100)
    // partitioned flavor: plan-time opens stay zero through the pruned path
    val tp = "cfs://" + tmp()
    Snapshots.commitPartitioned(spark.range(0, 300)
      .selectExpr("id", "CAST(id % 3 AS STRING) AS g"), tp, Seq("g"))
    CountingFs.opens.set(0)
    val pf = Snapshots.read(spark, tp, None, sp => sp.get("g").contains("1"))
    assert(CountingFs.opens.get() == 0, "partitioned plan read footers")
    assert(pf.select("id").as[Long].collect().forall(_ % 3 == 1))
    // multi-commit: append, dynamic overwrite, evolved column — the single
    // relation over every commit's leaf dirs still opens no footer to plan
    Snapshots.commitPartitioned(spark.range(300, 400)
      .selectExpr("id", "CAST(id % 3 AS STRING) AS g"), tp, Seq("g"))
    Snapshots.commitPartitioned(spark.range(400, 410)
      .selectExpr("id", "'2' AS g"), tp, Seq("g"), SaveMode.Overwrite)
    Snapshots.commitPartitioned(spark.range(410, 420)
      .selectExpr("id", "id % 5 AS extra", "'3' AS g"), tp, Seq("g"))
    CountingFs.opens.set(0)
    val all = Snapshots.read(spark, tp)
    assert(CountingFs.opens.get() == 0,
      s"multi-commit partitioned plan opened ${CountingFs.opens.get()} data files")
    assert(all.columns.toSeq == Seq("id", "extra", "g"))
    assert(PlanScans.parquet(all) == 1)
    // g=0 (100 + 34 rows) and g=1 (100 + 33) span two commits, g=2 was
    // overwritten to 10 rows, g=3 (10 rows) is the evolved commit's
    assert(all.count() == 287)
    assert(all.filter($"extra".isNull).count() == 277)
    // 120 leaf dirs: still no footer, and one LIST per named leaf dir
    // (plus the one of _manifests), never one of data/ itself
    val wide = "cfs://" + tmp()
    fortySpecsThreeCommits(wide)
    CountingFs.opens.set(0)
    CountingFs.lists.set(0)
    val wf = Snapshots.read(spark, wide)
    assert(CountingFs.opens.get() == 0,
      s"120-leaf plan opened ${CountingFs.opens.get()} data files")
    assert(CountingFs.lists.get() == 1 + 120, s"${CountingFs.lists.get()} LISTs")
    assert(wf.count() == 1200)
  }

  test("readProbedOrEmpty: typed empty frame with no job when nothing can match, else the pruned read at one version; a read error throws") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    spark.sparkContext.hadoopConfiguration.set("fs.cfs.impl", classOf[CountingFs].getName)
    val cols = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    val local = tmp()
    val t = "cfs://" + local
    // (result, Spark jobs, LISTs) of one probed read of `t` on key `g`
    def probe(probed: Set[String], version: Option[Long] = None) = {
      CountingFs.lists.set(0)
      val (df, jobs) = jobsDuring(Snapshots.readProbedOrEmpty(spark, t, "g", probed, cols, version))
      (df, jobs, CountingFs.lists.get())
    }
    def assertTypedEmpty(df: org.apache.spark.sql.DataFrame, jobs: Int, what: String): Unit = {
      assert(df.schema == cols, s"$what: ${df.schema}")
      assert(jobs == 0, s"$what: $jobs Spark jobs")
      assert(df.isEmpty, what)
    }
    // (a) a table with no version
    val (a, aJobs, _) = probe(Set("1"))
    assertTypedEmpty(a, aJobs, "no version")
    // one commit of three specs g=0, g=1, g=2
    Snapshots.commitPartitioned(spark.range(0, 30)
      .selectExpr("id", "CAST(id * 3 AS STRING) AS v", "CAST(id % 3 AS STRING) AS g")
      .coalesce(1), t, Seq("g"))
    // (b) an empty probe touches no file
    val (b, bJobs, bLists) = probe(Set.empty)
    assertTypedEmpty(b, bJobs, "empty probe")
    assert(bLists == 0, s"empty probe made $bLists LISTs")
    // (c) a probe matching no spec
    val (c, cJobs, _) = probe(Set("7"))
    assertTypedEmpty(c, cJobs, "probe matching no spec")
    // (d) a probe matching 1 of 3 specs: the pruned read's rows, one LIST
    // of _manifests and one of the matching leaf dir
    val (d, dJobs, dLists) = probe(Set("1"))
    assert(dJobs == 0, s"$dJobs Spark jobs")
    assert(dLists == 2, s"$dLists LISTs")
    assert(d.schema.map(f => f.name -> f.dataType) == cols.map(f => f.name -> f.dataType))
    val pruned = Snapshots.read(spark, t, partitionFilter = _.get("g").contains("1"))
    assert(rows(d) == rows(pruned.select("id", "v")) && rows(d).size == 10)
    // (e) pinned to version 1 after a later commit: version 1's rows only,
    // with one LIST (the matching leaf dir) — the pinned manifest is opened
    // without listing _manifests
    Snapshots.commitPartitioned(spark.range(30, 60)
      .selectExpr("id", "CAST(id * 3 AS STRING) AS v", "CAST(id % 3 AS STRING) AS g")
      .coalesce(1), t, Seq("g"))
    val (e, _, eLists) = probe(Set("1"), Some(1L))
    assert(rows(e) == rows(d))
    assert(eLists == 1, s"pinned read made $eLists LISTs")
    assert(probe(Set("1"))._1.count() == 20)
    // (f) a matching spec whose leaf dir is gone fails the read, never
    // passes as an empty state
    new java.io.File(s"$local/data").listFiles().foreach(commit =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(commit, "g=2")))
    intercept[java.io.FileNotFoundException] {
      Snapshots.readProbedOrEmpty(spark, t, "g", Set("2"), cols).collect()
    }
    // (g) a pinned version that was vacuumed fails the read, never passes
    // as an empty state
    Snapshots.vacuum(spark, t, retainLast = 1, minAgeMs = 0L)
    assert(Snapshots.versions(spark, t) == Seq(2L))
    intercept[java.io.FileNotFoundException] {
      Snapshots.readProbedOrEmpty(spark, t, "g", Set("1"), cols, Some(1L)).collect()
    }
  }

  test("partitioned and plain commits don't mix; specs decode hive escaping") {
    val t = tmp()
    Snapshots.commitPartitioned(Seq(("x y", 1)).toDF("g", "k"), t, Seq("g"))
    intercept[IllegalArgumentException] {
      Snapshots.commit(Seq((1, "a")).toDF("k", "v"), t) // append to partitioned
    }
    intercept[IllegalArgumentException] { // overwrite must not de-partition
      Snapshots.commit(Seq((1, "a")).toDF("k", "v"), t, SaveMode.Overwrite)
    }
    assert(Snapshots.parseSpec(Snapshots.partitions(spark, t).head) == Map("g" -> "x y"))
    assert(Snapshots.read(spark, t).select("g").as[String].head() == "x y")
    // the reverse direction: partitioned commits on a plain table are
    // refused BEFORE any data is written, so no orphan commit dir is left
    // in data/ for vacuum's grace window to keep
    val plain = tmp()
    Snapshots.commit(Seq((1, "a")).toDF("k", "v"), plain)
    intercept[IllegalArgumentException] {
      Snapshots.commitPartitioned(Seq((2, "b")).toDF("k", "g"), plain, Seq("g"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitPartitionReplace(Seq((2, "b")).toDF("k", "g"), plain, Seq("g"), Seq("g=b"))
    }
    assert(new java.io.File(s"$plain/data").list().toSeq.map(_.take(8)) == Seq("c-00001-"))
    assert(Snapshots.versions(spark, plain) == Seq(1L))
    // percent-decode discipline: %XX decodes, '+' stays literal (hive
    // never escapes it), malformed/SIGNED escapes pass through verbatim
    // (Integer.parseInt would otherwise accept "%-1"/"%+4" as hex)
    assert(Snapshots.parseSpec("g=a%3Ab") == Map("g" -> "a:b"))
    assert(Snapshots.parseSpec("g=a+b") == Map("g" -> "a+b"))
    assert(Snapshots.parseSpec("g=a%-1b%+4c%zq%2") == Map("g" -> "a%-1b%+4c%zq%2"))
    assert(Snapshots.parseSpec("g=%E2%82%AC") == Map("g" -> "€")) // UTF-8 multibyte
  }

  test("changes: appends surface as inserts, overwrite as delete+insert, file-level only") {
    val t = tmp()
    Snapshots.commit(Seq((1, "a")).toDF("k", "v"), t)
    Snapshots.commit(Seq((2, "b"), (3, "c")).toDF("k", "v"), t)
    // append-only diff v1→v2: only the new commit's rows, tagged insert
    val c12 = Snapshots.changes(spark, t, 1L, 2L)
    assert(c12.filter($"_change_type" === "insert").select("k").as[Int].collect().toSet == Set(2, 3))
    assert(c12.filter($"_change_type" === "delete").count() == 0)
    // the CDF scan reads ONLY the changed commit dir, not the whole table
    assert(c12.inputFiles.nonEmpty && c12.inputFiles.forall(_.contains("c-00002")))
    // overwrite v2→v3: all old rows delete, new rows insert
    Snapshots.commit(Seq((9, "z")).toDF("k", "v"), t, SaveMode.Overwrite)
    val c23 = Snapshots.changes(spark, t, 2L, 3L)
    assert(c23.filter($"_change_type" === "delete").select("k").as[Int].collect().toSet == Set(1, 2, 3))
    assert(c23.filter($"_change_type" === "insert").select("k").as[Int].collect().toSet == Set(9))
    // self-diff is empty but keeps the schema
    assert(Snapshots.changes(spark, t, 3L, 3L).count() == 0)
  }

  test("changes on partitioned tables: dynamic overwrite diffs only touched specs") {
    val t = tmp()
    Snapshots.commitPartitioned(
      Seq(("2025-01-01", 1), ("2025-01-02", 2)).toDF("dt", "k"), t, Seq("dt"))
    Snapshots.commitPartitioned(
      Seq(("2025-01-02", 9)).toDF("dt", "k"), t, Seq("dt"), SaveMode.Overwrite)
    val c = Snapshots.changes(spark, t, 1L, 2L)
    val byType = c.select("_change_type", "k").as[(String, Int)].collect().groupBy(_._1)
    assert(byType("delete").map(_._2).toSet == Set(2)) // only dt=2025-01-02 diffed
    assert(byType("insert").map(_._2).toSet == Set(9))
    assert(c.inputFiles.forall(_.contains("dt=2025-01-02")))
  }

  test("schema evolution: a commit may add columns; old rows read back null") {
    val t = tmp()
    Snapshots.commit(Seq((1, "a")).toDF("k", "v"), t)
    Snapshots.commit(Seq((2, "b", 7.5)).toDF("k", "v", "score"), t)
    val df = Snapshots.read(spark, t)
    assert(df.columns.toSet == Set("k", "v", "score"))
    val rows = df.select("k", "score").as[(Int, Option[Double])].collect().toMap
    assert(rows == Map(1 -> None, 2 -> Some(7.5)))
    // evolution flows through the change feed too
    val c = Snapshots.changes(spark, t, 1L, 2L)
    assert(c.columns.contains("score"))
    // pre-schema manifests (no recorded schema) reconcile the footers
    // instead, on both table flavors, to the same answer
    val tp = tmp()
    Snapshots.commitPartitioned(Seq((1, "a", "x")).toDF("k", "v", "g"), tp, Seq("g"))
    Snapshots.commitPartitioned(Seq((2, "b", 7.5, "y")).toDF("k", "v", "score", "g"), tp, Seq("g"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for (table <- Seq(t, tp); f <- new java.io.File(s"$table/_manifests").listFiles()
        if f.getName.endsWith(".json")) {
      val m = mapper.readTree(f).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      m.remove("schema")
      mapper.writeValue(f, m)
    }
    val pre = Snapshots.read(spark, t)
    assert(pre.columns.toSet == Set("k", "v", "score"))
    assert(pre.select("k", "score").as[(Int, Option[Double])].collect().toMap == rows)
    val preP = Snapshots.read(spark, tp)
    assert(preP.columns.toSet == Set("k", "v", "score", "g"))
    assert(preP.select("k", "score", "g").as[(Int, Option[Double], String)].collect().toSet ==
      Set((1, None, "x"), (2, Some(7.5), "y")))
  }

  test("txn commits are idempotent: a replayed (app, batch) no-ops") {
    val t = tmp()
    val v1 = Snapshots.commit(Seq((1, "a")).toDF("k", "v"), t, txn = Some("app" -> 0L))
    val v2 = Snapshots.commit(Seq((2, "b")).toDF("k", "v"), t, txn = Some("app" -> 1L))
    // replay batch 1 (and an older batch 0): both skipped, version unchanged
    assert(Snapshots.commit(Seq((2, "b")).toDF("k", "v"), t, txn = Some("app" -> 1L)) == v2)
    assert(Snapshots.commit(Seq((1, "a")).toDF("k", "v"), t, txn = Some("app" -> 0L)) == v2)
    assert(Snapshots.read(spark, t).count() == 2)
    assert(Snapshots.lastTxn(spark, t, "app").contains(1L))
    // a DIFFERENT writer's ids are independent
    Snapshots.commit(Seq((3, "c")).toDF("k", "v"), t, txn = Some("other" -> 0L))
    assert(Snapshots.read(spark, t).count() == 3)
    // non-txn commits carry the watermark map forward
    Snapshots.commit(Seq((4, "d")).toDF("k", "v"), t)
    assert(Snapshots.lastTxn(spark, t, "app").contains(1L))
    assert(v1 == 1L && v2 == 2L)
  }

  test("merge: keyed upsert as one new version; partitioned merge rewrites only touched specs") {
    val t = tmp()
    Snapshots.commitPartitioned(
      Seq(("d1", 1, "old1"), ("d1", 2, "old2"), ("d2", 3, "old3")).toDF("dt", "k", "v"),
      t, Seq("dt"))
    // update k=2, insert k=9 — both land in dt=d1; dt=d2 untouched
    val v = Snapshots.merge(spark, t,
      Seq(("d1", 2, "NEW2"), ("d1", 9, "NEW9")).toDF("dt", "k", "v"), Seq("dt", "k"))
    val now = Snapshots.read(spark, t)
    assert(now.select("k", "v").as[(Int, String)].collect().toMap ==
      Map(1 -> "old1", 2 -> "NEW2", 3 -> "old3", 9 -> "NEW9"))
    // time travel: pre-merge state intact
    assert(Snapshots.read(spark, t, Some(v - 1))
      .filter($"k" === 2).select("v").as[String].head() == "old2")
    // the merge's change feed touches only dt=d1 files
    val c = Snapshots.changes(spark, t, v - 1, v)
    assert(c.inputFiles.forall(_.contains("dt=d1")))

    // updates touching only a partition the table does not hold yet insert
    // it: a merge against nothing, published as v+1 holding both partitions
    val t2 = tmp()
    val v1 = Snapshots.commitPartitioned(Seq(("d1", 1, "a")).toDF("dt", "k", "v"), t2, Seq("dt"))
    val v2 = Snapshots.merge(spark, t2, Seq(("d9", 9, "z")).toDF("dt", "k", "v"), Seq("dt", "k"))
    assert(v2 == v1 + 1)
    assert(Snapshots.partitions(spark, t2) == Seq("dt=d1", "dt=d9"))
    assert(Snapshots.read(spark, t2).select("dt", "k", "v").as[(String, Int, String)]
      .collect().toSet == Set(("d1", 1, "a"), ("d9", 9, "z")))
  }

  test("versionAsOf resolves the newest manifest at or before a wall-clock instant") {
    val t = tmp()
    Snapshots.commit(Seq((1, "a")).toDF("k", "v"), t)
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    Snapshots.commit(Seq((2, "b")).toDF("k", "v"), t)
    assert(Snapshots.versionAsOf(spark, t, between) == 1L)
    assert(Snapshots.versionAsOf(spark, t, System.currentTimeMillis()) == 2L)
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(spark, t, between - 60000) // before the table existed
    }
  }

  test("merge on an unpartitioned table") {
    val t = tmp()
    Snapshots.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), t)
    Snapshots.merge(spark, t, Seq((2, "B!"), (5, "e")).toDF("k", "v"), Seq("k"))
    assert(Snapshots.read(spark, t).select("k", "v").as[(Int, String)].collect().toMap ==
      Map(1 -> "a", 2 -> "B!", 5 -> "e"))
  }

  test("commitPartitionReplace: empty rewrites drop specs; stray partitions rejected; time travel intact") {
    val t = tmp()
    Snapshots.commitPartitioned(
      Seq((1, "a"), (2, "a"), (3, "b")).toDF("k", "p"), t, Seq("p"))
    // rewrite p=a down to one row, drop p=b entirely (empty remainder)
    val v2 = Snapshots.commitPartitionReplace(
      Seq((1, "a")).toDF("k", "p"), t, Seq("p"), Seq("p=a", "p=b"))
    assert(v2 == 2L)
    assert(Snapshots.read(spark, t).select($"k".as[Int]).collect().toSet == Set(1))
    assert(Snapshots.partitions(spark, t) == Seq("p=a"))
    // prior version unchanged (time travel still sees all three rows)
    assert(Snapshots.read(spark, t, Some(1L)).count() == 3)
    // a rewrite that writes OUTSIDE the replaced set is a loud failure
    intercept[IllegalArgumentException] {
      Snapshots.commitPartitionReplace(
        Seq((9, "zz")).toDF("k", "p"), t, Seq("p"), Seq("p=a"))
    }
    // fully-empty rewrite: every listed spec drops
    Snapshots.commitPartitionReplace(
      Seq.empty[(Int, String)].toDF("k", "p"), t, Seq("p"), Seq("p=a"))
    assert(Snapshots.versions(spark, t).last == 3L)
    assert(Snapshots.partitions(spark, t).isEmpty)
    // txn idempotence carries over
    val vT = Snapshots.commitPartitionReplace(
      Seq((5, "c")).toDF("k", "p"), t, Seq("p"), Seq("p=c"), txn = Some("app" -> 7L))
    assert(Snapshots.commitPartitionReplace(
      Seq((6, "c")).toDF("k", "p"), t, Seq("p"), Seq("p=c"), txn = Some("app" -> 7L)) == vT)
    assert(Snapshots.read(spark, t).select($"k".as[Int]).collect().toSet == Set(5))
  }

  test("vacuum is partition-granular: dead specs of a partly-live commit dir go, live siblings stay") {
    val t = tmp()
    Snapshots.commitPartitioned(
      Seq((1, "a"), (2, "b")).toDF("k", "p"), t, Seq("p"))
    // dynamic overwrite replaces p=a only; the original commit dir stays
    // live via its p=b spec
    Snapshots.commitPartitioned(
      Seq((9, "a")).toDF("k", "p"), t, Seq("p"), SaveMode.Overwrite)
    Snapshots.vacuum(spark, t, retainLast = 1, minAgeMs = 0L)
    // the superseded p=a files are GONE from disk (not merely unreferenced)
    val parquet = java.nio.file.Files.walk(java.nio.file.Paths.get(t))
      .filter(p => p.toString.endsWith(".parquet")).toArray.map(_.toString)
    val rows = spark.read.parquet(parquet: _*)
      .select($"k".as[Int]).collect().toSet
    assert(rows == Set(9, 2), s"stale partition files survive vacuum: $rows")
    // and the table reads back intact through the manifest
    assert(Snapshots.read(spark, t).select($"k".as[Int]).collect().toSet == Set(9, 2))
  }

  test("readers only see whole commits: no tmp manifests, immutable data dirs") {
    val t = tmp()
    Snapshots.commit(spark.range(100).select($"id", ($"id" * 2).as("v")), t)
    val names = new java.io.File(s"$t/_manifests").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")) // local-FS .crc sidecars; hidden anyway
    assert(names.nonEmpty && names.forall(_.matches("v\\d{5}\\.json"))) // no tmp residue
    assert(Snapshots.read(spark, t).agg(sum($"v")).head().getLong(0) == 9900L)
    // partitioned, several commits: the single relation lists only the leaf
    // dirs the manifest names, never data/ — a commit dir written but never
    // published (a writer that died before its manifest rename) is invisible
    val tp = tmp()
    Snapshots.commitPartitioned(spark.range(100)
      .selectExpr("id", "CAST(id % 2 AS STRING) AS p"), tp, Seq("p"))
    Snapshots.commitPartitioned(spark.range(100, 150)
      .selectExpr("id", "'1' AS p"), tp, Seq("p"))
    Snapshots.commitPartitioned(spark.range(150, 160)
      .selectExpr("id", "'0' AS p"), tp, Seq("p"), SaveMode.Overwrite)
    spark.range(1000, 1100).selectExpr("id", "CAST(id % 2 AS STRING) AS p")
      .write.partitionBy("p").parquet(s"$tp/data/c-00004-orphan00")
    val pr = Snapshots.read(spark, tp)
    assert(PlanScans.parquet(pr) == 1)
    assert(pr.select($"id".as[Long]).collect().toSet ==
      ((1L until 100L by 2).toSet ++ (100L until 160L).toSet))
    assert(pr.inputFiles.forall(!_.contains("orphan")))
  }

  test("partitioned guard: a spec not naming exactly the partition columns fails the read, never drops rows") {
    val t = tmp()
    Snapshots.commitPartitioned(Seq(("d1", "a", 1), ("d1", "b", 2), ("d2", "a", 3))
      .toDF("dt", "g", "k"), t, Seq("dt", "g"))
    // hand-written manifests: v1's specs plus the given (spec -> base) entries
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def publishByHand(v: Int, specs: (String, String)*): Unit = {
      val m = mapper.readTree(new java.io.File(s"$t/_manifests/v00001.json"))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      m.put("version", v)
      val parts = m.get("partitions").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      specs.foreach { case (spec, base) => parts.putArray(spec).add(base) }
      mapper.writeValue(new java.io.File(f"$t/_manifests/v$v%05d.json"), m)
    }
    // v2: an extra spec that omits the g column
    val base2 = s"$t/data/c-00002-handmade"
    Seq(("d3", 4), ("d3", 5)).toDF("dt", "k").write.partitionBy("dt").parquet(base2)
    publishByHand(2, "dt=d3" -> base2)
    val e = intercept[IllegalArgumentException](Snapshots.read(spark, t))
    assert(e.getMessage.contains("dt=d3"))
    intercept[IllegalArgumentException](Snapshots.read(spark, t, None, _("dt") == "d3"))
    // v3: a spec with no k=v segment beside a valid one — hive discovery
    // under ignoreInvalidPartitionPaths would skip its leaf's rows silently
    val base3 = s"$t/data/c-00003-handmade"
    Seq(("d2", "a", 30)).toDF("dt", "g", "k").write.partitionBy("dt", "g").parquet(base3)
    Seq(6, 7).toDF("k").write.parquet(s"$base3/junk")
    publishByHand(3, "dt=d2/g=a" -> base3, "junk" -> base3)
    val e3 = intercept[IllegalArgumentException](Snapshots.changes(spark, t, 1L, 3L))
    assert(e3.getMessage.contains("junk"))
    // the well-formed version still reads
    assert(Snapshots.read(spark, t, Some(1L)).count() == 3)
  }

  test("partitioned read over many commits is ONE parquet scan with the per-commit union's answer") {
    val t = tmp()
    val odd = "x/y+z w" // hive-escapes '/' only: path segment g=x%2Fy+z w
    val cols = Seq("dt", "g")
    Snapshots.commitPartitioned(Seq(("2025-01-01", "a", 1), ("2025-01-01", "b", 2),
      ("2025-01-02", "a", 3)).toDF("dt", "g", "k"), t, cols)                     // v1 append
    Snapshots.commitPartitioned(Seq(("2025-01-02", "a", 30)).toDF("dt", "g", "k"),
      t, cols, SaveMode.Overwrite)                                               // v2 dynamic overwrite
    Snapshots.commitPartitioned(Seq(("2025-01-01", "a", 4), ("2025-01-03", odd, 5))
      .toDF("dt", "g", "k"), t, cols)                                            // v3 append
    assert(Snapshots.compactFragmented(spark, t, maxBasesPerSpec = 1) == Some(4L)) // v4 rewrite
    Snapshots.commitPartitioned(Seq(("2025-01-02", "b", 6, "e"))
      .toDF("dt", "g", "k", "extra"), t, cols)                                   // v5 adds a column
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq

    // answers pinned to what the per-commit union returned: data columns
    // in manifest order, then the partition columns with inferred types
    val now = Snapshots.read(spark, t)
    assert(now.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("k" -> "int", "extra" -> "string", "dt" -> "date", "g" -> "string"))
    assert(rows(now) == Seq("[1,null,2025-01-01,a]", "[2,null,2025-01-01,b]",
      "[30,null,2025-01-02,a]", "[4,null,2025-01-01,a]", s"[5,null,2025-01-03,$odd]",
      "[6,e,2025-01-02,b]"))
    assert(Snapshots.read(spark, t, None, _("g") == odd)
      .select($"k".as[Int]).collect().toSeq == Seq(5))
    // time travel: older versions read under their own manifests
    val v1 = Snapshots.read(spark, t, Some(1L))
    assert(v1.columns.toSeq == Seq("k", "dt", "g"))
    assert(rows(v1) == Seq("[1,2025-01-01,a]", "[2,2025-01-01,b]", "[3,2025-01-02,a]"))
    assert(rows(Snapshots.read(spark, t, Some(3L))) == Seq("[1,2025-01-01,a]",
      "[2,2025-01-01,b]", "[30,2025-01-02,a]", "[4,2025-01-01,a]", s"[5,2025-01-03,$odd]"))
    // change feed v1 → v5: inserts span four commit dirs, deletes one
    val c = Snapshots.changes(spark, t, 1L, 5L)
    assert(c.columns.toSeq == Seq("k", "extra", "dt", "g", "_change_type"))
    assert(rows(c) == Seq("[1,null,2025-01-01,a,delete]", "[1,null,2025-01-01,a,insert]",
      "[3,null,2025-01-02,a,delete]", "[30,null,2025-01-02,a,insert]",
      "[4,null,2025-01-01,a,insert]", s"[5,null,2025-01-03,$odd,insert]",
      "[6,e,2025-01-02,b,insert]"))

    // one scan however many commits: the latest read spans four commit
    // dirs, and each side of the change feed is one scan of its own
    assert(PlanScans.parquet(now) == 1)
    assert(PlanScans.parquet(Snapshots.read(spark, t, Some(3L))) == 1)
    assert(PlanScans.parquet(c) == 2)
  }

  test("a table copied whole reads, appends, compacts and vacuums on its own files") {
    val src = tmp()
    Snapshots.commitPartitioned(Seq(("a", 1), ("b", 2)).toDF("g", "k"), src, Seq("g"))
    Snapshots.commitPartitioned(Seq(("a", 3)).toDF("g", "k"), src, Seq("g"))
    Snapshots.commit(Seq((1, "x")).toDF("k", "v"), s"$src-u")
    val dst = java.nio.file.Files.createTempDirectory("graft-snap-copy").toString + "/t"
    for (suffix <- Seq("", "-u")) {
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(src + suffix), new java.io.File(dst + suffix))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(src + suffix))
    }
    def ks(t: String) = Snapshots.read(spark, t).select($"k".as[Int]).collect().toSet
    assert(ks(dst) == Set(1, 2, 3))
    assert(ks(s"$dst-u") == Set(1))
    Snapshots.commitPartitioned(Seq(("b", 4)).toDF("g", "k"), dst, Seq("g"))
    Snapshots.commit(Seq((2, "y")).toDF("k", "v"), s"$dst-u")
    assert(Snapshots.compactFragmented(spark, dst, maxBasesPerSpec = 1).isDefined)
    Snapshots.compact(spark, s"$dst-u")
    for (t <- Seq(dst, s"$dst-u")) Snapshots.vacuum(spark, t, retainLast = 1, minAgeMs = 0L)
    assert(ks(dst) == Set(1, 2, 3, 4))
    assert(ks(s"$dst-u") == Set(1, 2))
    for (t <- Seq(dst, s"$dst-u"))
      assert(Snapshots.read(spark, t).inputFiles.forall(_.contains(s"$t/data/")))
  }

  test("a table whose manifest holds absolute entries reads, appends, diffs and vacuums as before") {
    val t = tmp()
    Snapshots.commitPartitioned(Seq(("a", 1), ("b", 2)).toDF("g", "k"), t, Seq("g"))
    // rewrite v1 as manifests were once written: every commit dir by its
    // absolute path
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val v1 = new java.io.File(s"$t/_manifests/v00001.json")
    val m = mapper.readTree(v1).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val parts = m.get("partitions").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    parts.fieldNames().forEachRemaining { spec =>
      val bases = parts.putArray(spec)
      bases.add(s"$t/data/${new java.io.File(s"$t/data").list().head}")
    }
    mapper.writeValue(v1, m)
    assert(!mapper.readTree(v1).toString.contains("\"c-00001-"), "v1 holds a bare entry")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"g".as[String], $"k".as[Int]).collect().toSet
    assert(rows(Snapshots.read(spark, t)) == Set(("a", 1), ("b", 2)))
    Snapshots.commitPartitioned(Seq(("a", 3)).toDF("g", "k"), t, Seq("g"))
    assert(rows(Snapshots.read(spark, t)) == Set(("a", 1), ("b", 2), ("a", 3)))
    // the carried-forward dir is the same dir in both versions: only v2's
    // own rows changed
    val c = Snapshots.changes(spark, t, 1L, 2L)
    assert(c.select($"g".as[String], $"k".as[Int], $"_change_type".as[String]).collect().toSeq ==
      Seq(("a", 3, "insert")))
    Snapshots.vacuum(spark, t, retainLast = 1, minAgeMs = 0L)
    assert(Snapshots.versions(spark, t) == Seq(2L))
    assert(new java.io.File(s"$t/data").list().length == 2)
    assert(rows(Snapshots.read(spark, t)) == Set(("a", 1), ("b", 2), ("a", 3)))
  }

  test("manifests of identical tables do not grow with the table's path") {
    val short = tmp()
    val long = java.nio.file.Files.createTempDirectory("graft-snap").toString +
      "/a/much/longer/path/to/the/same/table"
    for (t <- Seq(short, long)) {
      Snapshots.commitPartitioned(Seq(("a", 1), ("b", 2)).toDF("g", "k"), t, Seq("g"))
      Snapshots.commitPartitioned(Seq(("a", 3)).toDF("g", "k"), t, Seq("g"))
      Snapshots.commit(Seq((1, "x")).toDF("k", "v"), s"$t-u")
      Snapshots.commit(Seq((2, "y")).toDF("k", "v"), s"$t-u")
    }
    def sizes(t: String) = new java.io.File(s"$t/_manifests").listFiles()
      .filter(_.getName.endsWith(".json")).map(f => f.getName -> f.length()).sorted.toSeq
    for (suffix <- Seq("", "-u")) {
      assert(sizes(short + suffix).size == 2)
      assert(sizes(short + suffix) == sizes(long + suffix))
    }
  }

  test("a read naming more than 32 leaf dirs starts no Spark job until its action") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def leaves(t: String, commits: Set[Int], glob: String) =
      new java.io.File(s"$t/data").listFiles().toSeq
        .filter(d => commits(d.getName.split('-')(1).toInt))
        .flatMap(d => if (glob.isEmpty) Seq(d) else d.listFiles().toSeq.filter(_.getName.startsWith(glob)))
        .map(_.getPath)
    // partitioned: 3 commits x 40 specs = 120 leaf dirs, then a dynamic
    // overwrite of every spec so both sides of the change feed are wide
    val tp = tmp()
    fortySpecsThreeCommits(tp)
    Snapshots.commitPartitioned(spark.range(5000, 5040)
      .selectExpr("id", "CAST(id * 3 AS STRING) AS v", "CAST(id % 40 AS INT) AS g")
      .coalesce(1), tp, Seq("g"), SaveMode.Overwrite)
    // unpartitioned: 40 commit dirs, then an overwrite
    val tu = tmp()
    (0 until 40).foreach(c => Snapshots.commit(
      spark.range(c * 10, (c + 1) * 10).selectExpr("id", "CAST(id AS STRING) AS v").coalesce(1), tu))
    Snapshots.commit(spark.range(900, 905).selectExpr("id", "CAST(id AS STRING) AS v"),
      tu, SaveMode.Overwrite)

    val ((p3, pc, u40, uIns, uDel), jobs) = jobsDuring((
      Snapshots.read(spark, tp, Some(3L)),
      Snapshots.changes(spark, tp, 3L, 4L), // deletes name 120 leaves, inserts 40
      Snapshots.read(spark, tu, Some(40L)),
      Snapshots.changes(spark, tu, 1L, 40L), // 39 inserted dirs
      Snapshots.changes(spark, tu, 40L, 41L))) // 40 deleted dirs
    assert(jobs == 0, s"$jobs Spark jobs before any action")

    // each equals Spark's own reader over the same leaves
    val ref = spark.read.option("basePath", new java.io.File(s"$tp/data").toURI.toString)
      .option("ignoreInvalidPartitionPaths", "true").schema("id BIGINT, v STRING")
      .parquet(leaves(tp, Set(1, 2, 3), "g="): _*)
    assert(p3.columns.toSeq == Seq("id", "v", "g") && p3.columns.toSeq == ref.columns.toSeq)
    assert(p3.schema("g").dataType == org.apache.spark.sql.types.IntegerType)
    assert(ref.schema("g").dataType == org.apache.spark.sql.types.IntegerType)
    assert(rows(p3) == rows(ref) && rows(p3).size == 1200)
    assert(p3.inputFiles.sorted.toSeq == ref.inputFiles.sorted.toSeq)
    val refDel = ref.withColumn("_change_type", lit("delete"))
    val refIns = spark.read.option("basePath", new java.io.File(s"$tp/data").toURI.toString)
      .option("ignoreInvalidPartitionPaths", "true").schema("id BIGINT, v STRING")
      .parquet(leaves(tp, Set(4), "g="): _*).withColumn("_change_type", lit("insert"))
    assert(pc.columns.toSeq == refDel.columns.toSeq)
    assert(rows(pc) == rows(refDel.unionByName(refIns)) && rows(pc).size == 1240)
    assert(pc.inputFiles.sorted.toSeq == refDel.unionByName(refIns).inputFiles.sorted.toSeq)

    def plain(commits: Range) =
      spark.read.schema("id BIGINT, v STRING").parquet(leaves(tu, commits.toSet, ""): _*)
    assert(u40.columns.toSeq == Seq("id", "v"))
    assert(rows(u40) == rows(plain(1 to 40)) && rows(u40).size == 400)
    assert(u40.inputFiles.sorted.toSeq == plain(1 to 40).inputFiles.sorted.toSeq)
    assert(rows(uIns) == rows(plain(2 to 40).withColumn("_change_type", lit("insert"))))
    assert(uIns.inputFiles.sorted.toSeq == plain(2 to 40).inputFiles.sorted.toSeq)
    assert(rows(uDel) == rows(plain(1 to 40).withColumn("_change_type", lit("delete"))
      .unionByName(plain(41 to 41).withColumn("_change_type", lit("insert")))))
  }

  test("hidden and in-flight files in a leaf dir are skipped by the read") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def plant(dir: java.io.File): Unit = Seq("_junk", ".junk", "part-x._COPYING_").foreach(n =>
      Files.write(new java.io.File(dir, n).toPath, "not parquet".getBytes("UTF-8")))
    val tp = tmp()
    Snapshots.commitPartitioned(spark.range(0, 30)
      .selectExpr("id", "CAST(id % 3 AS STRING) AS g"), tp, Seq("g"))
    val tu = tmp()
    Snapshots.commit(spark.range(0, 30).toDF("id"), tu)
    val (before, beforeU) = (rows(Snapshots.read(spark, tp)), rows(Snapshots.read(spark, tu)))
    val commitDir = new java.io.File(s"$tp/data").listFiles().head
    plant(new java.io.File(commitDir, "g=1"))
    plant(new java.io.File(s"$tu/data").listFiles().head)
    assert(rows(Snapshots.read(spark, tp)) == before && before.size == 30)
    assert(rows(Snapshots.read(spark, tu)) == beforeU && beforeU.size == 30)
    assert(Snapshots.read(spark, tp).inputFiles.forall(_.endsWith(".parquet")))
  }
}

object PlanScans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** Parquet file scans in `df`'s executed plan (AQE-aware). */
  def parquet(df: org.apache.spark.sql.DataFrame): Int =
    collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.fileFormat
            .isInstanceOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] => s
    }.size
}

/** Test-only FileSystem (scheme flaky://): local semantics, but the next
  * `failLeaseOpens` opens of a `_lease.json` throw — injects the transient
  * read failures the heartbeat's DEGRADED state exists for. */
class FlakyLeaseFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flaky"
  override def getUri: java.net.URI = java.net.URI.create("flaky:///")
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    if (p.getName == "_lease.json" && FlakyLeaseFs.failLeaseOpens.get() > 0) {
      FlakyLeaseFs.failLeaseOpens.decrementAndGet()
      throw new java.io.IOException("injected transient lease-read failure")
    }
    super.open(p, bufferSize)
  }
}
object FlakyLeaseFs {
  val failLeaseOpens = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Test-only FileSystem (scheme nacfs://): no-overwrite create of a lease
  * file is CHECK-THEN-WRITE, with a barrier in the window so two
  * contenders deterministically both pass the check before either writes —
  * the S3A create-non-atomicity the lease scope note documents, made
  * reproducible. */
class NonAtomicCreateFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "nacfs"
  override def getUri: java.net.URI = java.net.URI.create("nacfs:///")
  // the non-permission overload is the one FileSystem.create(p, false)
  // actually routes through on RawLocalFileSystem
  override def create(
      f: org.apache.hadoop.fs.Path,
      overwrite: Boolean,
      bufferSize: Int,
      replication: Short,
      blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    if (!overwrite && f.getName == "_lease.json") {
      if (exists(f))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(f.toString)
      NonAtomicCreateFs.gate() // both contenders pass the check first
      super.create(f, true, bufferSize, replication, blockSize, progress)
    } else
      super.create(f, overwrite, bufferSize, replication, blockSize, progress)
}
object NonAtomicCreateFs {
  @volatile private var barrier: Option[java.util.concurrent.CyclicBarrier] = None
  def arm(parties: Int): Unit =
    barrier = Some(new java.util.concurrent.CyclicBarrier(parties))
  def disarm(): Unit = barrier = None
  def gate(): Unit = barrier.foreach { b =>
    try b.await(10, java.util.concurrent.TimeUnit.SECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException => ()
      case _: java.util.concurrent.BrokenBarrierException => ()
    }
  }
}

/** In-process stand-in for a real external lock service (DynamoDB
  * conditional put, ZooKeeper): one atomic compare-and-set per operation. */
class MemLeaseLock extends Snapshots.LeaseLock {
  private val held =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  override def tryAcquire(table: String, holder: String, ttlMs: Long): Boolean =
    synchronized {
      val now = System.currentTimeMillis()
      held.get(table) match {
        case null => held.put(table, (holder, now + ttlMs)); true
        case (h, exp) if h == holder || exp < now =>
          held.put(table, (holder, now + ttlMs)); true
        case _ => false
      }
    }
  override def renew(table: String, holder: String, ttlMs: Long): Boolean =
    synchronized {
      Option(held.get(table)).exists(_._1 == holder) && {
        held.put(table, (holder, System.currentTimeMillis() + ttlMs)); true
      }
    }
  override def release(table: String, holder: String): Unit =
    synchronized {
      if (Option(held.get(table)).exists(_._1 == holder)) held.remove(table)
      ()
    }
  override def holderOf(table: String): Option[String] =
    Option(held.get(table)).map(_._1)
}

/** Test-only FileSystem (scheme rffs://): local semantics, but renames ONTO
  * a `_lease.json` destination fail while armed — injects the
  * failure-after-delete window of the non-atomic renewal rewrite. */
class RenameFailFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "rffs"
  override def getUri: java.net.URI = java.net.URI.create("rffs:///")
  override def rename(
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    if (dst.getName == "_lease.json" && RenameFailFs.failLeaseRenames.get()) {
      RenameFailFs.failedRenames.incrementAndGet()
      false
    } else super.rename(src, dst)
}
object RenameFailFs {
  val failLeaseRenames = new java.util.concurrent.atomic.AtomicBoolean(false)
  val failedRenames = new java.util.concurrent.atomic.AtomicInteger(0)
}
