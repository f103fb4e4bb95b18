package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class CdcForwarderSpec extends SparkSpec {
  import spark.implicits._

  private def writeEnvelope(dir: String): Unit = {
    val lines = Seq(
      """{"eventID":"1","eventName":"INSERT","dynamodb":{"NewImage":{"city":{"S":"Austin"},"temp_c":{"N":"35.7"}},"SequenceNumber":"100"}}""",
      """{"eventID":"2","eventName":"MODIFY","dynamodb":{"NewImage":{"city":{"S":"Boston"},"temp_c":{"N":"21.0"}},"SequenceNumber":"101"}}""",
      """{"eventID":"3","eventName":"INSERT","dynamodb":{"NewImage":{"city":{"S":"Chicago"},"temp_c":{"N":"18.2"}},"SequenceNumber":"102"}}""",
      """{"eventID":"4","eventName":"INSERT","dynamodb":{"SequenceNumber":"103"}}""",
      """{"eventID":"5","eventName":"INSERT","dynamodb":{"NewImage":{"temp_c":{"N":"9.9"}},"SequenceNumber":"104"}}"""
    )
    Files.write(java.nio.file.Paths.get(dir, "batch1.json"),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  test("unwrapInserts: INSERT-only, NewImage guard, unwrap, key fallback (batch form)") {
    val dir = Files.createTempDirectory("graft-cdc").toString
    writeEnvelope(dir)
    val events = spark.read.schema(CdcForwarder.envelopeSchema).json(dir)
    val out = CdcForwarder.unwrapInserts(events).orderBy("partition_key").collect()
    // MODIFY (2) filtered, missing NewImage (4) guarded out; 5 falls back to "unknown"
    assert(out.map(_.getString(0)).toSeq == Seq("Austin", "Chicago", "unknown"))
    assert(out(0).getString(1) == """{"city":"Austin","temp_c":35.7}""")
  }

  test("end-to-end stream: envelope NDJSON → filtered, unwrapped, partitioned bronze") {
    val src = Files.createTempDirectory("graft-cdc-src").toString
    val bronze = Files.createTempDirectory("graft-cdc-bronze").toString + "/out"
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    writeEnvelope(src)

    val q = CdcForwarder.forward(spark, src, bronze, ckpt, Trigger.AvailableNow())
    q.awaitTermination(60000)

    val landed = spark.read.json(bronze)
    assert(landed.count() == 3)
    // hive partition columns materialized by the partitioned write
    assert(landed.columns.contains("dt") && landed.columns.contains("hour"))
    val cities = landed.select(get_json_object($"json", "$.city")).as[String]
      .collect().toSet
    assert(cities == Set("Austin", "Chicago", null))
    // gzip NDJSON files, per the Firehose bronze contract
    assert(landed.inputFiles.forall(_.endsWith(".json.gz")))
  }
}

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))

  test("windowedCounts groups into tumbling event-time windows (batch replay)") {
    val df = Seq(
      ("austin", ts("2025-08-29T14:05:00Z")),
      ("austin", ts("2025-08-29T14:55:00Z")),
      ("austin", ts("2025-08-29T15:05:00Z")),
      ("boston", ts("2025-08-29T14:10:00Z"))
    ).toDF("city", "ts")
    val out = StreamingOps.windowedCounts(df, "ts", "city")
      .select($"window.start".cast("string"), $"city", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(
      ("2025-08-29 14:00:00", "austin", 2L),
      ("2025-08-29 15:00:00", "austin", 1L),
      ("2025-08-29 14:00:00", "boston", 1L)))
  }

  test("streaming windowed counts emit finalized windows after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Timestamp)]
    val counts = StreamingOps.windowedCounts(
      mem.toDF().toDF("city", "ts"), "ts", "city",
      windowLength = "1 hour", watermark = "1 hour")
    val q = counts.writeStream.format("memory").queryName("wc")
      .outputMode("append").start()
    mem.addData(("austin", ts("2025-08-29T14:05:00Z")), ("austin", ts("2025-08-29T14:35:00Z")))
    q.processAllAvailable()
    // advance event time far enough to close the 14:00 window
    mem.addData(("austin", ts("2025-08-29T17:00:00Z")))
    q.processAllAvailable()
    val rows = spark.table("wc").select($"window.start".cast("string"), $"city", $"n")
      .as[(String, String, Long)].collect().toSet
    q.stop()
    assert(rows.contains(("2025-08-29 14:00:00", "austin", 2L)))
  }

  test("stream-static join: streaming facts enrich against a static dimension") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("austin", "TX"), ("boston", "MA")).toDF("city", "state")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Double)]
    val enriched = mem.toDF().toDF("city", "temp")
      .join(dim, Seq("city"), "left") // static side broadcast per micro-batch
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData(("austin", 35.0), ("denver", 20.0))
    q.processAllAvailable()
    val rows = spark.table("enriched")
      .collect().map(r => (r.getString(0), if (r.isNullAt(2)) null else r.getString(2))).toSet
    q.stop()
    assert(rows == Set(("austin", "TX"), ("denver", null)))
  }

  test("stream-stream join: clicks within 60s of impressions, state bounded by watermark") {
    implicit val sqlCtx = spark.sqlContext
    val imp = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Timestamp)]
    val clk = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Timestamp)]
    val joined = StreamingOps.streamStreamJoin(
      imp.toDF().toDF("ad", "imp_ts"),
      clk.toDF().toDF("c_ad", "clk_ts"),
      keys = Seq(("ad", "c_ad")),
      leftTs = "imp_ts", rightTs = "clk_ts", withinSeconds = 60)
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    imp.addData(("a1", ts("2025-08-29T14:00:00Z")), ("a2", ts("2025-08-29T14:00:10Z")))
    clk.addData(
      ("a1", ts("2025-08-29T14:00:30Z")), // within 60s → joins
      ("a2", ts("2025-08-29T14:02:00Z")), // 110s later → outside window
      ("a3", ts("2025-08-29T14:00:05Z"))) // no matching impression
    q.processAllAvailable()
    val rows = spark.table("ssj").select("ad").as[String].collect().toSeq
    q.stop()
    assert(rows == Seq("a1"))
  }

  test("streaming MERGE sink: per-batch upsert makes at-least-once exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString
    val target = s"$dir/table"
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Int, Double)]
    val stream = mem.toDF().toDF("city", "dt", "v", "temp")
    val q = StreamingOps.startMergeSink(stream, target, s"$dir/ckpt",
      keys = Seq("city"), partitionCols = Seq("dt"), orderCol = "v",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData(("austin", "2025-08-29", 1, 30.0), ("boston", "2025-08-29", 1, 20.0))
    q.processAllAvailable()
    mem.addData(("austin", "2025-08-29", 2, 31.5), // replaces austin
      ("austin", "2025-08-29", 2, 31.5))           // retry duplicate in-batch
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(target)
    assert(out.count() == 2) // one row per key, no duplicates
    assert(out.filter($"city" === "austin").select($"temp").as[Double].head() == 31.5)
  }

  test("native session_window sessions in a stream close at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Timestamp)]
    val sessions = mem.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "5 minutes"), $"user_id")
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream.format("memory").queryName("sw")
      .outputMode("append").start()
    // two events 1 min apart = one session; a third 20 min later advances
    // the watermark past session end and forces the emit
    mem.addData((7L, ts("2025-08-29T14:00:00Z")), (7L, ts("2025-08-29T14:01:00Z")))
    q.processAllAvailable()
    mem.addData((7L, ts("2025-08-29T14:30:00Z")))
    q.processAllAvailable()
    mem.addData((7L, ts("2025-08-29T15:30:00Z"))) // push watermark further
    q.processAllAvailable()
    val rows = spark.table("sw").select($"user_id", $"n").as[(Long, Long)].collect()
    q.stop()
    assert(rows.contains((7L, 2L))) // the merged two-event session emitted
  }

  test("streaming index maintenance: appended vectors become searchable via searchIndexed") {
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val dir = java.nio.file.Files.createTempDirectory("graft-vidx").toString
    val idx = s"$dir/index"
    // base index (train + encode + snapshot commit) from the first 400 vectors
    val model = graft.ext.IvfPq.buildIndex(
      emb.filter($"id" < 400), idx, nlist = 4, m = 16, k = 256, sampleN = 500)

    // stream the remaining vectors into the SAME snapshot table the
    // search-only path reads
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Double])]
    val q = StreamingOps.startIndexMaintenance(
      mem.toDF().toDF("id", "vec"), model, idx, s"$dir/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    val late = emb.filter($"id" >= 400)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    mem.addData(late.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val lists = graft.sinks.Snapshots.read(spark, s"$idx/lists")
    assert(lists.count() == 500) // base + streamed, one atomic version each
    // a streamed vector is searchable through the UNCHANGED search-only path
    val hits = graft.ext.IvfPq.searchIndexed(
        spark, emb.filter($"id" === 450L), idx, topK = 500, nprobe = 4)
      .filter($"neighbor_id" >= 400).count()
    assert(hits > 0)
  }

  test("snapshot sink: micro-batches commit atomically; replayed batch is exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-snapsink").toString
    val table = s"$dir/t"
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q = StreamingOps.startSnapshotSink(
      mem.toDF().toDF("k", "v"), table, s"$dir/ckpt", appId = "ingest-1",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData((1L, "a"), (2L, "b"))
    q.processAllAvailable()
    mem.addData((3L, "c"))
    q.processAllAvailable()
    q.stop()
    assert(graft.sinks.Snapshots.read(spark, table).count() == 3)
    val lastBatch = graft.sinks.Snapshots.lastTxn(spark, table, "ingest-1").get
    // simulate an at-least-once REPLAY of the last batch (what a recovering
    // foreachBatch does): the manifest watermark makes it a no-op
    val before = graft.sinks.Snapshots.versions(spark, table)
    graft.sinks.Snapshots.commit(
      Seq((3L, "c")).toDF("k", "v"), table,
      org.apache.spark.sql.SaveMode.Append, txn = Some("ingest-1" -> lastBatch))
    assert(graft.sinks.Snapshots.versions(spark, table) == before)
    assert(graft.sinks.Snapshots.read(spark, table).count() == 3) // no dup rows
  }

  test("an empty micro-batch publishes no version from the snapshot sink or the chunk store") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-emptybatch").toString
    val (table, chunkT, manT) = (s"$dir/t", s"$dir/chunks", s"$dir/manifest")
    val rows = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val docs = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val sink = StreamingOps.startSnapshotSink(
      rows.toDF().toDF("k", "v"), table, s"$dir/ckpt-sink", appId = "ingest-empty",
      trigger = Trigger.ProcessingTime(0))
    val store = StreamingOps.startChunkStoreIngest(
      docs.toDF().toDF("doc_id", "text"), chunkT, manT, s"$dir/ckpt-store",
      trigger = Trigger.ProcessingTime(0))
    def versions(tables: String*) = tables.map(graft.sinks.Snapshots.versions(spark, _))
    // an offset that carries no rows still runs, as micro-batch 1
    def emptyBatch(q: org.apache.spark.sql.streaming.StreamingQuery,
        push: => Unit, ckpt: String, tables: String*): Unit = {
      val before = versions(tables: _*)
      assert(before.forall(_.nonEmpty))
      push
      q.processAllAvailable()
      assert(new java.io.File(s"$dir/$ckpt/commits/1").exists, s"$ckpt ran no batch 1")
      assert(versions(tables: _*) == before, s"$ckpt published a version")
    }
    try {
      rows.addData((1L, "a"))
      docs.addData((1L, "one stored document"))
      sink.processAllAvailable()
      store.processAllAvailable()
      emptyBatch(sink, rows.addData(Seq.empty[(Long, String)]), "ckpt-sink", table)
      emptyBatch(store, docs.addData(Seq.empty[(Long, String)]), "ckpt-store", chunkT, manT)
    } finally {
      sink.stop()
      store.stop()
    }
  }

  test("crash replay: die after table commit, before checkpoint; restart is exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-crashreplay").toString
    val table = s"$dir/t"
    val ckpt = s"$dir/ckpt"
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val q1 = StreamingOps.startSnapshotSink(
      mem.toDF().toDF("k", "v"), table, ckpt, appId = "ingest-cr",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    mem.addData((1L, "a"), (2L, "b"))
    q1.processAllAvailable()
    mem.addData((3L, "c"))
    q1.processAllAvailable()
    q1.stop()
    assert(graft.sinks.Snapshots.read(spark, table).count() == 3)
    val versionsBefore = graft.sinks.Snapshots.versions(spark, table)
    val txnBefore = graft.sinks.Snapshots.lastTxn(spark, table, "ingest-cr")
    // Simulate the worst-case crash window: the table commit for the last
    // micro-batch LANDED, but the engine died before recording batch
    // completion — delete the newest entry of the checkpoint's commit log,
    // which is exactly the state a real kill at that instant leaves behind.
    val commitsDir = new java.io.File(s"$ckpt/commits")
    val newest = commitsDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).maxBy(_.getName.toLong)
    val crc = new java.io.File(commitsDir, s".${newest.getName}.crc")
    assert(newest.delete(), "failed to simulate the crash")
    if (crc.exists()) crc.delete() // checksum sibling dies with its file
    // Restart from the checkpoint: the engine REPLAYS the un-acknowledged
    // batch through foreachBatch; the manifest txn watermark must no-op it.
    val q2 = StreamingOps.startSnapshotSink(
      mem.toDF().toDF("k", "v"), table, ckpt, appId = "ingest-cr",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    q2.processAllAvailable()
    q2.stop()
    assert(graft.sinks.Snapshots.read(spark, table).count() == 3,
      "replayed batch must not append duplicate rows")
    assert(graft.sinks.Snapshots.versions(spark, table) == versionsBefore,
      "replayed batch must not publish a new snapshot version")
    assert(graft.sinks.Snapshots.lastTxn(spark, table, "ingest-cr") == txnBefore)
  }

  test("dedupWithinWatermark drops retry-duplicates in a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String, Timestamp)]
    val deduped = StreamingOps.dedupWithinWatermark(
      mem.toDF().toDF("city", "payload", "ts"), "ts", Seq("city", "ts"))
    val q = deduped.writeStream.format("memory").queryName("dd")
      .outputMode("append").start()
    val t = ts("2025-08-29T14:05:00Z")
    mem.addData(("austin", "a", t), ("austin", "a", t), ("boston", "b", t))
    q.processAllAvailable()
    mem.addData(("austin", "a", t)) // at-least-once retry, same batch key
    q.processAllAvailable()
    val n = spark.table("dd").count()
    q.stop()
    assert(n == 2)
  }
}
