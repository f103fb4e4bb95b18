package graft

import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import graft.ops.Dedup

class EtlSpec extends SparkSpec {
  import spark.implicits._

  private def writeBronzePartition(base: String, dt: String, hour: String, lines: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(base, s"dt=$dt", s"hour=$hour")
    Files.createDirectories(dir)
    val out = new GZIPOutputStream(new java.io.FileOutputStream(dir.resolve("part-0.json.gz").toFile))
    out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
  }

  private def rec(city: String, iso: String) =
    s"""{"app":"rxlan","stage":"dev","source":"openweather","fetched_at_utc":"$iso","city":"$city","country":"US","temp_c":20.0,"humidity":50,"pressure":1013}"""

  test("incremental dt/hour-filtered run loads only the target partition, idempotently") {
    val bronze = Files.createTempDirectory("graft-etl-bronze").toString
    val gold = Files.createTempDirectory("graft-etl-gold").toString + "/weather"
    writeBronzePartition(bronze, "2025-08-29", "14", Seq(
      rec("Austin", "2025-08-29T14:05:00Z"),
      rec("Austin", "2025-08-29T14:05:00Z"), // retry duplicate
      rec("Boston", "2025-08-29T14:10:00Z")))
    writeBronzePartition(bronze, "2025-08-29", "15", Seq(
      rec("Chicago", "2025-08-29T15:01:00Z")))

    val cfg = Etl.Config(bronze, gold,
      dtFilter = Some("2025-08-29"), hourFilter = Some("14"))
    val m1 = Etl.run(spark, cfg)
    assert(m1("rows") == 2L) // deduped, hour=15 excluded by pruning
    val m2 = Etl.run(spark, cfg) // re-run: idempotent
    assert(m2("rows") == 2L)

    val out = spark.read.parquet(gold)
    assert(out.count() == 2)
    assert(out.select("city").as[String].collect().toSet == Set("Austin", "Boston"))
    assert(Dedup.duplicates(out, Seq("city", "fetched_at_utc")).isEmpty)
  }

  test("--full run loads every partition; metrics count tagged rows") {
    val bronze = Files.createTempDirectory("graft-etl-bronze2").toString
    val gold = Files.createTempDirectory("graft-etl-gold2").toString + "/weather"
    writeBronzePartition(bronze, "2025-08-29", "14", Seq(
      rec("Austin", "2025-08-29T14:05:00Z"),
      // out-of-range humidity: tagged, not dropped
      s"""{"app":"rxlan","stage":"dev","source":"openweather","fetched_at_utc":"2025-08-29T14:06:00Z","city":"Bad","country":"US","temp_c":20.0,"humidity":200,"pressure":1013}"""))
    writeBronzePartition(bronze, "2025-08-30", "03", Seq(
      rec("Chicago", "2025-08-30T03:01:00Z")))

    val m = Etl.run(spark, Etl.Config(bronze, gold, full = true))
    assert(m("rows") == 3L)
    assert(m("tagged_rows") == 1L)
    val out = spark.read.parquet(gold)
    // event-time partition columns re-derived and written hive-style
    assert(out.filter(org.apache.spark.sql.functions.col("dt") === "2025-08-30").count() == 1)
  }

  test("--snapshot gold: each run publishes one atomic version; re-run stays idempotent") {
    import graft.sinks.Snapshots
    val bronze = Files.createTempDirectory("graft-etl-bronze4").toString
    val gold = Files.createTempDirectory("graft-etl-gold4").toString + "/weather"
    writeBronzePartition(bronze, "2025-08-29", "14", Seq(
      rec("Austin", "2025-08-29T14:05:00Z")))
    writeBronzePartition(bronze, "2025-08-29", "15", Seq(
      rec("Boston", "2025-08-29T15:01:00Z")))

    val h14 = Etl.Config(bronze, gold,
      dtFilter = Some("2025-08-29"), hourFilter = Some("14"), snapshot = true)
    Etl.run(spark, h14)
    Etl.run(spark, Etl.Config(bronze, gold,
      dtFilter = Some("2025-08-29"), hourFilter = Some("15"), snapshot = true))
    val now = Snapshots.read(spark, gold)
    assert(now.count() == 2)
    assert(Snapshots.versions(spark, gold) == Seq(1L, 2L))
    // hour-15 run's change feed contains exactly its own rows
    val delta = Snapshots.changes(spark, gold, 1L, 2L)
    assert(delta.select("city").as[String].collect().toSeq == Seq("Boston"))
    // re-running hour 14 overwrites ONLY its partition — still 2 rows
    Etl.run(spark, h14)
    assert(Snapshots.read(spark, gold).count() == 2)
    // time travel to the first load still works
    assert(Snapshots.read(spark, gold, Some(1L)).count() == 1)
  }

  test("--quarantine routes malformed bronze lines and still loads the good rows") {
    val bronze = Files.createTempDirectory("graft-etl-bronze3").toString
    val gold = Files.createTempDirectory("graft-etl-gold3").toString + "/weather"
    val qdir = Files.createTempDirectory("graft-etl-q").toString + "/bad"
    writeBronzePartition(bronze, "2025-08-29", "14", Seq(
      rec("Austin", "2025-08-29T14:05:00Z"),
      """{"broken json line""",
      rec("Boston", "2025-08-29T14:10:00Z")))

    val m = Etl.run(spark, Etl.Config(bronze, gold, full = true,
      quarantine = Some(qdir)))
    assert(m("rows") == 2L)
    val quarantined = spark.read.text(qdir).collect().map(_.getString(0))
    assert(quarantined.length == 1 && quarantined.head.contains("broken json"))
  }

  test("a quarantine run leaves nothing cached") {
    val bronze = Files.createTempDirectory("graft-etl-bronze4").toString
    val gold = Files.createTempDirectory("graft-etl-gold4").toString + "/weather"
    val qdir = Files.createTempDirectory("graft-etl-q4").toString + "/bad"
    writeBronzePartition(bronze, "2025-08-29", "14", Seq(
      rec("Austin", "2025-08-29T14:05:00Z"), """{"broken""", rec("Boston", "2025-08-29T14:10:00Z")))
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    for (snapshot <- Seq(false, true)) {
      val m = Etl.run(spark, Etl.Config(bronze, gold + snapshot, full = true,
        quarantine = Some(qdir + snapshot), snapshot = snapshot))
      assert(m("rows") == 2L)
      assert(cache.isEmpty, s"snapshot = $snapshot: the run left a cached plan behind")
    }
  }
}
