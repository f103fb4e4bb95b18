package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sinks.Snapshots

/** [[StreamingOps.sweepOrphanChunks]] with candidates on a chunk table that
  * has a version but no spec (every bucket erased): nothing is stored, so
  * the sweep returns before its coverage check and never reads the
  * manifest table or the chunk snapshot. */
class ChunkSweepSpec extends SparkSpec {
  import spark.implicits._

  test("a candidate sweep of a fully-erased chunk table no-ops without reading either table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sweep-erased").toString
    val (chunkT, manT) = (s"$dir/chunks", s"$dir/manifest")
    val hash = "digest-1"
    val bucket = Seq(hash).toDF("chunk_hash")
      .select(pmod(xxhash64($"chunk_hash"), lit(64)).cast("string")).as[String].head()
    Snapshots.commitPartitioned(
      Seq((hash, "erased text", bucket)).toDF("chunk_hash", "ctext", "cbucket"),
      chunkT, Seq("cbucket"))
    Snapshots.commitPartitionReplace(
      Seq.empty[(String, String, String)].toDF("chunk_hash", "ctext", "cbucket"),
      chunkT, Seq("cbucket"), Seq(s"cbucket=$bucket"))
    assert(Snapshots.partitions(spark, chunkT).isEmpty)
    Snapshots.commit(Seq((1L, hash)).toDF("doc_id", "chunk_hash"), manT)
    // an unparseable manifest-table snapshot: any reference read throws
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$manT/_manifests/v00001.json"), "not a manifest")
    val candidates = Some(Seq(hash).toDF("chunk_hash"))

    StreamingOps.sweepOrphanChunks(spark, manT, chunkT, candidates)
    assert(Snapshots.versions(spark, chunkT) == Seq(1L, 2L))

    // the same on a pre-schema empty chunk manifest, whose scan would throw
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val v2 = new java.io.File(s"$chunkT/_manifests/v00002.json")
    val m = mapper.readTree(v2).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    m.remove("schema")
    mapper.writeValue(v2, m)
    StreamingOps.sweepOrphanChunks(spark, manT, chunkT, candidates)
    assert(Snapshots.versions(spark, chunkT) == Seq(1L, 2L))
  }
}
