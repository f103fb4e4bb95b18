package graft.ext

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def emb = Tables.embeddings(spark, sf)
    .select($"vec_id".as("id"), $"embedding".as("vec"))

  private def exactTop10: Set[(Long, Long)] = {
    val all = emb.select($"id", $"vec".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    (0L until 5L).flatMap { q =>
      val qv = all(q)
      all.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          var s = 0.0
          var i = 0
          while (i < qv.length) { val t = qv(i) - v(i); s += t * t; i += 1 }
          (id, s)
        }
        .sortBy { case (id, s) => (s, id) }.take(10)
        .map { case (id, _) => (q, id) }
    }.toSet
  }

  test("every vector lands in exactly one list; codes are m bytes") {
    val model = IvfPq.train(emb, nlist = 8, m = 16, k = 256, sampleN = 2000)
    val enc = IvfPq.encode(emb, model)
    assert(enc.count() == 500)
    assert(enc.select("cluster_id").distinct().count() <= 8)
    assert(enc.select("code").head().getAs[Array[Byte]](0).length == 16)
  }

  test("full-probe IVF+PQ recalls exact-L2 neighbors (residual coding)") {
    val model = IvfPq.train(emb, nlist = 8, m = 16, k = 256, sampleN = 2000)
    val got = IvfPq.search(emb.filter($"id" < 5), IvfPq.encode(emb, model),
        model, topK = 10, nprobe = 8)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exactTop10 intersect got).size.toDouble / exactTop10.size
    assert(recall >= 0.7, s"full-probe recall@10 = $recall")
  }

  test("nprobe=1 keeps most in-list recall on clustered data") {
    val model = IvfPq.train(emb, nlist = 8, m = 16, k = 256, sampleN = 2000)
    val got = IvfPq.search(emb.filter($"id" < 5), IvfPq.encode(emb, model),
        model, topK = 10, nprobe = 1)
      .select($"query_id", $"neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query still returns a full top-10 from its own list
    assert(got.size == 50)
    val recall = (exactTop10 intersect got).size.toDouble / exactTop10.size
    assert(recall >= 0.4, s"nprobe=1 recall@10 = $recall")
  }
  test("persisted index: searchIndexed ≡ in-path search; probe prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx").toString + "/idx"
    val model = IvfPq.buildIndex(emb, dir, nlist = 8, m = 8, k = 16, sampleN = 300)
    val queries = emb.filter($"id" < 3)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val inline = IvfPq.search(queries, IvfPq.encode(emb, model), model, topK = 5, nprobe = 2)
    val indexed = IvfPq.searchIndexed(spark, queries, dir, topK = 5, nprobe = 2)
    assert(key(indexed) == key(inline))
    // manifest-level pruning: the scan must touch at most |probed| <= 3*2
    // cluster partitions out of 8 (and never all of them)
    val scanned = indexed.inputFiles.filter(_.contains("cluster_id="))
      .map(_.split("cluster_id=")(1).split("/")(0)).distinct
    assert(scanned.nonEmpty && scanned.length < 8,
      s"probe scanned all partitions: ${scanned.mkString(",")}")
  }

  test("searchIndexed collects the query batch once before its result is consumed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-jobs").toString + "/idx"
    IvfPq.buildIndex(emb, dir, nlist = 8, m = 8, k = 16, sampleN = 300)
    val queries = emb.filter($"id" < 3)
    // one collect of the query batch feeds both the partition filter and
    // the ADC tables
    val (_, jobs) = jobsDuring(IvfPq.searchIndexed(spark, queries, dir, topK = 5, nprobe = 2))
    assert(jobs == 1, s"searchIndexed started $jobs jobs before its result was consumed")
  }
}
