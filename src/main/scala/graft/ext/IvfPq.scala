package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF+PQ — the composed billion-scale ANN index (the FAISS `IndexIVFPQ`
  * shape, re-expressed Spark-first): a coarse quantizer partitions vectors
  * into `nlist` inverted lists, and within each list a vector stores only
  * the PQ code of its RESIDUAL (v − coarse centroid). Residuals concentrate
  * near the origin, so the same codebook budget quantizes them far more
  * accurately than raw vectors — that is what makes the composition beat
  * either tier alone.
  *
  * Search probes the `nprobe` nearest lists per query; for each probed list
  * the query builds an ADC table from its OWN residual against that list's
  * centroid, so every candidate in the list costs m byte-indexed lookups.
  *
  * Scale shape: train touches a bounded sample at the driver; encode is a
  * map-only projection (centroids + codebooks in the task closure); the
  * probe join partitions by `cluster_id` — written as a
  * `partitionBy(cluster_id)` table, a search reads nprobe/nlist of the
  * data and the shuffle carries ≤ topK rows per partial.
  */
object IvfPq {

  final case class Model(
      centroids: Array[Array[Double]], // index = cluster_id
      books: Array[Array[Array[Double]]])

  private def residual(v: Array[Double], c: Array[Double]): Array[Double] = {
    val r = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { r(i) = v(i) - c(i); i += 1 }
    r
  }

  /** Coarse centroids by whole-vector Lloyd's, then PQ codebooks on the
    * sample's residuals — both from one bounded deterministic sample. */
  def train(
      vectors: DataFrame, // (id, vec)
      nlist: Int = 16,
      m: Int = 16,
      k: Int = 256,
      sampleN: Int = 10000,
      iters: Int = 5): Model = {
    val sample = PqIndex.sampleVectors(vectors, sampleN)
    val coarse = PqIndex.trainOnPoints(sample, m = 1, k = nlist, iters = iters)(0)
    val residuals = sample.map(v => residual(v, coarse(PqIndex.nearest(v, 0, coarse))))
    Model(coarse, PqIndex.trainOnPoints(residuals, m, k, iters))
  }

  /** Map-only encode: (id, cluster_id, code) — code = PQ(v − centroid). */
  def encode(vectors: DataFrame, model: Model): DataFrame = {
    val enc = udf((v: Seq[Double]) => {
      val arr = v.toArray
      val c = PqIndex.nearest(arr, 0, model.centroids)
      (c, PqIndex.encodeSubvectors(residual(arr, model.centroids(c)), model.books))
    })
    vectors
      .select(col("id"), enc(col("vec").cast("array<double>")).as("e"))
      .select(col("id"), col("e._1").as("cluster_id"), col("e._2").as("code"))
  }

  /** Probe-limited ADC top-k. Output: (query_id, neighbor_id, adist, rank).
    *
    * The query side resolves DRIVER-SIDE (the [[searchIndexed]] bounded-
    * collect discipline — a serving batch is a handful of vectors): per
    * query, its nprobe nearest lists and the ADC table of the query's
    * residual against each probed list's centroid. Carrying those m·k-double
    * tables as a JOIN COLUMN copied ~32 KB into every (candidate × probe)
    * row and re-converted it per UDF call (see [[PqIndex.search]]); the
    * tables now ship ONCE per task in a broadcast keyed by (query id,
    * list), and the probe pairs join as a literal relation on cluster_id
    * alone — co-partitioned by list at scale, ids-only shuffle. */
  def search(
      queries: DataFrame, // (id, vec)
      encoded: DataFrame, // from encode()
      model: Model,
      topK: Int,
      nprobe: Int,
      roundTo: Int = 6): DataFrame =
    searchProbed(probe(queries, model, nprobe), encoded, model, topK, roundTo)

  /** The query batch, collected once, with each query's `nprobe` nearest
    * lists by squared L2 (ties to the lower list): (query id, vector,
    * probed lists). */
  private def probe(
      queries: DataFrame,
      model: Model,
      nprobe: Int): Seq[(Long, Array[Double], Seq[Int])] =
    PqIndex.queryVectors(queries).toSeq.map { case (qid, v) =>
      val lists = model.centroids.indices
        .map(c => (c, PqIndex.sqL2(v, 0, model.centroids(c))))
        .sortBy { case (c, dd) => (dd, c) }
        .take(nprobe).map(_._1)
      (qid, v, lists)
    }

  /** ADC-rank `encoded` for already-probed queries: one table per (query,
    * probed list) from the query's residual against that list's centroid,
    * and the (query, list) pairs joined as a literal relation on cluster_id
    * alone — co-partitioned by list at scale, ids-only shuffle. */
  private def searchProbed(
      probes: Seq[(Long, Array[Double], Seq[Int])],
      encoded: DataFrame,
      model: Model,
      topK: Int,
      roundTo: Int): DataFrame = {
    val pairs = probes.flatMap { case (qid, _, lists) => lists.map(c => (qid, c)) }
    val tables = probes.flatMap { case (qid, v, lists) =>
      lists.map(c => (qid, c) -> PqIndex.adcTable(residual(v, model.centroids(c)), model.books))
    }.toMap
    val q = encoded.sparkSession.range(1)
      .select(explode(typedlit(pairs.sorted)).as("p"))
      .select(col("p._1").as("query_id"), col("p._2").as("cluster_id"))
    PqIndex.adcTopK(
      encoded.select(col("id").as("neighbor_id"),
          col("cluster_id").cast("int").as("cluster_id"), col("code"))
        .join(broadcast(q), "cluster_id"), // co-partitioned by list at scale
      tables, model.books(0).length, topK, roundTo)
  }

  /** BUILD JOB: train coarse+residual quantizers, materialize the code table
    * once hive-partitioned by `cluster_id` — so a probe reads nprobe/nlist
    * of the files (manifest-level pruning, no LIST over unprobed lists). */
  def buildIndex(
      vectors: DataFrame,
      dir: String,
      nlist: Int = 16,
      m: Int = 16,
      k: Int = 256,
      sampleN: Int = 10000): Model =
    IndexStore.loadOrBuild(dir)(train(vectors, nlist, m, k, sampleN)) { model =>
      graft.sinks.Snapshots.commitPartitioned(encode(vectors, model),
        s"$dir/lists", Seq("cluster_id"), org.apache.spark.sql.SaveMode.Overwrite)
    }

  /** SEARCH-ONLY path: the query batch is collected and probed once at the
    * driver; its probed lists drive both the manifest-level partition
    * filter on the code table and the ADC scoring. No training in the
    * query path. */
  def searchIndexed(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      dir: String,
      topK: Int,
      nprobe: Int): DataFrame = {
    val model = IndexStore.loadBuilt[Model](dir, "IVFPQ")
    val probes = probe(queries, model, nprobe)
    val probed: Set[String] = probes.flatMap(_._3).map(_.toString).toSet
    val codes = graft.sinks.Snapshots.read(spark, s"$dir/lists",
        partitionFilter = spec => spec.get("cluster_id").exists(probed))
      .select(col("id"), col("cluster_id").cast("int").as("cluster_id"), col("code"))
    searchProbed(probes, codes, model, topK, roundTo = 6)
  }
}
