package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the compact-code ANN tier, complementing
  * [[IvfIndex]] (coarse partition pruning) and [[Quantize]] (scalar int8):
  * each vector splits into `m` subvectors, each subspace learns `k`
  * centroids, and a vector encodes as `m` one-byte codes (m bytes vs 8·d
  * for doubles — 64× smaller at d=64, m=8).
  *
  * Search uses asymmetric distance computation (ADC): per query, an m×k
  * table of exact subspace distances query↔centroid is precomputed ONCE;
  * each candidate then costs m byte-indexed table lookups — no float math
  * per candidate. Ranking by ADC distance approximates exact L2 ranking
  * (= cosine ranking for normalized vectors).
  *
  * Scale shape: codebooks train on a BOUNDED deterministic sample at the
  * driver (industry practice — PQ codebooks for billion-vector indexes
  * train on ~10⁵ samples); encoding is a map-only projection with the
  * codebooks in the task closure; search is map-only scoring + a bounded
  * top-k aggregate. Nothing driver-side scales with table size.
  */
object PqIndex {

  /** codebooks(sub)(centroid)(dim) — trained by per-subspace Lloyd's on the
    * first `sampleN` vectors by id (deterministic). */
  def train(
      vectors: DataFrame, // (id, vec)
      m: Int = 8,
      k: Int = 16,
      sampleN: Int = 10000,
      iters: Int = 5): Array[Array[Array[Double]]] =
    trainOnPoints(sampleVectors(vectors, sampleN), m, k, iters)

  /** Deterministic bounded training sample: the first `sampleN` ids. */
  private[ext] def sampleVectors(vectors: DataFrame, sampleN: Int): Array[Array[Double]] =
    vectors
      .select(col("id"), col("vec").cast("array<double>").as("v"))
      .orderBy("id").limit(sampleN)
      .collect().map(_.getSeq[Double](1).toArray)

  /** Subspace codebooks from in-memory points — shared with [[IvfPq]],
    * which trains on coarse-quantizer RESIDUALS instead of raw vectors. */
  private[ext] def trainOnPoints(
      sample: Array[Array[Double]],
      m: Int,
      k: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "empty training sample")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val sub = d / m
    Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      // value-level dedupe: Array equality is reference-based, so a plain
      // pts.distinct would keep duplicate subvectors as duplicate seeds
      var cents = pts.map(_.toSeq).distinct.take(k).map(_.toArray)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(cents.length)(new Array[Double](sub))
        val counts = new Array[Int](cents.length)
        pts.foreach { p =>
          val c = nearest(p, 0, cents)
          counts(c) += 1
          var i = 0
          while (i < sub) { sums(c)(i) += p(i); i += 1 }
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c)
          else { val o = new Array[Double](sub); var i = 0
            while (i < sub) { o(i) = sums(c)(i) / counts(c); i += 1 }; o }
        }.toArray
        it += 1
      }
      cents
    }
  }

  /** Squared L2 distance between `b` and the `b.length` elements of `a`
    * starting at `off` — the one distance loop behind [[nearest]],
    * [[adcTable]] and the IVF+PQ probe. */
  private[ext] def sqL2(a: Array[Double], off: Int, b: Array[Double]): Double = {
    var dd = 0.0
    var i = 0
    while (i < b.length) { val t = a(off + i) - b(i); dd += t * t; i += 1 }
    dd
  }

  /** Index of the centroid nearest the subvector of `p` at `off`; ties go
    * to the first (lowest code). */
  private[ext] def nearest(p: Array[Double], off: Int, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val dd = sqL2(p, off, cents(c))
      if (dd < bestD) { bestD = dd; best = c } // ties: first (lowest code)
      c += 1
    }
    best
  }

  /** The m one-byte codes of `v`: code(j) = nearest centroid of subvector j. */
  private[ext] def encodeSubvectors(
      v: Array[Double],
      codebooks: Array[Array[Array[Double]]]): Array[Byte] = {
    val sub = codebooks(0)(0).length
    Array.tabulate(codebooks.length)(j => nearest(v, j * sub, codebooks(j)).toByte)
  }

  /** Map-only encode: (id, code: binary), code(j) = nearest centroid of
    * subvector j. Codebooks ride the task closure (m·k·sub doubles). */
  def encode(vectors: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val enc = udf((v: Seq[Double]) => encodeSubvectors(v.toArray, codebooks))
    vectors.select(col("id"), enc(col("vec").cast("array<double>")).as("code"))
  }

  /** ADC table for one query vector: flat m·k doubles, entry (j, c) =
    * ||q_j − centroid_jc||². */
  private[ext] def adcTable(q: Array[Double], codebooks: Array[Array[Array[Double]]]): Array[Double] = {
    val sub = codebooks(0)(0).length
    codebooks.zipWithIndex.flatMap { case (book, j) => book.map(sqL2(q, j * sub, _)) }
  }

  /** BUILD JOB: train codebooks and materialize the code table ONCE (codes
    * snapshot first, then the model file — its presence marks a complete
    * index). Load-or-build: an existing index is reused, so queries through
    * [[searchIndexed]] never re-train. */
  def buildIndex(
      vectors: DataFrame,
      dir: String,
      m: Int = 8,
      k: Int = 16,
      sampleN: Int = 10000,
      iters: Int = 5): Array[Array[Array[Double]]] =
    IndexStore.loadOrBuild(dir)(train(vectors, m, k, sampleN, iters)) { books =>
      graft.sinks.Snapshots.commit(encode(vectors, books), s"$dir/codes",
        org.apache.spark.sql.SaveMode.Overwrite)
    }

  /** SEARCH-ONLY path against a [[buildIndex]]-persisted index: load the
    * codebooks (kilobytes), scan the m-byte codes. ADC is a full-scan method
    * by design — the win is the 8·d/m code compression, not pruning (IVF+PQ
    * composes both). No training in the query path. */
  def searchIndexed(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      dir: String,
      topK: Int): DataFrame = {
    val model = IndexStore.loadBuilt[Array[Array[Array[Double]]]](dir, "PQ")
    search(queries, graft.sinks.Snapshots.read(spark, s"$dir/codes"), model, topK)
  }

  /** Approximate top-k by ADC distance (ascending). Output:
    * (query_id, neighbor_id, adist, rank) — ranked with the bounded top-k
    * aggregate, so the shuffle carries ≤ topK rows per partial.
    *
    * The query side resolves DRIVER-SIDE (the bounded-collect discipline of
    * the index builds — a serving batch is a handful of vectors): carrying
    * the m·k-double ADC table as a JOIN COLUMN copies the ~32 KB array into
    * every (candidate × query) row and re-converts it per UDF call —
    * observed as a multi-second single-task stage at 2000 candidates × 5
    * queries (guide §1.2 per-task work, §2.3 ship keys not payloads). The
    * tables ship ONCE per task through [[adcTopK]]'s broadcast, and the
    * scoring UDF receives only keys and the code. */
  def search(
      queries: DataFrame, // (id, vec)
      encoded: DataFrame, // (id, code) from encode()
      codebooks: Array[Array[Array[Double]]],
      topK: Int,
      roundTo: Int = 6): DataFrame = {
    val qRows = queryVectors(queries)
    val tables: Map[(Long, Int), Array[Double]] = qRows.iterator
      .map { case (qid, v) => (qid, 0) -> adcTable(v, codebooks) }
      .toMap
    val qids: Seq[Long] = qRows.map(_._1).toSeq.sorted
    adcTopK(
      encoded.select(explode(typedlit(qids)).as("query_id"), lit(0).as("cluster_id"),
        col("id").as("neighbor_id"), col("code")),
      tables, codebooks(0).length, topK, roundTo)
  }

  /** The query batch collected at the driver as (id, vector). */
  private[ext] def queryVectors(queries: DataFrame): Array[(Long, Array[Double])] =
    queries
      .select(col("id").cast("long").as("id"), col("vec").cast("array<double>").as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)

  /** The one ADC scorer behind [[search]] and [[IvfPq.search]]: `pairs`
    * carries (query_id, cluster_id, neighbor_id, code), and `tables` maps
    * (query id, list) to that query's flat m·k table for the list (flat PQ
    * is list 0). The tables ship once per task in a broadcast; each code
    * costs m byte-indexed lookups. Output: (query_id, neighbor_id, adist,
    * rank), the `topK` smallest rounded distances per query. */
  private[ext] def adcTopK(
      pairs: DataFrame,
      tables: Map[(Long, Int), Array[Double]],
      k: Int,
      topK: Int,
      roundTo: Int): DataFrame = {
    val tablesB = pairs.sparkSession.sparkContext.broadcast(tables)
    val scoreUdf = udf((qid: Long, cid: Int, code: Array[Byte]) => {
      val tbl = tablesB.value((qid, cid))
      var s = 0.0
      var j = 0
      while (j < code.length) { s += tbl(j * k + (code(j) & 0xFF)); j += 1 }
      s
    })
    val scored = pairs
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(scoreUdf(col("query_id"), col("cluster_id"), col("code")), roundTo).as("adist"))
    // top-k by SMALLEST distance: feed the max-heap the negated value
    graft.functions.TopKAggregate.rankedTopK(scored, Seq("query_id"), -col("adist"),
        col("neighbor_id"), topK)
      .select(col("query_id"), col("id").as("neighbor_id"), (-col("v")).as("adist"), col("rank"))
  }
}
