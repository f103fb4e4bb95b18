package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the partition-pruned
  * scale path for embedding search, complementing the LSH variant:
  *
  *  1. TRAIN: k coarse centroids by Lloyd's iterations, fully in DataFrame
  *     ops (assignment = map-side argmax over the collected centroids;
  *     update = one two-phase [[graft.functions.CentroidAggregator]] mean
  *     per cluster). Init is
  *     deterministic (first k distinct ids) so results don't depend on
  *     partition layout.
  *  2. BUILD: every vector assigned to its nearest centroid — the inverted
  *     lists. At scale this is a write once, `partitionBy(cluster_id)` table:
  *     each query then reads only the probed partitions.
  *  3. SEARCH: queries probe their `nprobe` nearest centroids and brute-force
  *     only those lists — the candidate set shrinks by ~k/nprobe versus a
  *     full scan, and with nprobe = k the result is exactly brute force
  *     (spec-pinned).
  *
  * All similarity math uses the codegen'd [[graft.functions.CosineSimilarity]].
  */
object IvfIndex {

  private def cos = graft.functions.CosineSimilarity.cosine_similarity _

  /** Nearest-centroid assignment, genuinely map-side: centroids are k rows
    * by construction, so they are collected once and closed over by a single
    * JVM argmax — the vector table streams through a narrow projection with
    * NO shuffle and no k× row expansion. (The previous formulation
    * cross-joined k rows per vector and ranked them with a row_number
    * window, shuffling the expanded table; a groupBy+max_by argmax would
    * still shuffle one vector-payload row per id.) Ties go to the lowest
    * cluster_id, matching `ORDER BY cos DESC, cluster_id`. */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val cents: Array[(Int, Array[Double])] = centroids
      .select(col("cluster_id").cast("int"), col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // closure-captured centroid matrix: k·d doubles ride the task binary
    // (tens of KB for any sane k) — below the threshold where an explicit
    // sc.broadcast would pay off
    val nearest = udf((v: Seq[Double]) => {
      val a = v.toArray
      var na = 0.0
      var j = 0
      while (j < a.length) { na += a(j) * a(j); j += 1 }
      var best = if (cents.isEmpty) -1 else cents(0)._1
      var bestCos = Double.NegativeInfinity
      var i = 0
      while (i < cents.length) {
        val c = cents(i)._2
        var dot = 0.0
        var nb = 0.0
        val n = math.min(a.length, c.length)
        j = 0
        while (j < n) { dot += a(j) * c(j); nb += c(j) * c(j); j += 1 }
        val cosv = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        if (cosv > bestCos) { bestCos = cosv; best = cents(i)._1 }
        i += 1
      }
      best
    })
    vectors.select(col("id"), col("vec"),
      nearest(col("vec").cast("array<double>")).as("cluster_id"))
  }

  /** Train k centroids with `iters` Lloyd's iterations.
    * Returns (cluster_id, centroid: array<double>).
    *
    * Centroids are MATERIALIZED at the driver after every iteration
    * (they're k rows by construction — collecting them is scale-safe at any
    * table size): without this, each iteration's plan nests the previous
    * one's, and the final search re-derives the whole training chain every
    * time it touches the centroid frame. */
  def train(vectors: DataFrame, k: Int, iters: Int = 3,
      trainSampleN: Int = 4096): DataFrame = {
    val spark = vectors.sparkSession
    // Lloyd's iterations run on a bounded DETERMINISTIC sample (lowest ids),
    // not the full table: codebook quality needs a representative sample,
    // not the corpus, and this turns `iters` full-table scans into sample
    // scans — at 100 TB the difference between training in seconds and
    // re-reading the table three times. Assignment of ALL vectors happens
    // once, in [[build]]. nprobe=k ≡ brute-force still holds for ANY
    // centroid set (spec-pinned), so sampling affects recall only through
    // codebook quality, which the recall specs bound.
    def materialize(df: DataFrame): DataFrame =
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(df.collect(): _*)),
        df.schema)
    // the sample is MATERIALIZED once — left lazy, every iteration's assign
    // would re-run the full-table orderBy+limit scan, which is exactly what
    // sampling is meant to avoid
    val base = materialize(
      vectors.select(col("id"), col("vec").cast("array<double>").as("vec"))
        .orderBy("id").limit(trainSampleN))
    // deterministic init: the k lowest-id vectors, numbered at the driver
    // (k rows by construction — avoids even a k-row unpartitioned window,
    // which would log a global-window warning on every train)
    val seedRows = base.orderBy("id").limit(k).select("vec").collect()
    var centroids = centroidFrame(spark,
      seedRows.zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](0).toArray) })
    val mean = graft.functions.CentroidAggregator.centroid(
      seedRows.headOption.fold(0)(_.getSeq[Double](0).length))
    var i = 0
    while (i < iters) {
      centroids = materialize(assign(base, centroids)
        .groupBy("cluster_id")
        .agg(mean(col("vec")).cast("array<double>").as("centroid")))
      i += 1
    }
    centroids
  }

  /** Inverted lists: every vector with its nearest-centroid cluster_id. */
  def build(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assign(vectors.select(col("id"), col("vec").cast("array<double>").as("vec")),
      centroids)

  /** Probe-limited top-k: each query scans only its `nprobe` nearest
    * inverted lists. Output: (query_id, neighbor_id, cos, rank). */
  def search(
      queries: DataFrame, // (id, vec)
      invertedLists: DataFrame, // from build: (id, vec, cluster_id)
      centroids: DataFrame,
      k: Int,
      nprobe: Int,
      roundTo: Int = 6): DataFrame = {
    val lists = invertedLists.select(
      col("cluster_id"), col("id").as("neighbor_id"), col("vec").as("cv"))
    // Rank with the bounded top-k aggregate, not a window: the shuffle then
    // carries ≤ k pairs per (partition, query) partial instead of every
    // scored candidate. Rounding happens BEFORE ranking and ties break on
    // the smaller neighbor_id — both matching bruteForceTopK, so the
    // nprobe = k ≡ brute force pin still holds bit-for-bit.
    val scored = probes(queries, centroids, nprobe)
      .join(lists, "cluster_id") // co-partitioned by cluster at scale
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cos(col("qv"), col("cv")), roundTo).as("cos"))
    graft.functions.TopKAggregate.rankedTopK(scored, Seq("query_id"), col("cos"),
        col("neighbor_id"), k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("v").as("cos"), col("rank"))
  }

  /** Each query's `nprobe` nearest lists as (query_id, qv, cluster_id):
    * codegen'd cosine against the broadcast centroids, ranked per query,
    * ties to the lower cluster_id. */
  private def probes(queries: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val probeW = Window.partitionBy("query_id").orderBy(col("_c").desc, col("cluster_id"))
    queries.select(col("id").as("query_id"), col("vec").cast("array<double>").as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("_c", cos(col("qv"), col("centroid")))
      .withColumn("_rn", row_number().over(probeW))
      .filter(col("_rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("cluster_id"))
  }

  /** The one centroid-frame schema, shared by [[train]]'s seed init and
    * [[trainCached]]'s cache-load path — a schema drift between the trained
    * and cache-loaded shapes would only surface on cache hits. */
  private def centroidFrame(
      spark: SparkSession,
      rows: Seq[(Int, Array[Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (cid, c) =>
        org.apache.spark.sql.Row(cid, c.toSeq)
      }, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cluster_id",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = true))))

  /** [[train]] behind a driver-side centroid cache ([[IndexStore]], the
    * PQ/OPQ model pattern): the first call for a (cacheKey, k) pair runs
    * Lloyd's and persists the k·d-double codebook as one atomic file; later
    * calls load it — so repeated in-path queries (bench passes, retried
    * jobs) pay assignment + search only, never retraining. Fold a
    * [[IndexStore.dataFingerprint]] into `cacheKey` so a regenerated source
    * table misses the stale codebook and retrains. */
  def trainCached(vectors: DataFrame, k: Int, cacheKey: String,
      iters: Int = 3, trainSampleN: Int = 4096,
      claimId: Option[String] = None): DataFrame = {
    val spark = vectors.sparkSession
    // EVERY training parameter is part of the cache identity, not just k:
    // a codebook trained with different Lloyd's iterations or sample size
    // is a different codebook, and the queries served from it are rows-only
    // (no oracle) — a partial key would silently serve stale geometry.
    val dir = IndexStore.indexDir("ivf-centroids", cacheKey, s"k$k-i$iters-s$trainSampleN")
    val path = s"$dir/centroids.bin"
    val cents: Array[(Int, Array[Double])] =
      IndexStore.load[Array[(Int, Array[Double])]](path).getOrElse {
        val trained = train(vectors, k, iters, trainSampleN)
          .select(col("cluster_id").cast("int"),
            col("centroid").cast("array<double>"))
          .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        IndexStore.save(path, trained)
        trained
      }
    // vacuum: cacheKey embeds the data fingerprint, so a regenerated source
    // strands the old vintage's codebook — the registry reclaims it. Two
    // deliberate choices: (a) claim AFTER the load-or-train above, so a
    // failed training run leaves both the previous vintage and its registry
    // entry intact (never a registry pointing at a dir that was never
    // built); (b) the FULL training geometry is folded into the logical id,
    // not just the caller's k-based id — codebooks trained with different
    // iters/sampleN are different artifacts, and a shared id would make
    // them vacuum each other on every call, silently retraining forever.
    claimId.foreach(id => IndexStore.claim(s"$id|i$iters|s$trainSampleN", dir))
    centroidFrame(spark, cents.toSeq)
  }

  /** BUILD JOB: train centroids and materialize the inverted lists ONCE as a
    * snapshot table hive-partitioned by `cluster_id` (plus a k-row centroids
    * snapshot). This is the indexing job a 100 TB deployment runs offline /
    * incrementally (see `StreamingOps.startIndexMaintenance`); queries then
    * probe via [[searchIndexed]] and touch only `nprobe` partitions.
    * Idempotent: an existing committed index is left untouched unless
    * `overwrite`. Returns true when a build actually ran. */
  def buildIndex(
      vectors: DataFrame,
      indexDir: String,
      nClusters: Int,
      overwrite: Boolean = false): Boolean = {
    val spark = vectors.sparkSession
    val exists = graft.sinks.Snapshots.versions(spark, s"$indexDir/lists").nonEmpty
    if (exists && !overwrite) false
    else {
      val centroids = train(vectors, nClusters)
      graft.sinks.Snapshots.commit(centroids, s"$indexDir/centroids",
        org.apache.spark.sql.SaveMode.Overwrite)
      // dynamic partition overwrite: every cluster is present in a full
      // rebuild, so all partitions are replaced; an incremental refresh
      // would commit only re-assigned clusters
      graft.sinks.Snapshots.commitPartitioned(build(vectors, centroids),
        s"$indexDir/lists", Seq("cluster_id"), org.apache.spark.sql.SaveMode.Overwrite)
      true
    }
  }

  /** SEARCH-ONLY path against a [[buildIndex]]-persisted index: the probed
    * cluster set is resolved first (≤ |Q|·nprobe ids — queries are the small
    * side of ANN serving by construction), then the inverted lists are read
    * with a manifest-level partition filter, so only the probed partitions'
    * files are LISTED, let alone scanned. Ranking reuses [[search]]. */
  def searchIndexed(
      spark: SparkSession,
      queries: DataFrame, // (id, vec)
      indexDir: String,
      k: Int,
      nprobe: Int): DataFrame = {
    val centroids = graft.sinks.Snapshots.read(spark, s"$indexDir/centroids")
    val probed: Set[String] = probes(queries, centroids, nprobe)
      .select(col("cluster_id").cast("string"))
      .distinct().collect().map(_.getString(0)).toSet
    val lists = graft.sinks.Snapshots.read(spark, s"$indexDir/lists",
        partitionFilter = spec => spec.get("cluster_id").exists(probed))
      .select(col("id"), col("vec"), col("cluster_id").cast("int").as("cluster_id"))
    search(queries, lists, centroids, k, nprobe)
  }

  /** INCREMENTAL MAINTENANCE (batch twin of
    * [[graft.streaming.StreamingOps.startIndexMaintenance]]): assign a delta
    * batch to the EXISTING centroids and append it to the partitioned lists
    * snapshot — the daily-ingest path. No retrain, no rebuild: only the
    * clusters the delta lands in receive new files (partition-scoped
    * Append), every other partition carries forward as manifest references,
    * and searches see the delta atomically at the next snapshot version.
    * Centroid drift is an offline retrain decision (rebuild with
    * `overwrite = true`), not an ingest-path one. The optional (appId,
    * batchId) txn watermark makes replayed batches idempotent no-ops.
    * Returns the published snapshot version.
    *
    * Maintained ≡ rebuilt (spec-pinned): because assignment depends only on
    * the frozen centroids, appending a delta yields byte-identical search
    * results to rebuilding the lists from corpus ∪ delta with those same
    * centroids. */
  def appendDelta(
      delta: DataFrame, // (id, vec)
      indexDir: String,
      txn: Option[(String, Long)] = None): Long = {
    val spark = delta.sparkSession
    val centroids = graft.sinks.Snapshots.read(spark, s"$indexDir/centroids")
    graft.sinks.Snapshots.commitPartitioned(build(delta, centroids),
      s"$indexDir/lists", Seq("cluster_id"),
      org.apache.spark.sql.SaveMode.Append, txn = txn)
  }

  /** Stable on-disk location for a table's index artifacts, keyed by the
    * source dir and the index geometry (a geometry change is a new index). */
  def indexDir(sfDir: String, nClusters: Int): String =
    s"${sys.props("java.io.tmpdir")}/graft-index/ivf-${IndexStore.dirKey(sfDir)}-k$nClusters"
}
