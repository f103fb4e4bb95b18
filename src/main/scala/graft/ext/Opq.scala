package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Optimized product quantization (OPQ) — a learned orthonormal rotation
  * applied before [[PqIndex]] coding, so the PQ subspaces cut the data
  * where the variance actually lies instead of along raw dimension order.
  *
  * This is the NON-PARAMETRIC INITIALIZATION of Ge et al., "Optimized
  * Product Quantization" (CVPR 2013): PCA the training sample, then
  * allocate eigenvectors to the m subspaces balancing the PRODUCT of
  * eigenvalues per subspace (greedy on log-eigenvalues), so every
  * subquantizer sees comparable energy. The paper's alternating refinement
  * adds little over this init on natural embeddings and needs an SVD per
  * iteration; we stop at the principled, deterministic init.
  *
  * Because the rotation is orthonormal, L2 distances are EXACTLY preserved
  * (‖Rx − Ry‖ = ‖x − y‖): search rotates the query, scores rotated codes
  * with [[PqIndex]]'s ADC, and approximates the SAME exact-L2 ranking —
  * only the quantization error shrinks. Scale shape is unchanged from
  * [[PqIndex]]: the d×d rotation (64×64 doubles here) rides the task
  * closure next to the codebooks; rotate+encode stays map-only.
  */
object Opq {

  /** rotation(row)(col): rows are eigenvectors, grouped so rows
    * j·sub..(j+1)·sub−1 feed subspace j. codebooks as in [[PqIndex]]. */
  case class Model(rotation: Array[Array[Double]], codebooks: Array[Array[Array[Double]]])

  def train(
      vectors: DataFrame, // (id, vec)
      m: Int = 8,
      k: Int = 16,
      sampleN: Int = 10000,
      iters: Int = 5): Model = {
    val sample = PqIndex.sampleVectors(vectors, sampleN)
    require(sample.nonEmpty, "empty training sample")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val r = rotationFor(sample, m)
    Model(r, PqIndex.trainOnPoints(sample.map(apply(r, _)), m, k, iters))
  }

  /** PCA + eigenvalue allocation on the (mean-centered) sample covariance. */
  private[ext] def rotationFor(sample: Array[Array[Double]], m: Int): Array[Array[Double]] = {
    val d = sample.head.length
    val n = sample.length
    val mean = new Array[Double](d)
    sample.foreach { v => var i = 0; while (i < d) { mean(i) += v(i); i += 1 } }
    var i = 0
    while (i < d) { mean(i) /= n; i += 1 }
    val cov = Array.ofDim[Double](d, d)
    sample.foreach { v =>
      var a = 0
      while (a < d) {
        val va = v(a) - mean(a)
        var b = a
        while (b < d) { cov(a)(b) += va * (v(b) - mean(b)); b += 1 }
        a += 1
      }
    }
    var a = 0
    while (a < d) {
      var b = a
      while (b < d) { cov(a)(b) /= n; cov(b)(a) = cov(a)(b); b += 1 }
      a += 1
    }
    val (values, vectors) = jacobiEigen(cov)
    // rows of R = eigenvectors in allocation-bucket order
    allocate(values, m).flatten
      .map(idx => Array.tabulate(d)(row => vectors(row)(idx)))
  }

  /** Eigenvalue allocation (Ge et al. CVPR'13): descending value order,
    * each index goes to the subspace with the smallest current log-product
    * of assigned values (capped at d/m per subspace; ties → lowest
    * subspace). Shared by the eigensolver path ([[rotationFor]]) and the
    * rotation-free [[permutationModel]], where raw per-dim variances play
    * the eigenvalue role. */
  private[ext] def allocate(values: Array[Double], m: Int): Array[Seq[Int]] = {
    val d = values.length
    val sub = d / m
    val order = values.zipWithIndex.sortBy { case (v, idx) => (-v, idx) }
    val logProd = new Array[Double](m)
    val buckets = Array.fill(m)(Seq.newBuilder[Int])
    val sizes = new Array[Int](m)
    order.foreach { case (lambda, idx) =>
      var best = -1
      var j = 0
      while (j < m) {
        if (sizes(j) < sub && (best < 0 || logProd(j) < logProd(best))) best = j
        j += 1
      }
      buckets(best) += idx
      sizes(best) += 1
      logProd(best) += math.log(math.max(lambda, 1e-12))
    }
    buckets.map(_.result())
  }

  /** The ROTATION-FREE tier of OPQ practice: keep the identity eigenbasis
    * and run the same eigenvalue allocation on raw PER-DIM VARIANCES, so
    * the learned transform is a variance-balanced dimension PERMUTATION —
    * an orthonormal rotation like any other, meaning every Model consumer
    * (encode / search / apply) is the unmodified OPQ machinery. Compared
    * to [[train]] it forgoes decorrelation but still fixes PQ's worst
    * failure mode (all high-variance dims landing in one subspace), at
    * zero eigensolver cost. It is also the fixed-point-ORACLED twin of the
    * eigensolver path (`q_opq_alloc_exact`): variances, the greedy
    * allocator, the rotation apply, and the downstream PQ coding all pin
    * cross-engine; only [[jacobiEigen]] itself remains engine-only. */
  def permutationModel(
      vectors: DataFrame, // (id, vec)
      m: Int = 8,
      k: Int = 16,
      sampleN: Int = 10000,
      iters: Int = 5): Model = {
    val sample = PqIndex.sampleVectors(vectors, sampleN)
    require(sample.nonEmpty, "empty training sample")
    val d = sample.head.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val n = sample.length
    // two-pass mean/variance in sample (= id) order, the operand sequence
    // the oracle mirrors with ordered list folds
    val mean = new Array[Double](d)
    sample.foreach { v => var i = 0; while (i < d) { mean(i) += v(i); i += 1 } }
    locally { var i = 0; while (i < d) { mean(i) /= n; i += 1 } }
    val varr = new Array[Double](d)
    sample.foreach { v =>
      var i = 0
      while (i < d) { val t = v(i) - mean(i); varr(i) += t * t; i += 1 }
    }
    locally { var i = 0; while (i < d) { varr(i) /= n; i += 1 } }
    val perm = allocate(varr, m).flatten
    val r = perm.map(src => Array.tabulate(d)(i => if (i == src) 1.0 else 0.0))
    Model(r, PqIndex.trainOnPoints(sample.map(apply(r, _)), m, k, iters))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors-as-columns). d is small (embedding dim). */
  private[ext] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(d, d)((r, c) => if (r == c) 1.0 else 0.0)
    var sweep = 0
    var off = offDiag(a)
    while (off > 1e-12 && sweep < 100) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiag(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = i + 1
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    s
  }

  private[ext] def apply(r: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val d = r.length
    val y = new Array[Double](d)
    var row = 0
    while (row < d) {
      var s = 0.0
      var i = 0
      while (i < d) { s += r(row)(i) * x(i); i += 1 }
      y(row) = s
      row += 1
    }
    y
  }

  private def rotated(vectors: DataFrame, r: Array[Array[Double]]): DataFrame = {
    val rot = udf((v: Seq[Double]) => apply(r, v.toArray))
    vectors.select(col("id"), rot(col("vec").cast("array<double>")).as("vec"))
  }

  /** Map-only rotate + PQ encode: (id, code). */
  def encode(vectors: DataFrame, model: Model): DataFrame =
    PqIndex.encode(rotated(vectors, model.rotation), model.codebooks)

  /** ADC search in the rotated space — same output contract as
    * [[PqIndex.search]]; ranking approximates exact L2 on the ORIGINAL
    * vectors because the rotation preserves distances. */
  def search(
      queries: DataFrame, // (id, vec), unrotated
      encoded: DataFrame, // (id, code) from encode()
      model: Model,
      topK: Int): DataFrame =
    PqIndex.search(rotated(queries, model.rotation), encoded, model.codebooks, topK)

  /** BUILD JOB: train rotation + codebooks, materialize rotated codes once
    * (codes first, model last — model presence marks a complete index). */
  def buildIndex(
      vectors: DataFrame,
      dir: String,
      m: Int = 8,
      k: Int = 16,
      sampleN: Int = 10000,
      iters: Int = 5): Model =
    IndexStore.loadOrBuild(dir)(train(vectors, m, k, sampleN, iters)) { model =>
      graft.sinks.Snapshots.commit(encode(vectors, model), s"$dir/codes",
        org.apache.spark.sql.SaveMode.Overwrite)
    }

  /** SEARCH-ONLY path: load rotation + codebooks, rotate the queries, scan
    * the persisted codes. No training in the query path. */
  def searchIndexed(
      spark: org.apache.spark.sql.SparkSession,
      queries: DataFrame,
      dir: String,
      topK: Int): DataFrame = {
    val model = IndexStore.loadBuilt[Model](dir, "OPQ")
    search(queries, graft.sinks.Snapshots.read(spark, s"$dir/codes"), model, topK)
  }
}
