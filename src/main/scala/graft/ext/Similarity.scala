package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over an `array<float>` column.
  *
  * Two paths:
  *  - brute-force cosine top-k — the exact baseline. Queries are broadcast,
  *    candidates stream; per-query top-k via the bounded top-k aggregate.
  *    Cost O(|Q|·|C|), which is the right baseline shape when |Q| is small
  *    and |C| is a full scan;
  *  - random-hyperplane LSH buckets — the scale path. Each vector gets a
  *    b-bit signature (sign of dot with b deterministic hyperplanes);
  *    near-duplicate candidates are generated per signature band with a
  *    shuffle equi-join, never an all-pairs product.
  *
  * Cosine scoring is the codegen'd [[graft.functions.CosineSimilarity]]
  * expression; the LSH signature is a JVM UDF (one pass per row).
  */
object Similarity {

  /** Cast to array<double> — keeps the arithmetic in double on both engine
    * and oracle sides. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity — backed by the native codegen'd
    * [[graft.functions.CosineSimilarity]] expression (one fused loop inside
    * whole-stage codegen; the `dot/norm` HOF composition above walks the
    * arrays five times interpreted and is kept for reference/testing). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_similarity(a, b)

  /** Brute-force exact top-k neighbors for each query vector.
    * Output: (query_id, neighbor_id, cos, rank), rank 1..k per query.
    * Ties broken by neighbor id for determinism.
    *
    * Ranking uses the bounded top-k AGGREGATE, not a row_number window: the
    * window form shuffles all |Q|·|C| scored rows to rank them; the aggregate
    * keeps ≤ k pairs per (partition, query) partial map-side, so the shuffle
    * carries k rows per partial. Rounding happens BEFORE ranking and ties
    * break on the smaller neighbor id — identical ordering semantics, so the
    * DuckDB window oracle still hash-matches bit-for-bit. */
  def bruteForceTopK(
      queries: DataFrame, // (id, vec)
      candidates: DataFrame, // (id, vec)
      k: Int,
      roundTo: Int = 6): DataFrame =
    scoredTopK(queries, candidates, k, roundTo, labelCol = None)

  /** Hard-negative mining for contrastive training: for each query vector,
    * the exact top-k most-similar candidates whose `label` DIFFERS from the
    * query's — the "hard" negatives that sit closest to the decision
    * boundary. [[bruteForceTopK]]'s body with the label-mismatch predicate
    * applied before scoring, so excluded pairs never enter the heap.
    * Output: (query_id, neighbor_id, cos, rank). */
  def hardNegatives(
      queries: DataFrame, // (id, vec, label)
      candidates: DataFrame, // (id, vec, label)
      k: Int,
      roundTo: Int = 6): DataFrame =
    scoredTopK(queries, candidates, k, roundTo, labelCol = Some("label"))

  /** Queries broadcast, candidates stream, self-pairs (and, with
    * `labelCol`, same-label pairs) dropped before the rounded cosine is
    * ranked per query. */
  private def scoredTopK(
      queries: DataFrame,
      candidates: DataFrame,
      k: Int,
      roundTo: Int,
      labelCol: Option[String]): DataFrame = {
    val idType = candidates.schema("id").dataType
    val q = queries.select(Seq(col("id").as("query_id"), asDouble(col("vec")).as("qv")) ++
      labelCol.map(l => col(l).as("q_label")): _*)
    val c = candidates.select(Seq(col("id").as("neighbor_id"), asDouble(col("vec")).as("cv")) ++
      labelCol.map(l => col(l).as("c_label")): _*)
    val pairs = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id") &&
        labelCol.fold(lit(true))(_ => col("q_label") =!= col("c_label")))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), roundTo).as("cos"))
    graft.functions.TopKAggregate.rankedTopK(pairs, Seq("query_id"), col("cos"),
        col("neighbor_id"), k)
      .select(col("query_id"), col("id").cast(idType).as("neighbor_id"),
        col("v").as("cos"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplane component for (plane i, dim j),
    * folded to [-1, 1). No RNG state, identical on every executor. */
  private def planeComponent(i: Int, j: Int): Double =
    java.lang.Math.floorMod(MinHash.mix64(i.toLong * 0x100000001b3L + j), 1000000L)
      .toDouble / 500000.0 - 1.0

  /** b-bit random-hyperplane signature: bit i = sign(vec · plane_i).
    * One JVM pass per row (bits × dim multiply-adds); the pure-expression
    * formulation evaluated a hash per (bit, component) interpreted —
    * higher-order functions sit outside whole-stage codegen. */
  def rhpSignature(vec: Column, bits: Int): Column =
    udf((v: Seq[Double]) => {
      val out = new Array[Int](bits)
      var i = 0
      while (i < bits) {
        var dot = 0.0
        var j = 0
        while (j < v.length) { dot += v(j) * planeComponent(i, j); j += 1 }
        out(i) = if (dot >= 0) 1 else 0
        i += 1
      }
      out
    }).apply(asDouble(vec))

  /** LSH candidate pairs: vectors sharing at least one of `bands` signature
    * bands (each `bits/bands` bits), verified with exact cosine ≥ minCos.
    * Output: (id_a, id_b, cos). */
  def lshNearDupPairs(
      vectors: DataFrame, // (id, vec)
      minCos: Double,
      bits: Int = 64,
      bands: Int = 8,
      roundTo: Int = 6): DataFrame = {
    require(bits % bands == 0)
    val rows = bits / bands
    // Defaults give 2^(bits/bands) = 256 buckets per band — enough entropy
    // that a band bucket holds only genuinely similar vectors. (The old
    // 16-bit/4-band default had 16 buckets/band: with N vectors that is
    // ~N²/16 spurious candidates per band.)
    val base = MinHash.fanOutIfNarrow(
      vectors.select(col("id"), asDouble(col("vec")).as("v")))
    val sigs = base.select(col("id"), rhpSignature(col("v"), bits).as("sig"))
    // candidate join on ids only (see MinHash.candidatePairs): dedupe pairs
    // at 16 bytes/row, rejoin vectors once per distinct pair for the exact
    // cosine verify.
    // NOTE (r21): pinning this frame (both join sides read it) was
    // measured 1.4x SLOWER at sf0.1 — the fused splitmix64 signature pass
    // is cheaper than the checkpoint job it saves. The PORTABLE form keeps
    // its pin: its 64 codegen'd literal-plane dot products are not.
    val exploded = sigs.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), j =>
        xxhash64(j, slice(col("sig"), j * rows + 1, lit(rows)))))
        .as(Seq("band_idx", "band_hash")))
    val cand = exploded.toDF("id_a", "band_idx", "band_hash")
      .join(exploded.toDF("id_b", "band_idx", "band_hash"),
        Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(base.toDF("id_a", "v_a"), "id_a")
      .join(base.toDF("id_b", "v_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), roundTo).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** Deterministic ±1 hyperplane matrix shared with external oracles:
    * component (p, i) = +1 iff bit (i mod 8) of byte ((i/8) mod 16) of
    * md5("plane:p") is set — reproducible from the md5 spec alone, so an
    * oracle can embed the same matrix as SQL literals. ±1 components also
    * make each product term exact in double (negation only), which keeps
    * the sign of the fold bit-identical across engines. */
  def portablePlanes(bits: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until bits).map { p =>
      val digest = md.digest(s"plane:$p".getBytes("UTF-8"))
      (0 until dim).map { i =>
        if (((digest((i / 8) % 16) >> (i % 8)) & 1) == 1) 1.0 else -1.0
      }.toArray
    }.toArray
  }

  /** PORTABLE random-hyperplane LSH near-dup pairs: hyperplanes are the
    * [[portablePlanes]] ±1 constants (embedded as literals in any engine's
    * SQL), each signature bit is the sign of a sequential index-order dot
    * product ([[graft.functions.DotProduct]]'s exact fold order — an
    * external engine reproduces it with a left fold over the products
    * list, bit-for-bit), and the verify cosine is the same fused
    * index-order loop ([[graft.functions.CosineSimilarity]]). Both engines
    * therefore derive the SAME candidate set and the SAME rounded cosines —
    * hash-oracle-able end to end, unlike [[lshNearDupPairs]] whose
    * engine-side hyperplane family (xxhash-derived) is a JVM fast path.
    *
    * Same scale shape as [[lshNearDupPairs]]: signature bits are `bits`
    * codegen'd dot products per row (one scan), the band join carries ids
    * only, vectors are rejoined once per distinct candidate pair.
    * Output: (id_a, id_b, cos), id_a < id_b, round(cos, roundTo) ≥ minCos. */
  def portableNearDupPairs(
      vectors: DataFrame, // (id, vec)
      minCos: Double,
      bits: Int = 64,
      bands: Int = 8,
      dim: Int = 64,
      roundTo: Int = 6): DataFrame = {
    require(bits % bands == 0)
    val rows = bits / bands
    val planes = portablePlanes(bits, dim)
    val base = MinHash.fanOutIfNarrow(
      vectors.select(col("id"), asDouble(col("vec")).as("v")))
    val bitCols = planes.map(pl =>
      graft.functions.VectorDistances.dot_product(col("v"), lit(pl)) > lit(0.0))
    val bandVals = (0 until bands).map { b =>
      (0 until rows).map(r =>
        when(bitCols(b * rows + r), lit(1L << r)).otherwise(lit(0L))).reduce(_ + _)
    }
    // pinned: BOTH sides of the band self-join read this frame, and the
    // signature here is 64 codegen'd literal-plane dot products per row —
    // unpinned, that whole pass runs once per side. (id, band_idx,
    // band_val) pins at 24 bytes/row (guide §8: decide with small rows).
    val banded = base.select(col("id"),
      posexplode(array(bandVals: _*)).as(Seq("band_idx", "band_val")))
      .localCheckpoint()
    val cand = banded.toDF("id_a", "band_idx", "band_val")
      .join(banded.toDF("id_b", "band_idx", "band_val"),
        Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(base.toDF("id_a", "v_a"), "id_a")
      .join(base.toDF("id_b", "v_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("v_a"), col("v_b")), roundTo).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
