package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection:
  * shingle → k-permutation minhash signature → banded bucket join.
  *
  * Scale design:
  *  - shingling is a per-row projection (split + n-gram window), evaluated
  *    once per row;
  *  - the k-wide signature is ONE JVM pass per row (UDF): base-hash each
  *    shingle once, then k cheap mixes, tracking mins in a local array.
  *    The earlier pure-`transform(sequence(0,k-1), ...)` formulation
  *    re-evaluated the whole shingle expression per permutation in
  *    interpreted mode (higher-order functions don't whole-stage-codegen) —
  *    O(k·|shingles|·cost(shingling)) per row instead of
  *    O(|shingles|·(1 + k)); same verdict as SimHash: tight JVM loop wins;
  *  - candidate generation explodes only b band hashes per doc (not k, not
  *    the shingles) and self-joins on (band, hash) — the standard LSH join.
  *    At 100 TB the join key space is uniform 64-bit hashes, so the shuffle
  *    is balanced; skew can only come from true near-dup clusters, which is
  *    inherent to the problem (AQE skew-join handles pathological buckets).
  */
object MinHash {

  /** Repartition only when the plan yields fewer partitions than half the
    * cluster's slots — parallelizes tiny inputs without taxing big ones. */
  private[ext] def fanOutIfNarrow(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < slots) df.repartition(slots) else df
  }

  /** Word n-gram shingles (distinct) of the lowercased text. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.tokens(text)
    val grams = transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(0))),
      i => concat_ws(" ", slice(toks, i, lit(n))))
    array_distinct(when(size(toks) >= n, grams)
      .otherwise(when(size(toks) > 0, array(concat_ws(" ", toks)))
        .otherwise(array().cast("array<string>"))))
  }

  /** FNV-1a 64-bit base hash of one shingle. */
  private[ext] def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — the per-permutation mix. */
  private[ext] def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** One-pass k-wide minhash: mins(i) = min over shingles of
    * mix64(base(s) + i). Empty shingle set → Long.MaxValue sentinels. */
  private[ext] def minhashSig(shingles: Seq[String], k: Int): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    if (shingles != null) shingles.foreach { s =>
      val base = fnv1a64(s)
      var i = 0
      while (i < k) {
        val h = mix64(base + i)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
    }
    mins
  }

  /** k-wide minhash signature (array<long>) over a shingle-array column. */
  def signature(shinglesCol: Column, k: Int = 64): Column =
    udf((sh: Seq[String]) => minhashSig(sh, k)).apply(shinglesCol)

  /** Fused text → signature: tokenize, shingle, and minhash in ONE JVM pass
    * per row. Semantically identical to `signature(shingles(text, n), k)`
    * (spec-pinned) but ~20× faster: the Column form's shingling is a
    * higher-order `transform` that evaluates interpreted AND re-evaluates
    * the tokenizing `split` once per shingle element (HOF lambdas inline
    * non-attribute children), so it dominated the whole LSH job. Duplicate
    * shingles need no dedup here — min over a multiset equals min over its
    * set. */
  def signatureFromText(text: Column, k: Int = 64, n: Int = 3): Column =
    udf((t: String) => {
      val mins = Array.fill(k)(Long.MaxValue)
      if (t != null) {
        val toks = t.trim.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty)
        def add(shingle: String): Unit = {
          val base = fnv1a64(shingle)
          var i = 0
          while (i < k) {
            val h = mix64(base + i)
            if (h < mins(i)) mins(i) = h
            i += 1
          }
        }
        if (toks.length >= n) {
          var i = 0
          while (i + n <= toks.length) {
            add(toks.slice(i, i + n).mkString(" "))
            i += 1
          }
        } else if (toks.nonEmpty) add(toks.mkString(" "))
      }
      mins
    }).apply(text)

  /** Estimated Jaccard = fraction of agreeing signature positions.
    * JVM loop: at LSH-join fan-out (millions of candidate pairs) the
    * zip_with/filter form evaluates interpreted per element and dominates
    * the whole job. */
  def estJaccard(sigA: Column, sigB: Column, k: Int = 64): Column =
    udf((a: Seq[Long], b: Seq[Long]) => {
      var agree = 0
      var i = 0
      while (i < k) {
        if (a(i) == b(i)) agree += 1
        i += 1
      }
      agree.toDouble / k
    }).apply(sigA, sigB)

  /** Banded LSH bucket keys: b hashes, each over r consecutive signature
    * positions (k = b*r); operates on the materialized signature column. */
  def bandHashes(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), j =>
      xxhash64(j, slice(sig, j * rows + 1, lit(rows))))

  /** End-to-end candidate pairs: docs sharing ≥1 LSH band, with their
    * estimated Jaccard. `df` must have an `idCol` and a text column.
    * Returns (doc_a, doc_b, est_jaccard), doc_a < doc_b, distinct. */
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 64,
      bands: Int = 16,
      shingleN: Int = 3): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    val rows = k / bands
    // Signature computation is the expensive per-row stage; when the input
    // arrives in fewer partitions than the cluster has slots (single small
    // file → one parquet row group → ONE task), fan it out first. Inputs
    // that are already well-partitioned (the 100 TB case) pass through
    // without the extra shuffle.
    val input = fanOutIfNarrow(df)
    val withSig = input.select(
        col(idCol).as("doc"),
        signatureFromText(col(textCol), k, shingleN).as("sig"))
    // The candidate join carries ONLY ids: on a near-dup-dense corpus the
    // band join is quadratic-ish, and shuffling a k-long signature per
    // candidate row multiplies that shuffle by ~50×. Ids are deduped at
    // 16 bytes/row; signatures are rejoined once per distinct pair.
    val exploded = withSig
      .select(col("doc"),
        posexplode(bandHashes(col("sig"), bands, rows))
          .as(Seq("band_idx", "band_hash")))
    val cand = exploded.toDF("doc_a", "band_idx", "band_hash")
      .join(exploded.toDF("doc_b", "band_idx", "band_hash"),
        Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cand
      .join(withSig.toDF("doc_a", "sig_a"), "doc_a")
      .join(withSig.toDF("doc_b", "sig_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        estJaccard(col("sig_a"), col("sig_b"), k).as("est_jaccard"))
  }

  /** PORTABLE MinHash+LSH near-dup pairs: the permutation family is salted
    * md5 (lanes of md5("a:"+s) / md5("b:"+s)), which any engine computes
    * byte-identically — so the WHOLE pipeline (signature → banded candidate
    * join → exact-Jaccard verification) is reproducible in external SQL and
    * hash-oracle-able, unlike [[candidatePairs]] whose FNV-1a/splitmix64
    * family is a JVM-only fast path (that one stays the production-speed
    * variant; this one certifies the algorithm cross-engine).
    *
    * Built-ins only — md5/substring/min/concat_ws stay inside whole-stage
    * codegen; no UDF. One groupBy over exploded shingles computes all 8
    * min-lanes (partial aggregation combines map-side, so the exchange
    * carries 8 fixed-width strings per (partition, doc)); the band join
    * carries ids only; payload shingle sets are rejoined once per distinct
    * surviving pair — the same scale discipline as [[candidatePairs]].
    *
    * 8 permutations = the four 8-hex-char (32-bit) lanes of each salted
    * digest, banded 4 × 2: P(candidate | J=j) = 1-(1-j²)⁴ ≥ 0.998 at
    * j ≥ 0.9. Sub-threshold recall is probabilistic AS IN ANY LSH, but
    * both engines keep/miss exactly the same pairs by construction — which
    * is what makes the hash oracle exact.
    * Returns (doc_a, doc_b, jaccard), doc_a < doc_b, exact Jaccard ≥
    * threshold, over distinct word-`shingleN`-gram shingle sets; docs with
    * fewer than `shingleN` tokens are out of scope (no shingles). */
  /** Distinct word n-gram shingles in ONE linear JVM pass. The Column-form
    * [[shingles]] is a higher-order `transform` whose lambda re-evaluates
    * the tokenizing `split` once per shingle element (non-attribute
    * children inline into HOF lambdas) — O(|toks|²) regex work per doc;
    * this UDF is the same linear tokenize-once loop as
    * [[signatureFromText]]. Emits the empty array for docs with < n
    * tokens (out of scope for the portable pipeline). */
  private[ext] def shinglesJvm(textCol: Column, n: Int): Column =
    udf((t: String) => {
      if (t == null) Array.empty[String]
      else {
        val toks = t.trim.toLowerCase(java.util.Locale.ROOT)
          .split("\\s+").filter(_.nonEmpty)
        if (toks.length < n) Array.empty[String]
        else {
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i + n <= toks.length) {
            seen.add(toks.slice(i, i + n).mkString(" ")); i += 1
          }
          seen.toArray(Array.empty[String])
        }
      }
    }).apply(textCol)

  /** The materialized shingle sets and the banded candidate pairs BEFORE
    * Jaccard verification — the two internal stages of [[portablePairs]],
    * exposed so the sketch-quality harness (`q_sketch_recall`) can measure
    * LSH bucket recall/precision against the exact pair set. Returns
    * (shl = (doc, shs), cand = (doc_a, doc_b) with doc_a < doc_b). */
  def portableCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3): (DataFrame, DataFrame) = {
    // Materialize the shingle sets once: the plan below reads shl THREE
    // times (signature explode + both verify-join sides), and shingling is
    // the costliest per-row stage. localCheckpoint trades one write of
    // (id, shingles) for two full re-derivations. Only the shingle BUILD
    // is JVM code (portability is about WHAT the shingle sets and the hash
    // family are, both reproduced in the oracle's SQL — not how a given
    // engine materializes them); every hash/band/verify expression below
    // stays a codegen'd built-in.
    // sort_array at creation: the Jaccard verify in [[portablePairs]] (and
    // q_sketch_recall's exact leg) is a SortedOverlapCount merge pass, so
    // the per-pair work is O(|shs|) string compares instead of
    // array_intersect's per-row hash set. Order is unobservable elsewhere:
    // the signature explodes the set and min-aggregates per lane.
    val shl = fanOutIfNarrow(df)
      .select(col(idCol).as("doc"),
        sort_array(shinglesJvm(col(textCol), shingleN)).as("shs"))
      .filter(size(col("shs")) > 0)
      .localCheckpoint()
    val ex = shl.select(col("doc"), explode(col("shs")).as("sh"))
      .select(col("doc"),
        md5(concat(lit("a:"), col("sh"))).as("ma"),
        md5(concat(lit("b:"), col("sh"))).as("mb"))
    val lanes =
      (0 until 4).map(j => min(substring(col("ma"), j * 8 + 1, 8)).as(s"h$j")) ++
        (0 until 4).map(j => min(substring(col("mb"), j * 8 + 1, 8)).as(s"h${j + 4}"))
    val sig = ex.groupBy(col("doc")).agg(lanes.head, lanes.tail: _*)
    val bandCols = array((0 until 4).map(j => struct(
      lit(j).as("band"),
      concat_ws("|", col(s"h${2 * j}"), col(s"h${2 * j + 1}")).as("bv"))): _*)
    val bands = sig.select(col("doc"), explode(bandCols).as("b"))
      .select(col("doc"), col("b.band").as("band"), col("b.bv").as("bv"))
    val cand = bands.toDF("doc_a", "band", "bv")
      .join(bands.toDF("doc_b", "band", "bv"), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    (shl, cand)
  }

  def portablePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleN: Int = 3): DataFrame = {
    val (shl, cand) = portableCandidates(df, idCol, textCol, shingleN)
    // |a∪b| = |a|+|b|−|a∩b| on the deduplicated shingle sets — same int,
    // same double division as the former size(array_union) form
    val inter = graft.functions.SortedOverlapCount.sorted_overlap_count(
      col("shs_a"), col("shs_b"))
    val jac = inter.cast("double") /
      (size(col("shs_a")) + size(col("shs_b")) - inter)
    cand
      .join(shl.toDF("doc_a", "shs_a"), "doc_a")
      .join(shl.toDF("doc_b", "shs_b"), "doc_b")
      .filter(jac >= threshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jaccard"))
  }
}
