package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection: 64-bit locality-sensitive fingerprint
  * (bitwise majority vote of per-token hashes), then Hamming-distance
  * candidate pairs via band join on 16-bit chunks.
  *
  * The fingerprint is a Scala UDF (per-row map, no state) — the bit-majority
  * loop over 64 counters is clearer and faster as JVM code than as 64
  * generated CASE expressions. Candidate generation never compares all pairs:
  * two docs within Hamming distance ≤ 3 of each other must agree exactly on
  * at least one of the 4 16-bit bands (pigeonhole), so the band equi-join
  * finds all of them with a plain shuffle join.
  */
object SimHash {

  private[ext] def simhash64(tokens: Seq[String]): Long = {
    if (tokens == null || tokens.isEmpty) return 0L
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = MinHash.fnv1a64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  private val simhashUdf = udf((toks: Seq[String]) => simhash64(toks))

  /** simhash64 over a token-array column. */
  def simhash(tokensCol: Column): Column = simhashUdf(tokensCol)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Smallest band count (power of two dividing 64, capped at 16) that
    * guarantees full recall for `maxDist`: a pair within Hamming distance d
    * shares at least one exact band iff d ≤ bands − 1 (pigeonhole — d
    * differing bits can spoil at most d bands). Beyond maxDist = 15 the cap
    * applies and recall is no longer guaranteed (documented below). */
  private[ext] def chooseBands(maxDist: Int): Int =
    Seq(2, 4, 8, 16).find(_ > maxDist).getOrElse(16)

  /** Candidate near-dup pairs with Hamming distance ≤ maxDist.
    *
    * Recall guarantee: ALL pairs at distance ≤ bands − 1 are found
    * (pigeonhole over the equal-width bands). With `bands = 0` (default)
    * the band count is auto-chosen to cover `maxDist`, capped at 16 bands
    * (4-bit bands) — so requesting maxDist > 15 silently trades recall for
    * join selectivity; prefer maxDist ≤ 7 (8×8-bit bands), which keeps
    * band values selective enough that bucket sizes stay bounded at scale. */
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      bands: Int = 0): DataFrame = {
    val nBands = if (bands > 0) bands else chooseBands(maxDist)
    require(Set(2, 4, 8, 16, 32).contains(nBands), s"bands must divide 64: $nBands")
    val width = 64 / nBands
    val mask = (1L << width) - 1
    // NOTE (r21): a parallelism floor here was measured 1.4x SLOWER at
    // sf0.1 on a quiet host (the fused FNV fingerprint pass is too cheap
    // to amortize the extra exchange); reverted.
    val withSim = df.select(
      col(idCol).as("doc"),
      simhash(TextAnalysis.tokens(col(textCol))).as("sim"))
    val banded = withSim.select(
      col("doc"), col("sim"),
      posexplode(array((0 until nBands).map(j =>
        shiftright(col("sim"), j * width).bitwiseAND(lit(mask))): _*))
        .as(Seq("band_idx", "band_val")))
    val a = banded.toDF("doc_a", "sim_a", "band_idx", "band_val")
    val b = banded.toDF("doc_b", "sim_b", "band_idx", "band_val")
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hamming(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .groupBy("doc_a", "doc_b")
      .agg(min("hamming").as("hamming"))
  }

  /** PORTABLE SimHash near-dup pairs: a 32-bit fingerprint whose per-token
    * hash is the top 8 hex chars of md5("s:"+token) — byte-identical in any
    * engine — so fingerprinting, banding, and Hamming verification are
    * reproducible in external SQL and hash-oracle-able, unlike
    * [[candidatePairs]] whose FNV-1a family is a JVM-only fast path (that
    * one stays the production variant; this one certifies the algorithm
    * cross-engine).
    *
    * Built-ins only, one pass: explode tokens (multiset — the standard
    * frequency-weighted vote), md5 + conv once per token, then ONE groupBy
    * with 32 bit-count sums (partial-aggregated map-side; the exchange
    * carries 33 longs per (partition, doc)). The majority vote
    * `2·cnt_j > n` and the Σ 2ʲ reassembly are plain projections. Bands:
    * 2 × 16-bit — full recall for Hamming ≤ 1 by pigeonhole, probabilistic
    * beyond (but identically so in any engine, which is what makes the
    * oracle exact; 4 × 8-bit bands would guarantee ≤ 3 but 8-bit band
    * values are too dense to stay selective on a near-dup-heavy corpus).
    * Token-less docs have no fingerprint and are out of scope (the
    * engine-hash variant gives them simhash 0). Returns
    * (doc_a, doc_b, hamming), doc_a < doc_b, hamming ≤ maxDist. */
  def portablePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3): DataFrame = {
    val ex = MinHash.fanOutIfNarrow(df)
      .select(col(idCol).as("doc"), explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .select(col("doc"),
        conv(substring(md5(concat(lit("s:"), col("tok"))), 1, 8), 16, 10)
          .cast("long").as("v"))
    val cnts = (0 until 32).map(j =>
      sum(shiftright(col("v"), j).bitwiseAND(lit(1L))).as(s"c$j"))
    val agg = ex.groupBy(col("doc")).agg(count(lit(1)).as("n"), cnts: _*)
    val sh = (0 until 32).map(j =>
      when(col(s"c$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    val sig = agg.select(col("doc"), sh.as("sh"))
    val banded = sig.select(col("doc"), col("sh"),
      posexplode(array(
        col("sh").bitwiseAND(lit(65535L)),
        shiftright(col("sh"), 16).bitwiseAND(lit(65535L))))
        .as(Seq("band", "bv")))
    banded.toDF("doc_a", "sh_a", "band", "bv")
      .join(banded.toDF("doc_b", "sh_b", "band", "bv"), Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
