package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rank-fusion retrieval: combine heterogeneous rankings of the same corpus
  * (lexical BM25, dense cosine, ...) with Reciprocal Rank Fusion
  * (Cormack/Clarke/Buettcher, SIGIR 2009): score(d) = Σ_legs 1/(k + rank_d).
  *
  * RRF uses rank ARITHMETIC only — no cross-leg score normalization — which
  * is what makes it both robust (incomparable score scales fuse safely) and
  * cross-engine deterministic (integer ranks in, one double division per
  * leg, ≤ |legs| commutative addends per doc). Each leg is already a top-N
  * ranking, so the fused input is |legs|·N rows regardless of corpus size:
  * the retrieval legs do the corpus-scale work (inverted index, ANN), the
  * fusion is a constant-size epilogue.
  */
object HybridSearch {

  /** Fuse `legs` — each an (id, rank) frame with 1-based ranks, at most one
    * row per id per leg — into (id, rrf, rank), top `limit` by descending
    * RRF score, ties broken by smaller id. Ranking uses the bounded top-k
    * AGGREGATE (map-side ≤ `limit` pairs per partial), not a global
    * row_number window, so no single-task window appears even though the
    * fused set is small. */
  def rrf(
      legs: Seq[DataFrame],
      idCol: String = "id",
      rankCol: String = "rank",
      kRrf: Int = 60,
      limit: Int = 10,
      roundTo: Int = 6): DataFrame = {
    require(legs.nonEmpty, "need at least one ranking leg")
    val idType = legs.head.schema(idCol).dataType
    // the fusion keys on a lossless cast to long (TopKAggregate carries
    // long ids): a non-integral id would silently cast to NULL, fuse every
    // unparseable id into one bogus group, and emit null ids — refuse it,
    // in EVERY leg (a string-id leg hiding behind an integral head would
    // hit exactly the failure this guard exists to exclude)
    legs.zipWithIndex.foreach { case (leg, i) =>
      val t = leg.schema(idCol).dataType
      require(Set[org.apache.spark.sql.types.DataType](
          org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
          .contains(t),
        s"rrf requires an integral $idCol column in every leg (leg $i has $t); " +
          "map string ids to a surrogate long key before fusing")
    }
    val contrib = legs
      .map(_.select(col(idCol).cast("long").as("id"),
        (lit(1.0) / (lit(kRrf) + col(rankCol).cast("int"))).as("c")))
      .reduce(_.unionAll(_))
    val fused = contrib
      .groupBy(col("id"))
      .agg(round(sum(col("c")), roundTo).as("rrf"))
    graft.functions.TopKAggregate.rankedTopK(fused, Nil, col("rrf"), col("id"), limit)
      .select(col("id").cast(idType).as(idCol), col("v").as("rrf"), col("rank"))
  }

  /** Convenience: attach 1-based ranks to a scored leg by (score desc, id
    * asc) WITHOUT a global window — the leg is first truncated to its top
    * `depth` rows by the bounded top-k aggregate, then ranked positionally. */
  def rankLeg(scored: DataFrame, idCol: String, scoreCol: String,
      depth: Int): DataFrame = {
    val idType = scored.schema(idCol).dataType
    require(Set[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)
        .contains(idType),
      s"rankLeg requires an integral $idCol column (got $idType)")
    graft.functions.TopKAggregate.rankedTopK(scored, Nil, col(scoreCol), col(idCol), depth)
      .select(col("id").cast(idType).as(idCol), col("rank"))
  }
}
