package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{IvfIndex, MinHash, Multimodal, PqIndex, SimHash, Similarity, TextAnalysis, TextClean, Winnowing}
import graft.sources.Tables

/** Training-data-pipeline extension surface: text analysis, dedup family
  * (exact / MinHash / SimHash / n-gram Jaccard), embedding similarity search,
  * multimodal plumbing — over the `documents` and `embeddings` tables.
  *
  * Queries whose semantics are ANSI-expressible carry a DuckDB oracle; the
  * hash/LSH families (engine-specific hash functions) are registered
  * rows-only with deterministic output ordering.
  */
object ExtensionBattery {
  import QueryDef._

  private val toksSql =
    "CASE WHEN trim(text) = '' THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END"

  // Mirrors SimHash.portablePairs in DuckDB SQL: nibble i (from the low
  // end) of the 8-hex-char token hash via strpos('123456789abcdef', ch)
  // (0 when ch='0'), bit j = (n_{j/4} >> (j%4)) & 1, majority vote
  // 2·c_j > n, fingerprint = Σ 2^j, 2×16-bit band join, Hamming ≤ 3.
  private val simhashPortableOracleSql: String = {
    val nibDefs = (0 until 8).map(i =>
      s"strpos('123456789abcdef', substring(h, ${8 - i}, 1)) AS n$i").mkString(", ")
    val cntDefs = (0 until 32).map(j =>
      s"CAST(sum((n${j / 4} >> ${j % 4}) & 1) AS BIGINT) AS c$j").mkString(", ")
    val shSum = (0 until 32).map(j =>
      s"(CASE WHEN 2*c$j > n THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""WITH tokex AS (
       |  SELECT doc_id, unnest($toksSql) AS tok FROM documents),
       |nib AS (
       |  SELECT doc_id, $nibDefs
       |  FROM (SELECT doc_id, md5('s:' || tok) AS h FROM tokex)),
       |cnt AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n, $cntDefs
       |  FROM nib GROUP BY 1),
       |sig AS (SELECT doc_id, CAST($shSum AS BIGINT) AS sh FROM cnt),
       |banded AS (
       |  SELECT doc_id, sh, 0 AS band, sh & 65535 AS bv FROM sig
       |  UNION ALL
       |  SELECT doc_id, sh, 1, (sh >> 16) & 65535 FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
       |ORDER BY hamming ASC, doc_a, doc_b LIMIT 500""".stripMargin
  }

  private def hitsSql(lang: String): String = {
    val words = TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_intersect($toksSql, [$words]))"
  }

  // shared by q_bm25_search (from-scratch) and q_bm25_indexed (through the
  // materialized postings index): both paths must hash-match this oracle
  private val bm25OracleSql =
    """WITH tok AS (
      |  SELECT doc_id, word FROM (
      |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
      |    FROM documents)
      |  WHERE len(word) > 0),
      |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
      |tf AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT word, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tok GROUP BY 1),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
      |terms AS (SELECT unnest(['spark', 'query', 'data']) AS word)
      |SELECT doc_id,
      |  round(sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0) *
      |    tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl))), 6) AS bm25
      |FROM tf
      |JOIN terms USING (word) JOIN df USING (word) JOIN dl USING (doc_id)
      |CROSS JOIN stats
      |GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  // shared by q_cosine_topk (brute force) and q_cosine_topk_maintained
  // (IVF index + appendDelta at nprobe = nClusters, which is exact): both
  // paths must hash-match the same exact top-5 ranking
  // Mirrors the KMV sketch in DuckDB SQL. The 52-bit hash is rebuilt from
  // md5's first 13 hex nibbles via strpos-valued positional sums (DuckDB
  // has no hex→int conv); everything downstream — per-language K-smallest
  // via a partitioned row_number, merge as K-smallest-of-union, the
  // (K-1)·2⁵²/kth estimate — is engine-agnostic integer/one-division math.
  private val kmvMergeableOracleSql: String = {
    val uExpr = (0 until 13).map { i =>
      val scale = math.pow(16, 12 - i).toLong
      s"strpos('123456789abcdef', substring(h, ${i + 1}, 1)) * ${scale}"
    }.mkString(" + ")
    s"""WITH hashed AS (
       |  SELECT DISTINCT lang, $uExpr AS u
       |  FROM (SELECT lang, md5(text) AS h FROM documents)),
       |st AS (
       |  SELECT lang, u, row_number() OVER (PARTITION BY lang ORDER BY u) AS rn
       |  FROM hashed),
       |state AS (SELECT lang, u FROM st WHERE rn <= 64),
       |langrows AS (
       |  SELECT lang,
       |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
       |         ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / CAST(max(u) AS DOUBLE) END AS e
       |  FROM state GROUP BY 1),
       |mu AS (SELECT DISTINCT u FROM state ORDER BY u LIMIT 64),
       |mrow AS (
       |  SELECT 'ALL' AS lang,
       |    CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
       |         ELSE CAST(63 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE) / CAST(max(u) AS DOUBLE) END AS e
       |  FROM mu)
       |SELECT lang, round(e, 2) AS est_distinct
       |FROM (SELECT * FROM langrows UNION ALL SELECT * FROM mrow)
       |ORDER BY lang""".stripMargin
  }

  // Mirrors IvfIndex.train(k=4, iters=2) + build on 8-dim INTEGER-quantized
  // vectors (see q_ivf_train_exact for the bit-determinism argument). The
  // structure is the train loop unrolled: seed = 4 lowest-id vectors
  // numbered in id order; each iteration = argmax-cosine assignment of the
  // sample (ties → lowest cluster_id, exactly the assign UDF's
  // strictly-greater scan) followed by per-(cluster, dim) means; final
  // output = full-table assignment against the last centroids. Dot products
  // and norms are list_reduce left folds over index-order products — the
  // same operand sequence as the UDF's ascending-j loop. Empty clusters
  // drop out of the mean CTE on both sides identically; zero norms take
  // the same literal-0.0 branch.
  /** 8-dim integer-quantized embedding vectors — the fixed-point regime's
    * input, shared by q_ivf_train_exact / q_ivf_search_exact: float→double
    * is exact, ×8 is a mantissa shift, floor(x+0.5) is engine-neutral, so
    * both engines derive the identical integer-valued vectors. */
  private def intQuantizedVecs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.embeddings(s, d).select(col("vec_id").as("id"),
      expr("transform(slice(embedding, 1, 8), x -> floor(CAST(x AS DOUBLE) * 8.0D + 0.5D))")
        .as("vec"))

  /** The fixed-point codebook behind the build-once discipline: k=4,
    * iters=2 Lloyd's on the quantized vectors, driver-cached and
    * fingerprint-keyed (a regenerated corpus misses and retrains), claimed
    * so predecessor vintages are vacuumed. Both q_ivf_*_exact entries share
    * this one artifact. */
  private def ivfExactCentroids(s: org.apache.spark.sql.SparkSession,
      d: String, pts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cacheKey = s"$d/embeddings.parquet#int8q-" +
      graft.ext.IndexStore.dataFingerprint(s"$d/embeddings.parquet")
    IvfIndex.trainCached(pts, k = 4, cacheKey, iters = 2, trainSampleN = 4096,
      claimId = Some(s"ivf-exact-centroids|$d|k4"))
  }

  /** The build-once serving sequence of the persisted-index entries. The
    * index dir embeds the embeddings' data fingerprint, so a regenerated
    * corpus misses the old index and rebuilds instead of serving it; the
    * build is an idempotent no-op when the index exists; the IndexStore
    * claim (which vacuums the prior vintage) runs AFTER the build, so a
    * failed build leaves that vintage and its registry entry intact. */
  private def servedIndex(d: String, claimId: String, dirFor: String => String)(
      build: String => Any)(
      serve: String => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dir = dirFor(graft.ext.IndexStore.dataFingerprint(s"$d/embeddings.parquet"))
    build(dir)
    graft.ext.IndexStore.claim(claimId, dir)
    serve(dir)
  }

  private val (ivfTrainExactOracleSql, ivfSearchExactOracleSql, annRecallOracleSql) = {
    val dims = 8
    def fold(term: String) =
      s"list_reduce(list_transform(generate_series(1, $dims), i -> $term), (acc, x) -> acc + x)"
    // cosine between two list-valued relations' columns, with the operand
    // order and the zero-norm branch of the engine path being mirrored:
    // `zeroAs` is "0.0" for the assign UDF, "NULL" for the codegen
    // CosineSimilarity expression used by IvfIndex.search.
    def cosExpr(a: String, b: String, zeroAs: String) = {
      val na = fold(s"$a[i] * $a[i]")
      val nb = fold(s"$b[i] * $b[i]")
      val dot = fold(s"$a[i] * $b[i]")
      s"CASE WHEN $na = 0 OR $nb = 0 THEN $zeroAs ELSE $dot / (sqrt($na) * sqrt($nb)) END"
    }
    val cos = cosExpr("p.v", "c.c", "0.0")
    def assignCte(name: String, ptsRel: String, centRel: String) =
      s"""$name AS (
         |  SELECT id, v, cluster_id FROM (
         |    SELECT p.id, p.v, c.cluster_id,
         |      row_number() OVER (PARTITION BY p.id ORDER BY $cos DESC, c.cluster_id) AS rn
         |    FROM $ptsRel p CROSS JOIN $centRel c)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(name: String, assignRel: String) =
      s"""$name AS (
         |  SELECT cluster_id, list(m ORDER BY pos) AS c FROM (
         |    SELECT a.cluster_id, t.i AS pos, avg(a.v[t.i]) AS m
         |    FROM $assignRel a CROSS JOIN (SELECT unnest(generate_series(1, $dims)) AS i) t
         |    GROUP BY a.cluster_id, t.i)
         |  GROUP BY cluster_id)""".stripMargin
    // Shared CTE chain: quantized points → deterministic seed → two
    // unrolled Lloyd's iterations → final full-table assignment (`fin` =
    // the inverted lists; `c2` = the served centroids).
    val ctes =
      s"""pts AS (
         |  SELECT vec_id AS id,
         |    list_transform(embedding[1:$dims],
         |      x -> floor(CAST(x AS DOUBLE) * 8.0::DOUBLE + 0.5::DOUBLE)) AS v
         |  FROM embeddings),
         |samp AS (SELECT id, v FROM pts ORDER BY id LIMIT 4096),
         |seed AS (
         |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cluster_id, v AS c
         |  FROM (SELECT id, v FROM samp ORDER BY id LIMIT 4)),
         |${assignCte("a1", "samp", "seed")},
         |${meanCte("c1", "a1")},
         |${assignCte("a2", "samp", "c1")},
         |${meanCte("c2", "a2")},
         |${assignCte("fin", "pts", "c2")}""".stripMargin
    val trainSql =
      s"""WITH $ctes
         |SELECT id, CAST(cluster_id AS INTEGER) AS cluster_id
         |FROM fin ORDER BY id""".stripMargin
    // Search at nprobe=2 < k: probe ranking mirrors IvfIndex.search's
    // row_number over (codegen cosine DESC, cluster_id) — NULLS LAST pins
    // the expression's null-on-zero-norm semantics to Spark's desc
    // ordering; candidate cosines are integer/√integer (exact operands,
    // order-free), rounded to 6 BEFORE ranking with ties to the smaller
    // neighbor_id, exactly TopKAggregate's comparator.
    val probeCos = cosExpr("q.v", "c.c", "NULL")
    val candCos = cosExpr("p.qv", "f.v", "NULL")
    val searchSql =
      s"""WITH $ctes,
         |q AS (SELECT id, v FROM pts WHERE id < 10),
         |probes AS (
         |  SELECT query_id, qv, cluster_id FROM (
         |    SELECT q.id AS query_id, q.v AS qv, c.cluster_id,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY $probeCos DESC NULLS LAST, c.cluster_id) AS rn
         |    FROM q CROSS JOIN c2 c)
         |  WHERE rn <= 2),
         |cand AS (
         |  SELECT p.query_id, f.id AS neighbor_id, round($candCos, 6) AS cos
         |  FROM probes p JOIN fin f ON p.cluster_id = f.cluster_id
         |  WHERE p.query_id <> f.id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id) AS INTEGER) AS rank
         |  FROM cand)
         |SELECT query_id, neighbor_id, cos, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    // Recall@5 of the PRUNED nprobe=2 search against the exact top-5 on
    // the same integer-quantized vectors: the ivf leg reuses the searchSql
    // CTEs verbatim; the exact leg mirrors bruteForceTopK (round-6 before
    // rank, ties to the smaller neighbor id). hits/5 is an exact dyadic
    // rational — nothing to round.
    val recallSql =
      s"""WITH $ctes,
         |q AS (SELECT id, v FROM pts WHERE id < 10),
         |probes AS (
         |  SELECT query_id, qv, cluster_id FROM (
         |    SELECT q.id AS query_id, q.v AS qv, c.cluster_id,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY $probeCos DESC NULLS LAST, c.cluster_id) AS rn
         |    FROM q CROSS JOIN c2 c)
         |  WHERE rn <= 2),
         |cand AS (
         |  SELECT p.query_id, f.id AS neighbor_id, round($candCos, 6) AS cos
         |  FROM probes p JOIN fin f ON p.cluster_id = f.cluster_id
         |  WHERE p.query_id <> f.id),
         |ivf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM cand)
         |  WHERE rank <= 5),
         |ecand AS (
         |  SELECT q.id AS query_id, p.id AS neighbor_id,
         |    round(${cosExpr("q.v", "p.v", "NULL")}, 6) AS cos
         |  FROM q CROSS JOIN pts p WHERE p.id <> q.id),
         |exact AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos DESC, neighbor_id) AS rank
         |    FROM ecand)
         |  WHERE rank <= 5)
         |SELECT e.query_id,
         |  sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0 AS recall5
         |FROM exact e LEFT JOIN ivf i
         |  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
         |GROUP BY 1 ORDER BY e.query_id""".stripMargin
    (trainSql, searchSql, recallSql)
  }

  // Mirrors PqIndex.train(m=2, k=4, iters=2) + encode + ADC search on the
  // same 8-dim integer-quantized vectors as the q_ivf_*_exact pair. The
  // driver-side per-subspace Lloyd's is deterministic by construction
  // (sample = first ids; seeds = first-occurrence-distinct subvectors;
  // argmin strict-less → lowest code on ties; EMPTY clusters KEEP their
  // previous centroid — the LEFT JOIN/coalesce below, where IvfIndex drops
  // them), and the integer regime makes it engine-neutral: subspace sums
  // are exact, squared-distance folds run ascending-index both sides, and
  // the ADC score is a sum of m=2 doubles — IEEE addition is commutative,
  // so a 2-addend SUM needs no fold-order pinning (m > 2 would).
  private val (pqEncodeExactOracleSql, pqSearchExactOracleSql) = {
    val sub = 4 // dims per subspace: 8-dim vectors, m = 2
    def fold(term: String) =
      s"list_reduce(list_transform(generate_series(1, $sub), i -> $term), (acc, x) -> acc + x)"
    val distPC = fold("(p.sv[i] - c.c[i]) * (p.sv[i] - c.c[i])")
    val distQC = fold("(q.sv[i] - c.c[i]) * (q.sv[i] - c.c[i])")
    def assignCte(name: String, rel: String, cent: String) =
      s"""$name AS (
         |  SELECT id, j, sv, cid FROM (
         |    SELECT p.id, p.j, p.sv, c.cid,
         |      row_number() OVER (PARTITION BY p.id, p.j ORDER BY $distPC ASC, c.cid) AS rn
         |    FROM $rel p JOIN $cent c ON p.j = c.j)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(name: String, arel: String, prev: String) =
      s"""$name AS (
         |  SELECT s.j, s.cid, coalesce(m.c, s.c) AS c
         |  FROM $prev s LEFT JOIN (
         |    SELECT j, cid, list(mm ORDER BY pos) AS c FROM (
         |      SELECT a.j, a.cid, t.i AS pos, avg(a.sv[t.i]) AS mm
         |      FROM $arel a CROSS JOIN (SELECT unnest(generate_series(1, $sub)) AS i) t
         |      GROUP BY a.j, a.cid, t.i)
         |    GROUP BY j, cid) m ON s.j = m.j AND s.cid = m.cid)""".stripMargin
    val ctes =
      s"""pts AS (
         |  SELECT vec_id AS id,
         |    list_transform(embedding[1:8],
         |      x -> floor(CAST(x AS DOUBLE) * 8.0::DOUBLE + 0.5::DOUBLE)) AS v
         |  FROM embeddings),
         |spts AS (
         |  SELECT id, 0 AS j, v[1:4] AS sv FROM pts
         |  UNION ALL SELECT id, 1 AS j, v[5:8] AS sv FROM pts),
         |sids AS (SELECT id FROM pts ORDER BY id LIMIT 4096),
         |samp AS (SELECT s.id, s.j, s.sv FROM spts s JOIN sids USING (id)),
         |seed AS (
         |  SELECT j, CAST(row_number() OVER (PARTITION BY j ORDER BY fid) - 1 AS INTEGER) AS cid,
         |    sv AS c
         |  FROM (SELECT j, sv, min(id) AS fid FROM samp GROUP BY j, sv)
         |  QUALIFY row_number() OVER (PARTITION BY j ORDER BY fid) <= 4),
         |${assignCte("a1", "samp", "seed")},
         |${meanCte("c1", "a1", "seed")},
         |${assignCte("a2", "samp", "c1")},
         |${meanCte("c2", "a2", "c1")},
         |${assignCte("enc", "spts", "c2")}""".stripMargin
    val encodeSql =
      s"""WITH $ctes
         |SELECT id, CAST(j AS INTEGER) AS sub, CAST(cid AS INTEGER) AS code
         |FROM enc ORDER BY id, sub""".stripMargin
    val searchSql =
      s"""WITH $ctes,
         |q AS (SELECT id AS query_id, j, sv FROM spts WHERE id < 10),
         |tbl AS (
         |  SELECT q.query_id, c.j, c.cid, $distQC AS dist
         |  FROM q JOIN c2 c ON q.j = c.j),
         |cand AS (
         |  SELECT t.query_id, e.id AS neighbor_id, round(sum(t.dist), 6) AS adist
         |  FROM enc e JOIN tbl t ON t.j = e.j AND t.cid = e.cid
         |  WHERE t.query_id <> e.id
         |  GROUP BY t.query_id, e.id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, adist,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, neighbor_id) AS INTEGER) AS rank
         |  FROM cand)
         |SELECT query_id, neighbor_id, adist, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    (encodeSql, searchSql)
  }

  // Mirrors IvfPq.train's COARSE leg + IvfPq.encode's cluster assignment on
  // the integer-quantized vectors: whole-vector Lloyd's via
  // PqIndex.trainOnPoints(m=1, k=4, iters=2) — ONE subspace of all 8 dims,
  // with PQ training's own rules (value-dedup first-occurrence seeding,
  // strict-less L2 argmin → lowest cluster, empty cluster keeps its old
  // centroid), then every vector's nearest-centroid list id. Determinism:
  // integer inputs keep sums exact through the means (sum/count is one
  // exactly-rounded division both engines share); distances are index-order
  // left folds of exact products. The residual-PQ leg stays engine-only
  // (q_ivfpq_topk rows-only) — this pins the half that routes every query.
  private val ivfpqCoarseExactOracleSql: String = {
    val dims = 8
    def fold(term: String) =
      s"list_reduce(list_transform(generate_series(1, $dims), i -> $term), (acc, x) -> acc + x)"
    val distPC = fold("(p.v[i] - c.c[i]) * (p.v[i] - c.c[i])")
    def assignCte(name: String, rel: String, cent: String) =
      s"""$name AS (
         |  SELECT id, v, cid FROM (
         |    SELECT p.id, p.v, c.cid,
         |      row_number() OVER (PARTITION BY p.id ORDER BY $distPC ASC, c.cid) AS rn
         |    FROM $rel p CROSS JOIN $cent c)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(name: String, arel: String, prev: String) =
      s"""$name AS (
         |  SELECT s.cid, coalesce(m.c, s.c) AS c
         |  FROM $prev s LEFT JOIN (
         |    SELECT cid, list(mm ORDER BY pos) AS c FROM (
         |      SELECT a.cid, t.i AS pos, avg(a.v[t.i]) AS mm
         |      FROM $arel a CROSS JOIN (SELECT unnest(generate_series(1, $dims)) AS i) t
         |      GROUP BY a.cid, t.i)
         |    GROUP BY cid) m ON s.cid = m.cid)""".stripMargin
    s"""WITH pts AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding[1:$dims],
       |      x -> floor(CAST(x AS DOUBLE) * 8.0::DOUBLE + 0.5::DOUBLE)) AS v
       |  FROM embeddings),
       |samp AS (SELECT id, v FROM pts ORDER BY id LIMIT 4096),
       |seed AS (
       |  SELECT CAST(row_number() OVER (ORDER BY fid) - 1 AS INTEGER) AS cid, v AS c
       |  FROM (SELECT v, min(id) AS fid FROM samp GROUP BY v)
       |  QUALIFY row_number() OVER (ORDER BY fid) <= 4),
       |${assignCte("a1", "samp", "seed")},
       |${meanCte("c1", "a1", "seed")},
       |${assignCte("a2", "samp", "c1")},
       |${meanCte("c2", "a2", "c1")},
       |${assignCte("fin", "pts", "c2")}
       |SELECT id, CAST(cid AS INTEGER) AS cluster_id
       |FROM fin ORDER BY id""".stripMargin
  }

  // Mirrors IvfPq.train + encode + search END-TO-END on the integer-
  // quantized vectors — the residual/ADC leg q_ivfpq_coarse_exact left
  // engine-only (round-16 item 6): the coarse whole-vector Lloyd's chain
  // verbatim, SAMPLE residuals against the final coarse centroids,
  // per-subspace residual Lloyd's (m=2, k=4, iters=2 under PQ training's
  // own rules: value-dedup first-occurrence seeds, strict-less argmin →
  // lowest code, empty cluster keeps its old centroid), full-table
  // residual encode, then the nprobe=2 probe + per-list ADC serve.
  // Determinism beyond the coarse leg: coarse centroids are means of
  // INTEGER vectors (exact sums, one exactly-rounded division), each
  // residual component is ONE IEEE subtraction of those — identical
  // doubles cross-engine; residual-codebook means fold in sample id order
  // (list_reduce over list(... ORDER BY id) — the driver loop's operand
  // order, which matters now that inputs are non-integer doubles);
  // distances are ascending-index left folds of exact products; the ADC
  // score has m=2 addends (IEEE addition is commutative — no fold
  // pinning); adist rounds to 6 BEFORE ranking with ties to the smaller
  // neighbor_id, exactly TopKAggregate's comparator.
  private val ivfpqSearchExactOracleSql: String = {
    val dims = 8
    val sub = 4 // m = 2 subspaces over 8 dims
    def fold8(term: String) =
      s"list_reduce(list_transform(generate_series(1, $dims), i -> $term), (acc, x) -> acc + x)"
    def fold4(term: String) =
      s"list_reduce(list_transform(generate_series(1, $sub), i -> $term), (acc, x) -> acc + x)"
    val cDistPC = fold8("(p.v[i] - c.c[i]) * (p.v[i] - c.c[i])")
    val cDistQC = fold8("(q.v[i] - c.c[i]) * (q.v[i] - c.c[i])")
    def cAssign(name: String, rel: String, cent: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT id, v, cid FROM (
         |    SELECT p.id, p.v, c.cid,
         |      row_number() OVER (PARTITION BY p.id ORDER BY $cDistPC ASC, c.cid) AS rn
         |    FROM $rel p CROSS JOIN $cent c)
         |  WHERE rn = 1)""".stripMargin
    // integer inputs → exact sums → plain avg is the engine's mean
    def cMean(name: String, arel: String, prev: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT s.cid, coalesce(m.c, s.c) AS c
         |  FROM $prev s LEFT JOIN (
         |    SELECT cid, list(mm ORDER BY pos) AS c FROM (
         |      SELECT a.cid, t.i AS pos, avg(a.v[t.i]) AS mm
         |      FROM $arel a CROSS JOIN (SELECT unnest(generate_series(1, $dims)) AS i) t
         |      GROUP BY a.cid, t.i)
         |    GROUP BY cid) m ON s.cid = m.cid)""".stripMargin
    val rDistPC = fold4("(p.sv[i] - c.c[i]) * (p.sv[i] - c.c[i])")
    val rDistQC = fold4("(q.sv[i] - c.c[i]) * (q.sv[i] - c.c[i])")
    def rAssign(name: String, rel: String, cent: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT id, j, sv, cid FROM (
         |    SELECT p.id, p.j, p.sv, c.cid,
         |      row_number() OVER (PARTITION BY p.id, p.j ORDER BY $rDistPC ASC, c.cid) AS rn
         |    FROM $rel p JOIN $cent c ON p.j = c.j)
         |  WHERE rn = 1)""".stripMargin
    // residual (double) inputs → the mean MUST fold in sample id order
    def rMean(name: String, arel: String, prev: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT s.j, s.cid, coalesce(m.c, s.c) AS c
         |  FROM $prev s LEFT JOIN (
         |    SELECT j, cid, list(mm ORDER BY pos) AS c FROM (
         |      SELECT a.j, a.cid, t.i AS pos,
         |        list_reduce(list(a.sv[t.i] ORDER BY a.id), (acc, x) -> acc + x) / count(*) AS mm
         |      FROM $arel a CROSS JOIN (SELECT unnest(generate_series(1, $sub)) AS i) t
         |      GROUP BY a.j, a.cid, t.i)
         |    GROUP BY j, cid) m ON s.j = m.j AND s.cid = m.cid)""".stripMargin
    s"""WITH pts AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |    list_transform(embedding[1:$dims],
       |      x -> floor(CAST(x AS DOUBLE) * 8.0::DOUBLE + 0.5::DOUBLE)) AS v
       |  FROM embeddings),
       |sids AS (SELECT id FROM pts ORDER BY id LIMIT 4096),
       |csamp AS (SELECT p.id, p.v FROM pts p JOIN sids USING (id)),
       |cseed AS (
       |  SELECT CAST(row_number() OVER (ORDER BY fid) - 1 AS INTEGER) AS cid, v AS c
       |  FROM (SELECT v, min(id) AS fid FROM csamp GROUP BY v)
       |  QUALIFY row_number() OVER (ORDER BY fid) <= 4),
       |${cAssign("ca1", "csamp", "cseed")},
       |${cMean("cc1", "ca1", "cseed")},
       |${cAssign("ca2", "csamp", "cc1")},
       |${cMean("cc2", "ca2", "cc1")},
       |${cAssign("casgn", "pts", "cc2")},
       |pres AS MATERIALIZED (
       |  SELECT a.id, a.cid AS ccid,
       |    list_transform(generate_series(1, $dims), i -> a.v[i] - c.c[i]) AS rv
       |  FROM casgn a JOIN cc2 c ON a.cid = c.cid),
       |rs AS (SELECT p.id, p.rv FROM pres p JOIN sids USING (id)),
       |rspts AS (
       |  SELECT id, 0 AS j, rv[1:$sub] AS sv FROM rs
       |  UNION ALL SELECT id, 1 AS j, rv[${sub + 1}:$dims] AS sv FROM rs),
       |rseed AS (
       |  SELECT j, CAST(row_number() OVER (PARTITION BY j ORDER BY fid) - 1 AS INTEGER) AS cid,
       |    sv AS c
       |  FROM (SELECT j, sv, min(id) AS fid FROM rspts GROUP BY j, sv)
       |  QUALIFY row_number() OVER (PARTITION BY j ORDER BY fid) <= 4),
       |${rAssign("ra1", "rspts", "rseed")},
       |${rMean("rc1", "ra1", "rseed")},
       |${rAssign("ra2", "rspts", "rc1")},
       |${rMean("rc2", "ra2", "rc1")},
       |pspts AS (
       |  SELECT id, ccid, 0 AS j, rv[1:$sub] AS sv FROM pres
       |  UNION ALL SELECT id, ccid, 1 AS j, rv[${sub + 1}:$dims] AS sv FROM pres),
       |enc AS MATERIALIZED (
       |  SELECT id, ccid, j, cid AS code FROM (
       |    SELECT p.id, p.ccid, p.j, c.cid,
       |      row_number() OVER (PARTITION BY p.id, p.j ORDER BY $rDistPC ASC, c.cid) AS rn
       |    FROM pspts p JOIN rc2 c ON p.j = c.j)
       |  WHERE rn = 1),
       |q AS (SELECT id, v FROM pts WHERE id < 10),
       |probes AS MATERIALIZED (
       |  SELECT query_id, qv, pcid FROM (
       |    SELECT q.id AS query_id, q.v AS qv, c.cid AS pcid,
       |      row_number() OVER (PARTITION BY q.id ORDER BY $cDistQC ASC, c.cid) AS rn
       |    FROM q CROSS JOIN cc2 c)
       |  WHERE rn <= 2),
       |qspts AS (
       |  SELECT query_id, pcid, j, CASE WHEN j = 0 THEN qrv[1:$sub] ELSE qrv[${sub + 1}:$dims] END AS sv
       |  FROM (
       |    SELECT p.query_id, p.pcid,
       |      list_transform(generate_series(1, $dims), i -> p.qv[i] - c.c[i]) AS qrv
       |    FROM probes p JOIN cc2 c ON p.pcid = c.cid)
       |  CROSS JOIN (SELECT unnest([0, 1]) AS j)),
       |tbl AS MATERIALIZED (
       |  SELECT q.query_id, q.pcid, c.j, c.cid, $rDistQC AS dist
       |  FROM qspts q JOIN rc2 c ON q.j = c.j),
       |cand AS (
       |  SELECT t.query_id, e.id AS neighbor_id, round(sum(t.dist), 6) AS adist
       |  FROM enc e JOIN tbl t ON t.pcid = e.ccid AND t.j = e.j AND t.cid = e.code
       |  WHERE t.query_id <> e.id
       |  GROUP BY t.query_id, e.id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist ASC, neighbor_id) AS INTEGER) AS rank
       |  FROM cand)
       |SELECT query_id, neighbor_id, adist, rank FROM ranked
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // Mirrors Opq.permutationModel + Opq.encode end-to-end: two-pass per-dim
  // mean/variance over the ordered sample (id-order list folds — the
  // engine's sample-order loops), the greedy eigenvalue allocator run on
  // the variances (WITH RECURSIVE over the 8 descending-variance steps,
  // carrying each subspace's log-product and size; ties and caps mirror
  // the engine's strict-less lowest-j scan), the resulting permutation
  // applied positionally (a permutation rotation moves values exactly —
  // zero float work), then the established m=2/k=4/iters=2 integer PQ
  // train/encode chain on the PERMUTED vectors. Allocation comparisons ride
  // ln() on both sides; variances differ at the 1e-3 level while libm
  // disagreement sits at 1 ulp, so the branch can't flip cross-engine.
  private val opqAllocExactOracleSql: String = {
    val dims = 8
    val sub = 4 // m = 2 subspaces
    def fold4(term: String) =
      s"list_reduce(list_transform(generate_series(1, $sub), i -> $term), (acc, x) -> acc + x)"
    val distPC = fold4("(p.sv[i] - c.c[i]) * (p.sv[i] - c.c[i])")
    def assignCte(name: String, rel: String, cent: String) =
      s"""$name AS (
         |  SELECT id, j, sv, cid FROM (
         |    SELECT p.id, p.j, p.sv, c.cid,
         |      row_number() OVER (PARTITION BY p.id, p.j ORDER BY $distPC ASC, c.cid) AS rn
         |    FROM $rel p JOIN $cent c ON p.j = c.j)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(name: String, arel: String, prev: String) =
      s"""$name AS (
         |  SELECT s.j, s.cid, coalesce(m.c, s.c) AS c
         |  FROM $prev s LEFT JOIN (
         |    SELECT j, cid, list(mm ORDER BY pos) AS c FROM (
         |      SELECT a.j, a.cid, t.i AS pos, avg(a.sv[t.i]) AS mm
         |      FROM $arel a CROSS JOIN (SELECT unnest(generate_series(1, $sub)) AS i) t
         |      GROUP BY a.j, a.cid, t.i)
         |    GROUP BY j, cid) m ON s.j = m.j AND s.cid = m.cid)""".stripMargin
    s"""WITH RECURSIVE pts AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding[1:$dims],
       |      x -> floor(CAST(x AS DOUBLE) * 8.0::DOUBLE + 0.5::DOUBLE)) AS v
       |  FROM embeddings),
       |sampv AS (SELECT id, v FROM pts ORDER BY id LIMIT 4096),
       |dimmu AS (
       |  SELECT t.i AS dim,
       |    list_reduce(list(s.v[t.i] ORDER BY s.id), (acc, x) -> acc + x) / count(*) AS mu
       |  FROM sampv s CROSS JOIN (SELECT unnest(generate_series(1, $dims)) AS i) t
       |  GROUP BY t.i),
       |dimvar AS (
       |  SELECT d.dim,
       |    list_reduce(list((s.v[d.dim] - d.mu) * (s.v[d.dim] - d.mu) ORDER BY s.id),
       |      (acc, x) -> acc + x) / count(*) AS vr
       |  FROM sampv s CROSS JOIN dimmu d
       |  GROUP BY d.dim, d.mu),
       |vrank AS (
       |  SELECT dim, vr, row_number() OVER (ORDER BY vr DESC, dim) AS pos FROM dimvar),
       |alloc(step, dim, b, lp0, lp1, s0, s1) AS (
       |  SELECT 1, dim, 0, ln(greatest(vr, 1e-12)), CAST(0 AS DOUBLE), 1, 0
       |  FROM vrank WHERE pos = 1
       |  UNION ALL
       |  SELECT step, dim,
       |    b,
       |    CASE WHEN b = 0 THEN lp0 + lnv ELSE lp0 END,
       |    CASE WHEN b = 1 THEN lp1 + lnv ELSE lp1 END,
       |    s0 + CASE WHEN b = 0 THEN 1 ELSE 0 END,
       |    s1 + CASE WHEN b = 1 THEN 1 ELSE 0 END
       |  FROM (
       |    SELECT a.step + 1 AS step, v.dim, a.lp0, a.lp1, a.s0, a.s1,
       |      ln(greatest(v.vr, 1e-12)) AS lnv,
       |      CASE WHEN a.s0 >= $sub THEN 1 WHEN a.s1 >= $sub THEN 0
       |           WHEN a.lp1 < a.lp0 THEN 1 ELSE 0 END AS b
       |    FROM alloc a JOIN vrank v ON v.pos = a.step + 1
       |    WHERE a.step < $dims) x),
       |perm AS (
       |  SELECT dim, row_number() OVER (ORDER BY b, step) AS pos FROM alloc),
       |ppts AS (
       |  SELECT p.id, list(p.v[m.dim] ORDER BY m.pos) AS v
       |  FROM pts p CROSS JOIN perm m GROUP BY p.id),
       |spts AS (
       |  SELECT id, 0 AS j, v[1:4] AS sv FROM ppts
       |  UNION ALL SELECT id, 1 AS j, v[5:8] AS sv FROM ppts),
       |sids AS (SELECT id FROM ppts ORDER BY id LIMIT 4096),
       |samp AS (SELECT s.id, s.j, s.sv FROM spts s JOIN sids USING (id)),
       |seed AS (
       |  SELECT j, CAST(row_number() OVER (PARTITION BY j ORDER BY fid) - 1 AS INTEGER) AS cid,
       |    sv AS c
       |  FROM (SELECT j, sv, min(id) AS fid FROM samp GROUP BY j, sv)
       |  QUALIFY row_number() OVER (PARTITION BY j ORDER BY fid) <= 4),
       |${assignCte("a1", "samp", "seed")},
       |${meanCte("c1", "a1", "seed")},
       |${assignCte("a2", "samp", "c1")},
       |${meanCte("c2", "a2", "c1")},
       |${assignCte("enc", "spts", "c2")}
       |SELECT id, CAST(j AS INTEGER) AS sub, CAST(cid AS INTEGER) AS code
       |FROM enc ORDER BY id, sub""".stripMargin
  }

  // Mirrors the PRODUCTION q_pq_topk end-to-end — FLOAT embeddings, m=16,
  // k=256, iters=5 — in DuckDB. Why a float k-means is oracle-able here
  // when the distributed IvfIndex one is not: PqIndex.trainOnPoints runs
  // at the DRIVER over the ordered sample, so every float sum has ONE
  // fixed operand order (members in id order, accumulated left to right)
  // that SQL reproduces with list_reduce over `list(x ORDER BY id)`;
  // distributed training's partition-order sums have no such order to
  // mirror. Same for the ADC score: a left fold over the m per-subspace
  // distances in subspace order (16 addends — unlike the m=2 exact entry,
  // order matters and is pinned). Iteration CTEs are MATERIALIZED — each
  // is referenced twice (assign + empty-cluster carryover), and DuckDB
  // inlines plain CTEs, which re-evaluates the whole chain exponentially.
  private val pqTopkOracleSql: String = {
    val (m, k, iters, sub, sampleN, topK) = (16, 256, 5, 4, 2000, 10)
    def fold4(term: String) =
      s"list_reduce(list_transform(generate_series(1, $sub), i -> $term), (acc, x) -> acc + x)"
    val distPC = fold4("(p.sv[i] - c.c[i]) * (p.sv[i] - c.c[i])")
    val distQC = fold4("(q.sv[i] - c.c[i]) * (q.sv[i] - c.c[i])")
    def assignCte(name: String, rel: String, cent: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT id, j, sv, cid FROM (
         |    SELECT p.id, p.j, p.sv, c.cid,
         |      row_number() OVER (PARTITION BY p.id, p.j ORDER BY $distPC ASC, c.cid) AS rn
         |    FROM $rel p JOIN $cent c ON p.j = c.j)
         |  WHERE rn = 1)""".stripMargin
    def meanCte(name: String, arel: String, prev: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT s.j, s.cid, coalesce(m.c, s.c) AS c
         |  FROM $prev s LEFT JOIN (
         |    SELECT j, cid, list(mm ORDER BY pos) AS c FROM (
         |      SELECT a.j, a.cid, t.i AS pos,
         |        list_reduce(list(a.sv[t.i] ORDER BY a.id), (acc, x) -> acc + x) / count(*) AS mm
         |      FROM $arel a CROSS JOIN (SELECT unnest(generate_series(1, $sub)) AS i) t
         |      GROUP BY a.j, a.cid, t.i)
         |    GROUP BY j, cid) m ON s.j = m.j AND s.cid = m.cid)""".stripMargin
    val slices = (0 until m).map(j =>
      s"SELECT id, $j AS j, v[${j * sub + 1}:${(j + 1) * sub}] AS sv FROM pts")
      .mkString("\n  UNION ALL ")
    val chain = (1 to iters).flatMap { it =>
      val prev = if (it == 1) "seed" else s"c${it - 1}"
      Seq(assignCte(s"a$it", "samp", prev), meanCte(s"c$it", s"a$it", prev))
    }.mkString(",\n")
    s"""WITH pts AS (
       |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |spts AS MATERIALIZED (
       |  $slices),
       |sids AS (SELECT id FROM pts ORDER BY id LIMIT $sampleN),
       |samp AS MATERIALIZED (SELECT s.id, s.j, s.sv FROM spts s JOIN sids USING (id)),
       |seed AS MATERIALIZED (
       |  SELECT j, CAST(row_number() OVER (PARTITION BY j ORDER BY fid) - 1 AS INTEGER) AS cid,
       |    sv AS c
       |  FROM (SELECT j, sv, min(id) AS fid FROM samp GROUP BY j, sv)
       |  QUALIFY row_number() OVER (PARTITION BY j ORDER BY fid) <= $k),
       |$chain,
       |${assignCte("enc", "spts", s"c$iters")},
       |q AS (SELECT id AS query_id, j, sv FROM spts WHERE id < 5),
       |tbl AS MATERIALIZED (
       |  SELECT q.query_id, c.j, c.cid, $distQC AS dist
       |  FROM q JOIN c$iters c ON q.j = c.j),
       |cand AS (
       |  SELECT t.query_id, e.id AS neighbor_id,
       |    round(list_reduce(list(t.dist ORDER BY t.j), (acc, x) -> acc + x), 6) AS adist
       |  FROM enc e JOIN tbl t ON t.j = e.j AND t.cid = e.cid
       |  WHERE t.query_id <> e.id
       |  GROUP BY t.query_id, e.id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist ASC, neighbor_id) AS INTEGER) AS rank
       |  FROM cand)
       |SELECT query_id, neighbor_id, adist, rank FROM ranked
       |WHERE rank <= $topK ORDER BY query_id, rank""".stripMargin
  }

  // Mirrors Similarity.portableNearDupPairs in DuckDB SQL. Every dot/norm
  // is a left fold over the index-order products list — the exact sequence
  // of double additions the codegen'd DotProduct/CosineSimilarity loops
  // perform — so signs (candidate bits) and rounded cosines match
  // bit-for-bit. The ±1 hyperplanes are embedded as literal DOUBLE[]s.
  private val cosineLshPortableOracleSql: String = {
    val planes = Similarity.portablePlanes(64, 64)
    def fold(term: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $term), (acc, x) -> acc + x)"
    def planeLit(p: Array[Double]) =
      p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val bandSelects = (0 until 8).map { b =>
      val bits = (0 until 8).map { r =>
        val pl = planeLit(planes(b * 8 + r))
        s"(CASE WHEN ${fold(s"v[i] * (CAST($pl AS DOUBLE[]))[i]")} > 0 THEN ${1L << r} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT id, $b AS band_idx, CAST($bits AS BIGINT) AS band_val FROM e"
    }.mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |banded AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM banded a JOIN banded b
       |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id),
       |scored AS (
       |  SELECT id_a, id_b,
       |    ${fold("a.v[i] * b.v[i]")} AS dot,
       |    ${fold("a.v[i] * a.v[i]")} AS nx,
       |    ${fold("b.v[i] * b.v[i]")} AS ny
       |  FROM cand JOIN e a ON a.id = id_a JOIN e b ON b.id = id_b)
       |SELECT id_a, id_b, cos FROM (
       |  SELECT id_a, id_b,
       |    CASE WHEN sqrt(nx) * sqrt(ny) = 0 THEN NULL
       |         ELSE round(dot / (sqrt(nx) * sqrt(ny)), 6) END AS cos
       |  FROM scored) t
       |WHERE cos >= 0.3
       |ORDER BY cos DESC, id_a, id_b LIMIT 200""".stripMargin
  }

  // Mirrors q_media_features's byte-fingerprint fallback in DuckDB: payload
  // bytes recovered from hex(encode(text)) two hex digits at a time, then
  // summed / bucketed into the 16-bin histogram as exact integers. Width and
  // height are constant 0 — text payloads are never decodable images (a
  // prose "BM"/"GIF8" prefix fails the real ImageIO parse and falls back).
  private val mediaFeaturesOracleSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) % 3 = 0 THEN 'image/png'
      |         WHEN length(text) % 3 = 1 THEN 'audio/wav'
      |         ELSE 'video/mp4' END AS mime,
      |    encode(text) AS blob
      |  FROM documents),
      |x AS (
      |  SELECT doc_id, mime, CAST(octet_length(blob) AS INT) AS n_bytes,
      |    list_transform(generate_series(1, octet_length(blob)),
      |      i -> CAST(('0x' || substr(hex(blob), 2*i-1, 2)) AS INT)) AS bytes
      |  FROM b)
      |SELECT doc_id, mime, n_bytes,
      |  CAST(0 AS INT) AS width, CAST(0 AS INT) AS height,
      |  CAST(coalesce(list_sum(bytes), 0) AS BIGINT) AS lum_sum,
      |  array_to_string(list_transform(generate_series(0, 15),
      |    h -> CAST(len(list_filter(bytes, v -> v // 16 = h)) AS VARCHAR)), ',')
      |    AS hist_counts
      |FROM x ORDER BY doc_id""".stripMargin

  private val semdedupGridBits = 4

  // Mirrors q_semdedup in DuckDB: grid-cell bits are the same md5 ±1
  // hyperplane sign folds as the LSH oracle (bit-identical doubles),
  // within-cluster pairs use list_cosine_similarity rounded to 6 (the
  // q_embed_neardup_canonical alignment), and connected components is the
  // WITH RECURSIVE min-label reach used there.
  private val semdedupOracleSql: String = {
    val planes = Similarity.portablePlanes(semdedupGridBits, 64)
    def fold(term: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $term), (acc, x) -> acc + x)"
    def planeLit(p: Array[Double]) =
      p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val cellBits = (0 until semdedupGridBits).map { r =>
      val pl = planeLit(planes(r))
      s"(CASE WHEN ${fold(s"v[i] * (CAST($pl AS DOUBLE[]))[i]")} > 0 THEN ${1 << r} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cells AS MATERIALIZED (SELECT id, v, CAST($cellBits AS INT) AS cluster_id FROM e),
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS src, b.id AS dst
       |  FROM cells a JOIN cells b ON a.cluster_id = b.cluster_id AND a.id < b.id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
       |seeds AS (SELECT src AS id FROM edges GROUP BY src HAVING min(dst) > src),
       |reach AS (
       |  WITH RECURSIVE r(id, anc) AS (
       |    SELECT id, id FROM seeds
       |    UNION
       |    SELECT e2.dst, r.anc FROM edges e2 JOIN r ON r.id = e2.src)
       |  SELECT id, min(anc) AS component FROM r GROUP BY id),
       |dropped AS (SELECT id FROM reach WHERE id <> component)
       |SELECT id AS vec_id, cluster_id,
       |  (id NOT IN (SELECT id FROM dropped)) AS keep
       |FROM cells ORDER BY vec_id""".stripMargin
  }

  // Mirrors SemDedup.dedupDelta over the same md5-grid cells as q_semdedup:
  // corpus = vec_id < 300, delta = the rest. The edge set is EXACTLY the
  // incremental one — delta–delta plus delta–corpus within shared cells,
  // never corpus–corpus — and the same local-minima-seeded recursive CTE
  // resolves components over it; keep = component minimum, output filtered
  // to delta rows.
  private val semdedupDeltaOracleSql: String = {
    val planes = Similarity.portablePlanes(semdedupGridBits, 64)
    def fold(term: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $term), (acc, x) -> acc + x)"
    def planeLit(p: Array[Double]) =
      p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val cellBits = (0 until semdedupGridBits).map { r =>
      val pl = planeLit(planes(r))
      s"(CASE WHEN ${fold(s"v[i] * (CAST($pl AS DOUBLE[]))[i]")} > 0 THEN ${1 << r} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cells AS MATERIALIZED (SELECT id, v, CAST($cellBits AS INT) AS cluster_id FROM e),
       |corp AS (SELECT * FROM cells WHERE id < 300),
       |delta AS (SELECT * FROM cells WHERE id >= 300),
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS src, b.id AS dst
       |  FROM delta a JOIN delta b ON a.cluster_id = b.cluster_id AND a.id < b.id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
       |  UNION ALL
       |  SELECT a.id AS src, b.id AS dst
       |  FROM delta a JOIN corp b ON a.cluster_id = b.cluster_id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
       |seeds AS (SELECT src AS id FROM edges GROUP BY src HAVING min(dst) > src),
       |reach AS (
       |  WITH RECURSIVE r(id, anc) AS (
       |    SELECT id, id FROM seeds
       |    UNION
       |    SELECT e2.dst, r.anc FROM edges e2 JOIN r ON r.id = e2.src)
       |  SELECT id, min(anc) AS component FROM r GROUP BY id),
       |dropped AS (SELECT id FROM reach WHERE id <> component)
       |SELECT id AS vec_id, cluster_id,
       |  (id NOT IN (SELECT id FROM dropped)) AS keep
       |FROM delta ORDER BY vec_id""".stripMargin
  }

  // Mirrors SemDedup.dedupBounded: the q_semdedup grid cells, but
  // splitHotCells-refined to maxCellSize=12 BEFORE pair generation. Each
  // split round appends one sign bit (planes 32..37 — disjoint from the
  // grid's 0..3) to the cluster-id path of every member of a currently-hot
  // cell. The SQL applies all 6 rounds unconditionally, which is exact:
  // cell counts never grow, so hot rounds form a PREFIX — once no cell is
  // hot, later rounds append nothing in both engines, and the Scala
  // early-exit consumes plane indices at the same rate as the SQL rounds.
  private val semdedupBoundedOracleSql: String = {
    val maxRounds = 6
    val firstPlane = 32
    val maxCell = 12
    val planes = Similarity.portablePlanes(firstPlane + maxRounds, 64)
    def fold(term: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $term), (acc, x) -> acc + x)"
    def planeLit(p: Array[Double]) =
      p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    val cellBits = (0 until semdedupGridBits).map { r =>
      val pl = planeLit(planes(r))
      s"(CASE WHEN ${fold(s"v[i] * (CAST($pl AS DOUBLE[]))[i]")} > 0 THEN ${1 << r} ELSE 0 END)"
    }.mkString(" + ")
    val rounds = (0 until maxRounds).map { r =>
      val pl = planeLit(planes(firstPlane + r))
      s"""c${r + 1} AS MATERIALIZED (
         |  SELECT id, v, CASE
         |    WHEN count(*) OVER (PARTITION BY cluster_id) > $maxCell THEN
         |      cluster_id || '.' ||
         |      (CASE WHEN ${fold(s"v[i] * (CAST($pl AS DOUBLE[]))[i]")} > 0
         |            THEN '1' ELSE '0' END)
         |    ELSE cluster_id END AS cluster_id
         |  FROM c$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |c0 AS MATERIALIZED (
       |  SELECT id, v, CAST(CAST($cellBits AS INT) AS VARCHAR) AS cluster_id FROM e),
       |$rounds,
       |cells AS MATERIALIZED (SELECT * FROM c$maxRounds),
       |pairs AS MATERIALIZED (
       |  SELECT a.id AS src, b.id AS dst
       |  FROM cells a JOIN cells b ON a.cluster_id = b.cluster_id AND a.id < b.id
       |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
       |seeds AS (SELECT src AS id FROM edges GROUP BY src HAVING min(dst) > src),
       |reach AS (
       |  WITH RECURSIVE r(id, anc) AS (
       |    SELECT id, id FROM seeds
       |    UNION
       |    SELECT e2.dst, r.anc FROM edges e2 JOIN r ON r.id = e2.src)
       |  SELECT id, min(anc) AS component FROM r GROUP BY id),
       |dropped AS (SELECT id FROM reach WHERE id <> component)
       |SELECT id AS vec_id, cluster_id,
       |  (id NOT IN (SELECT id FROM dropped)) AS keep
       |FROM cells ORDER BY vec_id""".stripMargin
  }

  // Mirrors Quantize.quantize + cosineInt8 ranking: per-vector max-abs
  // scale, int8 codes via floor(x/scale + 0.5) clamped to ±127 — the
  // Scala side computes this EXACT expression (not Math.round, which
  // since Java 7 diverges on IEEE edges like 0.49999999999999994; and
  // not DuckDB round(), which rounds negative halves away from zero) —
  // exact integer dot/norms, one division.
  private val quantizeTopkOracleSql: String = {
    def fold(term: String) =
      s"list_reduce(list_transform(generate_series(1, 64), i -> $term), (a, x) -> a + x)"
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |sc AS (
       |  SELECT id, v, CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS scale
       |  FROM (SELECT id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM e)),
       |qz AS MATERIALIZED (
       |  SELECT id, list_transform(v,
       |    x -> CAST(greatest(-127, least(127, floor(x / scale + 0.5))) AS BIGINT)) AS qv
       |  FROM sc),
       |q AS (SELECT id AS query_id, qv AS qa FROM qz WHERE id < 5),
       |cand AS (
       |  SELECT q.query_id, c.id AS neighbor_id,
       |    ${fold("q.qa[i] * c.qv[i]")} AS dot,
       |    ${fold("q.qa[i] * q.qa[i]")} AS na,
       |    ${fold("c.qv[i] * c.qv[i]")} AS nb
       |  FROM qz c CROSS JOIN q WHERE q.query_id <> c.id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    round(CASE WHEN na = 0 OR nb = 0 THEN NULL
       |          ELSE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END,
       |      6) AS cos
       |  FROM cand),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC NULLS LAST, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos, rank FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  private val cosineTopk5OracleSql =
    """WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
      |     c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT query_id, neighbor_id, cos, rank FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.v, c.v), 6) AS cos,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS rank
      |  FROM q, c WHERE q.vec_id <> c.vec_id) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // Fixed hand-written BPE merge table for the ORACLED apply-path twin of
  // q_bpe_tokens. WELL-FORMED by construction (each output is created by
  // exactly one merge and equals no earlier merge's operand), which makes
  // greedy lowest-rank-first encoding ≡ one left-to-right pass per rank in
  // order — the property that lets a non-iterative SQL mirror exist
  // (BpeSpec pins the equivalence on this corpus's full vocabulary).
  // Merges chosen to actually fire on the documents text, with two-level
  // hierarchy on both plain ("t h"→"th"→"the</w>") and end-marked
  // ("o w</w>"→"ow</w>"→"row</w>") symbols.
  private[graft] val fixedBpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e</w>"), ("o", "w</w>"), ("r", "ow</w>"),
    ("e", "r"), ("i", "n"), ("a", "l"), ("s", "t"))

  // One CTE per merge rank: a left-fold over the chr(31)-delimited symbol
  // string that fuses every left-to-right non-overlapping (a, b) adjacency
  // — `acc || x` IS the merge (concatenating b onto the trailing a), and a
  // freshly-merged symbol can never re-trigger (a+b = a needs empty b).
  // This is the list_reduce ordered-fold discipline of the ANN oracles
  // applied to the tokenizer.
  // The shared CTE chain (w0 → words → s0 → s1..sN): per-(doc, word
  // position) symbol strings after all merge ranks, with `fixedBpeSymFinal`
  // naming the last CTE. Reused by q_bpe_tokens_fixed (full token arrays)
  // and CurationBattery's q_tokenizer_fertility (per-language counts).
  private[graft] val fixedBpeSymFinal: String = s"s${fixedBpeMerges.size}"
  private[graft] val fixedBpeSymCtesSql: String = {
    val ctes = fixedBpeMerges.zipWithIndex.map { case ((a, b), i) =>
      s"""s${i + 1} AS (SELECT doc_id, wpos, list_reduce(string_split(sym, chr(31)), (acc, x) ->
         |  CASE WHEN x = '$b' AND (acc = '$a' OR ends_with(acc, chr(31) || '$a'))
         |       THEN acc || x ELSE acc || chr(31) || x END) AS sym FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(trim(text)), '\\s+'), w -> len(w) > 0) AS ws
       |  FROM documents),
       |words AS (
       |  SELECT doc_id, generate_subscripts(ws, 1) AS wpos, unnest(ws) AS w FROM w0),
       |s0 AS (
       |  SELECT doc_id, wpos,
       |    array_to_string(string_split_regex(w, ''), chr(31)) || '</w>' AS sym
       |  FROM words),
       |$ctes""".stripMargin
  }

  // `toks` is emitted as ONE chr(31)-joined string, not an array column:
  // the driver's checker canonicalizes via pandas sort_values over all
  // columns and array-typed cells are unhashable (TypeError) — oracled
  // entries must return atomic columns only (pinned in BenchContractSpec).
  private val fixedBpeOracleSql: String =
    s"""WITH $fixedBpeSymCtesSql
       |SELECT doc_id,
       |  array_to_string(flatten(list(string_split(sym, chr(31)) ORDER BY wpos)), chr(31)) AS toks
       |FROM $fixedBpeSymFinal GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // Token counting: whitespace + BPE-ish regex tokenizers.
    sql("q_token_count",
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpeish
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select(
          $"doc_id",
          TextAnalysis.tokenCount($"text").as("n_tokens"),
          TextAnalysis.bpeishTokenCount($"text").as("n_bpeish"))
        .orderBy($"doc_id")
    },

    // LEARNED subword tokenization (ext/Bpe): 200 BPE merges trained on the
    // bounded deterministic sample at the driver (the PQ-codebook
    // discipline — real subword vocabs train on samples), applied map-side
    // with the ranked merge table in the task closure. Rows-only WITH
    // JUSTIFICATION: the merge list is data-learned and the greedy apply is
    // a per-word iterative merge loop — re-deriving both in one static SQL
    // string is out of scope; the invariants that matter (hand-checked
    // argmax with deterministic ties, exact detokenization round-trip,
    // training determinism, monotone compression) are pinned in BpeSpec.
    rowsOnly("q_bpe_tokens") { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      // 30 merges against this corpus's ~31-word vocabulary: enough to
      // learn the frequent stems, small enough that words still split —
      // n_subwords sits strictly between n_words and character count
      val merges = graft.ext.Bpe.train(docs, "doc_id", "text", nMerges = 30)
      docs.select($"doc_id",
          TextAnalysis.tokenCount($"text").as("n_words"),
          size(graft.ext.Bpe.tokens($"text", merges)).as("n_subwords"))
        .orderBy($"doc_id")
    },

    // FIXED-table BPE apply, FULLY ORACLED (round-13 stretch — rows-only
    // 10→9 in spirit: the learned entry above stays rows-only, but the
    // greedy per-word merge-loop APPLY PATH itself now has a DuckDB
    // mirror): the same Bpe.tokens code runs a hand-written 8-merge table
    // whose well-formedness makes greedy ≡ rank-ordered passes, so the SQL
    // unrolls to one ordered list_reduce fold per rank — both sides emit
    // the exact token arrays, not just counts. The oracle SQL is GENERATED
    // from the same Scala merge list, so the two engines cannot drift.
    sql("q_bpe_tokens_fixed", fixedBpeOracleSql) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          array_join(graft.ext.Bpe.tokens($"text", fixedBpeMerges), "\u001f").as("toks"))
        .orderBy($"doc_id")
    },

    // Language ID: stopword-hit argmax with fixed precedence.
    sql("q_lang_id", {
      val (en, es, de, fr, zh) = (hitsSql("en"), hitsSql("es"), hitsSql("de"), hitsSql("fr"), hitsSql("zh"))
      s"""SELECT doc_id, lang,
         |  CASE WHEN ($en + $es + $de + $fr + $zh) = 0 THEN 'und'
         |       WHEN $en >= greatest($es, $de, $fr, $zh) THEN 'en'
         |       WHEN $es >= greatest($de, $fr, $zh) THEN 'es'
         |       WHEN $de >= greatest($fr, $zh) THEN 'de'
         |       WHEN $fr >= $zh THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM documents ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select(
          $"doc_id", $"lang",
          TextAnalysis.langId($"text").as("lang_pred"))
        .orderBy($"doc_id")
    },

    // Quality scoring: length band + alpha ratio + non-empty, composite in [0,1].
    sql("q_quality_score",
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS INT) AS n_tokens,
         |  round(
         |    (CASE WHEN len($toksSql) BETWEEN 20 AND 500 THEN 1.0 ELSE 0.0 END) * 0.4
         |    + (CASE WHEN length(text) > 0
         |            THEN CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE) / length(text)
         |            ELSE 0.0 END) * 0.4
         |    + (CASE WHEN len($toksSql) > 0 THEN 1.0 ELSE 0.0 END) * 0.2, 4) AS quality
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select(
          $"doc_id",
          TextAnalysis.tokenCount($"text").as("n_tokens"),
          TextAnalysis.qualityScore($"text").as("quality"))
        .orderBy($"doc_id")
    },

    // FILTER-CASCADE survival report (the C4/Gopher-style funnel every
    // corpus paper publishes): how many documents survive each cleaning
    // rule CUMULATIVELY — min length, min tokens, mean-word-length band,
    // max-word-length cap, distinct-token ratio. ONE corpus scan computes
    // all six counts as conditional aggregates (the q_dq_report
    // discipline: at 100 TB the report costs one pass, not one pass per
    // rule), then a 6-row stack unpivots them for presentation. Every
    // rule compares INTEGERS (sums/counts/scaled ratios), so the
    // cross-engine float surface is just the final round(frac, 4).
    sql("q_filter_cascade", {
      val conds = Seq(
        "nc >= 100",
        "nt >= 20",
        "sl >= nt*3 AND sl <= nt*10",
        "mw <= 50",
        "nd*10 >= nt*3")
      val cum = conds.inits.toSeq.reverse.tail.map(_.mkString(" AND "))
      val filters = cum.zipWithIndex
        .map { case (c, i) => s"count(*) FILTER (WHERE $c) AS n${i + 1}" }
        .mkString(",\n        |  ")
      val rules = Seq("all", "min_chars_100", "min_tokens_20",
        "mean_word_len_3_10", "max_word_len_50", "distinct_ratio_30")
      val unions = rules.zipWithIndex.map { case (r, i) =>
        s"SELECT $i AS stage, '$r' AS rule, CAST(n$i AS BIGINT) AS n_surviving, round(n$i * 1.0 / n0, 4) AS frac FROM m"
      }.mkString("\n        |UNION ALL ")
      s"""WITH t AS (SELECT length(text) AS nc, $toksSql AS toks FROM documents),
        |b AS (SELECT nc, len(toks) AS nt,
        |        coalesce(list_sum(list_transform(toks, w -> length(w))), 0) AS sl,
        |        list_max(list_transform(toks, w -> length(w))) AS mw,
        |        len(list_distinct(toks)) AS nd FROM t),
        |m AS (SELECT count(*) AS n0,
        |  $filters
        |  FROM b)
        |$unions
        |ORDER BY stage""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val toks = when(trim($"text") === "", array().cast("array<string>"))
        .otherwise(split(trim(lower($"text")), "\\s+"))
      val base = Tables.documents(s, d)
        .select(length($"text").as("nc"), toks.as("toks"))
        .select($"nc", size($"toks").as("nt"),
          aggregate($"toks", lit(0), (a, w) => a + length(w)).as("sl"),
          array_max(transform($"toks", w => length(w))).as("mw"),
          size(array_distinct($"toks")).as("nd"))
      val c1 = $"nc" >= 100
      val c2 = c1 && $"nt" >= 20
      val c3 = c2 && $"sl" >= $"nt" * 3 && $"sl" <= $"nt" * 10
      val c4 = c3 && $"mw" <= 50
      val c5 = c4 && $"nd" * 10 >= $"nt" * 3
      base.agg(
          count(lit(1)).as("n0"),
          count(when(c1, 1)).as("n1"),
          count(when(c2, 1)).as("n2"),
          count(when(c3, 1)).as("n3"),
          count(when(c4, 1)).as("n4"),
          count(when(c5, 1)).as("n5"))
        .select(
          expr("""stack(6,
            0, 'all', n0,
            1, 'min_chars_100', n1,
            2, 'min_tokens_20', n2,
            3, 'mean_word_len_3_10', n3,
            4, 'max_word_len_50', n4,
            5, 'distinct_ratio_30', n5) AS (stage, rule, n_surviving)"""),
          $"n0")
        .select($"stage", $"rule", $"n_surviving",
          round($"n_surviving" / $"n0", 4).as("frac"))
        .orderBy($"stage")
    },

    // Text cleaning + PII redaction: synthesize dirty text (HTML tag, email,
    // phone) deterministically per doc, then clean — both engines build and
    // clean the same string with the same RE2-safe regexes.
    sql("q_text_clean",
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          text || ' <b>contact</b> user' || doc_id ||
        |            '@example.com or +1 (555) 123-' || (1000 + doc_id % 9000),
        |          '<[^>]*>', ' ', 'g'),
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '[+(]?[0-9][0-9()\s.-]{7,}[0-9]', '[PHONE]', 'g'),
        |    '\s+', ' ', 'g')) AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val dirty = concat(
        $"text", lit(" <b>contact</b> user"), $"doc_id",
        lit("@example.com or +1 (555) 123-"), (lit(1000) + $"doc_id" % 9000))
      Tables.documents(s, d)
        .select($"doc_id", TextClean.clean(dirty).as("cleaned"))
        .orderBy($"doc_id")
    },

    // Fingerprinting (exact-dedup key): md5 over normalized text.
    sql("q_fingerprint",
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d).select(
          $"doc_id",
          TextAnalysis.fingerprint($"text").as("fp"))
        .orderBy($"doc_id")
    },

    // Exact dedup: group by fingerprint, keep min doc_id (hash groupBy —
    // ONE shuffle on the fingerprint, the minimum exact dedup costs).
    sql("q_dedup_exact",
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keeper, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .groupBy(TextAnalysis.fingerprint($"text").as("fp"))
        .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy($"fp")
    },

    // Exact n-gram (word-set) Jaccard over a bounded id range — the
    // verification metric the LSH families approximate.
    sql("q_jaccard_pairs",
      s"""WITH t AS (
         |  SELECT doc_id, list_distinct($toksSql) AS toks
         |  FROM documents WHERE doc_id < 40)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |        / len(list_distinct(a.toks || b.toks)), 4) AS jaccard
         |FROM t a JOIN t b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |      / len(list_distinct(a.toks || b.toks)) >= 0.3
         |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 200""".stripMargin) { (s, d) =>
      import s.implicits._
      // sorted sets + merge-pass overlap (see SortedOverlapCount): the jac
      // expression sits in the nested-loop join condition where Catalyst
      // re-evaluates it per reference; |a∪b| = |a|+|b|−|a∩b| on the
      // deduplicated sets is the same int, so round(jac, 4) is unchanged
      val t = Tables.documents(s, d).filter($"doc_id" < 40)
        .select($"doc_id",
          sort_array(array_distinct(TextAnalysis.tokens($"text"))).as("toks"))
      val a = t.toDF("doc_a", "toks_a")
      val b = t.toDF("doc_b", "toks_b")
      val interJp = graft.functions.SortedOverlapCount.sorted_overlap_count(
        $"toks_a", $"toks_b")
      val jac = interJp.cast("double") /
        (size($"toks_a") + size($"toks_b") - interJp)
      a.join(b, $"doc_a" < $"doc_b")
        .filter(jac >= 0.3)
        .select($"doc_a", $"doc_b", round(jac, 4).as("jaccard"))
        .orderBy($"jaccard".desc, $"doc_a", $"doc_b")
        .limit(200)
    },

    // MinHash+LSH near-dup pipeline, FULLY ORACLED: the permutation family
    // is salted md5 — byte-identical in any engine — so signature, banded
    // candidate join, and exact-Jaccard verification are reproduced in
    // DuckDB verbatim and the result hash-matches. Both engines keep/miss
    // the SAME candidate pairs by construction (LSH recall below the
    // threshold is probabilistic, but identically so on both sides).
    // ext/MinHash.candidatePairs keeps the FNV-1a/splitmix64 JVM fast path
    // for hash-agnostic production use (MinHashSpec pins it; the portable
    // form certifies the algorithm cross-engine).
    sql("q_minhash_neardup",
      s"""WITH tok AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |shl AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> array_to_string(toks[i:(i+2)], ' '))) AS shs
         |  FROM tok WHERE len(toks) >= 3),
         |ex AS (
         |  SELECT doc_id, md5('a:' || sh) AS ma, md5('b:' || sh) AS mb
         |  FROM (SELECT doc_id, unnest(shs) AS sh FROM shl)),
         |sig AS (
         |  SELECT doc_id,
         |    min(substring(ma, 1, 8)) AS h0, min(substring(ma, 9, 8)) AS h1,
         |    min(substring(ma, 17, 8)) AS h2, min(substring(ma, 25, 8)) AS h3,
         |    min(substring(mb, 1, 8)) AS h4, min(substring(mb, 9, 8)) AS h5,
         |    min(substring(mb, 17, 8)) AS h6, min(substring(mb, 25, 8)) AS h7
         |  FROM ex GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS bv FROM sig UNION ALL
         |  SELECT doc_id, 1, h2 || '|' || h3 FROM sig UNION ALL
         |  SELECT doc_id, 2, h4 || '|' || h5 FROM sig UNION ALL
         |  SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  round(CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
         |        / len(list_distinct(a.shs || b.shs)), 4) AS jaccard
         |FROM cand JOIN shl a ON a.doc_id = doc_a JOIN shl b ON b.doc_id = doc_b
         |WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
         |      / len(list_distinct(a.shs || b.shs)) >= 0.3
         |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 500""".stripMargin) { (s, d) =>
      import s.implicits._
      MinHash.portablePairs(Tables.documents(s, d), "doc_id", "text",
          threshold = 0.3)
        .orderBy($"jaccard".desc, $"doc_a", $"doc_b")
        .limit(500)
    },

    // The SKETCH quality harness (q_ann_recall's sibling for the dedup
    // tier): recall and precision of the banded MinHash-LSH CANDIDATE set
    // against the exact Jaccard >= 0.3 pair set on the bounded doc slice —
    // the measured miss rate a curator tunes bands/rows against (4 bands ×
    // 2 rows ⇒ P(candidate|J) = 1-(1-J²)⁴, so sub-threshold recall is
    // genuinely < 1 and worth reporting). Both legs are deterministic
    // (salted-md5 family; exact set arithmetic), so the five summary
    // numbers hash-oracle exactly. Exact leg = the documented
    // oracle-tractable quadratic on the bounded slice (q_jaccard_pairs
    // discipline); at corpus scale the exact leg IS the thing LSH replaces
    // — this entry exists to measure that replacement, on a slice.
    sql("q_sketch_recall",
      s"""WITH tok AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 600),
         |shl AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, len(toks) - 2),
         |    i -> array_to_string(toks[i:(i+2)], ' '))) AS shs
         |  FROM tok WHERE len(toks) >= 3),
         |ex AS (
         |  SELECT doc_id, md5('a:' || sh) AS ma, md5('b:' || sh) AS mb
         |  FROM (SELECT doc_id, unnest(shs) AS sh FROM shl)),
         |sig AS (
         |  SELECT doc_id,
         |    min(substring(ma, 1, 8)) AS h0, min(substring(ma, 9, 8)) AS h1,
         |    min(substring(ma, 17, 8)) AS h2, min(substring(ma, 25, 8)) AS h3,
         |    min(substring(mb, 1, 8)) AS h4, min(substring(mb, 9, 8)) AS h5,
         |    min(substring(mb, 17, 8)) AS h6, min(substring(mb, 25, 8)) AS h7
         |  FROM ex GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS bv FROM sig UNION ALL
         |  SELECT doc_id, 1, h2 || '|' || h3 FROM sig UNION ALL
         |  SELECT doc_id, 2, h4 || '|' || h5 FROM sig UNION ALL
         |  SELECT doc_id, 3, h6 || '|' || h7 FROM sig),
         |cand AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
         |exact AS MATERIALIZED (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM shl a JOIN shl b ON a.doc_id < b.doc_id
         |  WHERE CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
         |        / len(list_distinct(a.shs || b.shs)) >= 0.3),
         |hit AS (SELECT * FROM exact INTERSECT SELECT * FROM cand)
         |SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_true,
         |  CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
         |  CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
         |  round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
         |    / (SELECT count(*) FROM exact), 6) AS recall,
         |  round(CAST((SELECT count(*) FROM hit) AS DOUBLE)
         |    / (SELECT count(*) FROM cand), 6) AS prec""".stripMargin) { (s, d) =>
      import s.implicits._
      val slice = Tables.documents(s, d).filter($"doc_id" < 600)
      val (shl, cand) = MinHash.portableCandidates(slice, "doc_id", "text")
      // shl's shingle sets arrive sorted+deduplicated from
      // portableCandidates — merge-pass overlap, same ints as
      // array_intersect/array_union (see SortedOverlapCount)
      val interSr = graft.functions.SortedOverlapCount.sorted_overlap_count(
        $"shs_a", $"shs_b")
      val jac = interSr.cast("double") /
        (size($"shs_a") + size($"shs_b") - interSr)
      val exact = shl.toDF("doc_a", "shs_a")
        .join(broadcast(shl.toDF("doc_b", "shs_b")), $"doc_a" < $"doc_b")
        .filter(jac >= 0.3).select($"doc_a", $"doc_b")
      val nCand = cand.agg(count(lit(1)).as("n_cand"))
      exact.join(cand.withColumn("m", lit(1)), Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce($"m", lit(0))).as("n_hit"))
        .crossJoin(broadcast(nCand))
        .select($"n_true", $"n_cand", $"n_hit",
          round($"n_hit".cast("double") / $"n_true", 6).as("recall"),
          round($"n_hit".cast("double") / $"n_cand", 6).as("prec"))
    },

    // PRODUCTION-SPEED MinHash+LSH: the FNV-1a/splitmix64 JVM hash family —
    // one fused tokenize→shingle→minhash pass per row, no md5. Rows-only
    // (the hash family is engine-specific by design); ExtOpsSpec pins that
    // on planted near-dups the verified pair set matches the portable md5
    // pipeline exactly. Registered so the bench exercises the path
    // production dedup actually runs (the oracled q_minhash_neardup pays
    // ~40% md5 overhead for cross-engine reproducibility).
    rowsOnly("q_minhash_neardup_fast") { (s, d) =>
      import s.implicits._
      MinHash.candidatePairs(Tables.documents(s, d), "doc_id", "text",
          k = 64, bands = 16, shingleN = 3)
        .filter($"est_jaccard" >= 0.3)
        .select($"doc_a", $"doc_b", round($"est_jaccard", 4).as("est_jaccard"))
        .orderBy($"est_jaccard".desc, $"doc_a", $"doc_b")
        .limit(500)
    },

    // SimHash near-dup pipeline, FULLY ORACLED: per-token hash = top 8 hex
    // chars of md5("s:"+tok), so the 32-bit majority-vote fingerprint, the
    // 2×16-bit band join, and the Hamming verify are reproduced in DuckDB
    // verbatim (nibble values via strpos — no hex→int cast needed) and the
    // result hash-matches. ext/SimHash.candidatePairs keeps the 64-bit
    // FNV-1a fast path (Manku-style maxDist=3 full recall) for production;
    // the portable form certifies the algorithm cross-engine.
    sql("q_simhash_neardup", simhashPortableOracleSql) { (s, d) =>
      import s.implicits._
      SimHash.portablePairs(Tables.documents(s, d), "doc_id", "text",
          maxDist = 3)
        .orderBy($"hamming".asc, $"doc_a", $"doc_b")
        .limit(500)
    },

    // PRODUCTION-SPEED SimHash: 64-bit FNV-1a fingerprint with Manku-style
    // banding (full recall at Hamming ≤ 3 by pigeonhole — stronger than the
    // portable 32-bit form's probabilistic ≥ 2 radius). Rows-only;
    // ExtOpsSpec pins fast-vs-portable agreement on planted dups.
    rowsOnly("q_simhash_neardup_fast") { (s, d) =>
      import s.implicits._
      SimHash.candidatePairs(Tables.documents(s, d), "doc_id", "text",
          maxDist = 3)
        .orderBy($"hamming".asc, $"doc_a", $"doc_b")
        .limit(500)
    },

    // Winnowing fingerprints (Schleimer et al. 2003, the MOSS algorithm),
    // FULLY ORACLED: 16-bit md5-nibble hashes of token 3-shingles, minimum
    // per window of 8 — guarantees detection of any shared run >= 10 tokens
    // at ~2/9 the density of the every-position explode. Pairs off the
    // inverted fingerprint index (one shuffle, never all-pairs); the maxDf
    // cut drops boilerplate fingerprints so no bucket exceeds maxDf² pairs
    // at any corpus size. Sits between q_dup_ngram_spans (exact substring)
    // and the MinHash/SimHash whole-document sketches.
    sql("q_winnow_neardup", {
      val h16 = (s: String) => (0 until 4).map(i =>
        s"strpos('123456789abcdef', substring(md5('w:' || $s), ${i + 1}, 1)) * ${1 << (4 * (3 - i))}")
        .mkString(" + ")
      s"""WITH tokl AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, list_transform(generate_series(1, len(toks) - 2),
         |    i -> CAST(${h16("array_to_string(toks[i:(i+2)], ' ')")} AS INTEGER)) AS hs
         |  FROM tokl WHERE len(toks) >= 3),
         |fp AS (
         |  SELECT DISTINCT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(1, len(hs) - 7)),
         |    i -> list_min(hs[i:(i+7)]))) AS fp
         |  FROM sh),
         |dfq AS (SELECT fp, count(*) AS df FROM fp GROUP BY 1),
         |kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN dfq USING (fp) WHERE df <= 100),
         |cnt AS (SELECT doc_id, count(*) AS nfp FROM kept GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
         |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared,
         |  round(CAST(shared AS DOUBLE) / (ca.nfp + cb.nfp - shared), 4) AS overlap
         |FROM pairs JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
         |ORDER BY shared DESC, doc_a, doc_b LIMIT 500""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      Winnowing.nearDupPairs(Tables.documents(s, d), "doc_id", "text",
          k = 3, w = 8, minShared = 2, maxDf = 100)
        .orderBy($"shared".desc, $"doc_a", $"doc_b")
        .limit(500)
    },

    // Johnson–Lindenstrauss ±1 random projection (Achlioptas), FULLY
    // ORACLED: 64-dim embeddings → 16 signed-sum components over
    // fixed-point-quantized inputs — integer sums are order-free, so the
    // mirror hash-matches. The dim-reduction tier under ANN/clustering:
    // distances survive to O(1/√16), at 4× less downstream compute. Pure
    // per-row projection (codegen, zero shuffles). The Scala side embeds
    // the md5-parity sign matrix as literals; the oracle recomputes it
    // with SQL md5 — equal by construction (RandomProjectionSpec pins it).
    sql("q_jl_project",
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS q
        |  FROM embeddings),
        |comp AS (
        |  SELECT vec_id, CAST(j AS INT) - 1 AS dim, q[j] AS qv
        |  FROM e, unnest(generate_series(1, 64)) AS u(j)),
        |sgn AS (
        |  SELECT p, j,
        |    (strpos('123456789abcdef',
        |       substring(md5('jl:' || p || ':' || j), 1, 1)) % 2) * 2 - 1 AS s
        |  FROM (SELECT unnest(generate_series(0, 15)) AS p),
        |       (SELECT unnest(generate_series(0, 63)) AS j))
        |SELECT vec_id, CAST(p AS INT) AS plane, CAST(sum(s * qv) AS BIGINT) AS proj
        |FROM comp JOIN sgn ON sgn.j = comp.dim
        |GROUP BY 1, 2 ORDER BY vec_id, plane""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.ext.RandomProjection
        .project(Tables.embeddings(s, d), "vec_id", "embedding")
        .withColumnRenamed("id", "vec_id")
        .orderBy($"vec_id", $"plane")
    },

    // PRODUCTION-SPEED winnowing: the same selection/pairing pipeline over
    // one fused xxhash64 per shingle instead of md5 + hex decode — the
    // path production fingerprinting actually runs (the oracled twin pays
    // the documented cross-engine md5 tax, as in the MinHash/SimHash/LSH
    // families). Rows-only; WinnowingSpec pins planted-dup agreement
    // between the two hash families.
    rowsOnly("q_winnow_neardup_fast") { (s, d) =>
      import s.implicits._
      Winnowing.nearDupPairs(Tables.documents(s, d), "doc_id", "text",
          k = 3, w = 8, minShared = 2, maxDf = 100, portable = false)
        .orderBy($"shared".desc, $"doc_a", $"doc_b")
        .limit(500)
    },

    // Brute-force cosine top-k (exact ANN baseline); double math both sides.
    sql("q_cosine_topk", cosineTopk5OracleSql) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
      Similarity.bruteForceTopK(emb.filter($"id" < 10), emb, k = 5)
        .select($"query_id", $"neighbor_id", $"cos", $"rank")
        .orderBy($"query_id", $"rank")
    },

    // MAINTAINED-index serving, fully oracled: build the IVF index on a
    // corpus slice, appendDelta the rest (including the query ids — so the
    // oracle can only match if the appended partitions are actually
    // served), then search with nprobe = nClusters, which is provably
    // exact for ANY centroid set — the same brute-force oracle as
    // q_cosine_topk therefore applies bit-for-bit. This puts the
    // incremental-maintenance path (the daily-ingest shape) inside the
    // hash-checked battery instead of behind a rows-only entry.
    sql("q_cosine_topk_maintained", cosineTopk5OracleSql) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
      servedIndex(d, s"ivf-maint|$d|k8", fp => IvfIndex.indexDir(d, 8) + "-maint-" + fp) {
        dir =>
          IvfIndex.buildIndex(emb.filter($"id" >= 200), dir, nClusters = 8)
          IvfIndex.appendDelta(emb.filter($"id" < 200), dir, txn = Some("maint" -> 1L))
      }(IvfIndex.searchIndexed(s, emb.filter($"id" < 10), _, k = 5, nprobe = 8))
        .select($"query_id", $"neighbor_id", $"cos", $"rank")
        .orderBy($"query_id", $"rank")
    },

    // Embedding-cosine near-dup dedup END-TO-END, fully oracled: exact
    // cosine pairs on a bounded slice (vec_id < 300, broadcast side) →
    // connected components → drop non-canonical members → survivors per
    // label. The quadratic pass is the ORACLE-TRACTABLE baseline; the
    // corpus-scale path is the LSH-bucketed q_cosine_neardup_lsh (same
    // verify threshold), whose recall is spec-pinned against this kind of
    // exact ground truth. Rounding before the threshold keeps the two
    // engines' float boundaries aligned (the q_cosine_topk discipline).
    sql("q_embed_neardup_canonical",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
        |           FROM embeddings WHERE vec_id < 300),
        |pairs AS MATERIALIZED (
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3),
        |edges AS MATERIALIZED (
        |  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |seeds AS (SELECT src AS id FROM edges GROUP BY src HAVING min(dst) > src),
        |reach AS (
        |  WITH RECURSIVE r(id, anc) AS (
        |    SELECT id, id FROM seeds
        |    UNION
        |    SELECT e2.dst, r.anc FROM edges e2 JOIN r ON r.id = e2.src)
        |  SELECT id, min(anc) AS component FROM r GROUP BY id),
        |dropped AS (SELECT id FROM reach WHERE id <> component)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_kept
        |FROM e WHERE vec_id NOT IN (SELECT id FROM dropped)
        |GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).filter($"vec_id" < 300)
        .select($"vec_id", $"embedding".cast("array<double>").as("v"), $"label")
      val pairs = emb.select($"vec_id".as("id_a"), $"v".as("va"))
        .crossJoin(broadcast(emb.select($"vec_id".as("id_b"), $"v".as("vb"))))
        .filter($"id_a" < $"id_b")
        .filter(round(Similarity.cosine($"va", $"vb"), 6) >= 0.3)
        .select($"id_a", $"id_b")
      val comp = graft.ext.Components.connectedComponents(pairs, "id_a", "id_b")
      val dropIds = comp.filter($"id" =!= $"component")
        .select($"id".as("vec_id"))
      emb.join(dropIds, Seq("vec_id"), "left_anti")
        .groupBy($"label")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy($"label")
    },

    // SEMANTIC DEDUP (SemDeDup/D4-style, Abbas et al. 2023): partition the
    // embedding space into clusters, call pairs above a cosine threshold
    // WITHIN a cluster semantic duplicates, keep one canonical member per
    // duplicate group. The production form clusters with k-means (the
    // IvfIndex centroids); this registered query swaps in a PORTABLE
    // clustering — a 4-bit md5-hyperplane sign grid (16 cells, every vector
    // in exactly ONE cell — a partition, unlike the LSH query's 8 OR-ed
    // bands) — so DuckDB reproduces cluster assignment bit-identically from
    // the md5 spec (the q_cosine_neardup_lsh technique) and the whole
    // pipeline hash-oracles end-to-end: grid cell → within-cluster pairs →
    // connected components → keep component minimum.
    // SCALE: candidate pairs are per-cluster only, never all-pairs — the
    // self-join shuffles on cluster_id, so cost is Σ|cell|², bounded by the
    // grid resolution; at 100 TB raise the bit width (cells shrink
    // geometrically) and salt any hot cell, the q_corpus_shuffle knob
    // discipline. minCos = 0.3 is this corpus's 99.9th-percentile pair
    // cosine (see q_cosine_neardup_lsh).
    sql("q_semdedup", semdedupOracleSql) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      graft.ext.SemDedup
        .dedup(graft.ext.SemDedup.gridCells(emb, semdedupGridBits), minCos = 0.3)
        .orderBy($"vec_id")
    },

    // INCREMENTAL semantic dedup (the daily-ingest shape): a delta batch
    // decided against the standing corpus WITHOUT re-pairing the corpus —
    // edges are delta–delta and delta–corpus within shared grid cells
    // only, so the cost is linear in the corpus where re-running the full
    // dedup would re-pay Σ|cell|² over everything. Fully oracled on the
    // same md5-grid cells as q_semdedup; equivalence to the full dedup on
    // a dup-free corpus is spec-pinned in SemDedupSpec.
    sql("q_semdedup_delta", semdedupDeltaOracleSql) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val cells = graft.ext.SemDedup.gridCells(emb, semdedupGridBits)
      graft.ext.SemDedup.dedupDelta(
          cells.filter($"id" < 300), cells.filter($"id" >= 300), minCos = 0.3)
        .orderBy($"vec_id")
    },

    // BOUNDED semantic dedup (the production entry point for corpora with
    // unknown embedding spread): same grid cells, but splitHotCells-refined
    // to maxCellSize=12 before pair generation, so the within-cell pair
    // cost is Σ min(|cell|, 12+)² by construction — the knob the round-13
    // measured scaling curve (SURVEY §9.1) shows fixed-resolution cells
    // need. At sf0.01 (500 vectors / 16 cells ≈ 31 each) splitting is
    // EXERCISED, not idle, and the whole refine→pair→components pipeline
    // still hash-oracles end-to-end because split bits are the same md5
    // ±1 plane signs (rows 32..37) the grid itself uses.
    sql("q_semdedup_bounded", semdedupBoundedOracleSql) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      graft.ext.SemDedup.dedupBounded(
          graft.ext.SemDedup.gridCells(emb, semdedupGridBits),
          minCos = 0.3, maxCellSize = 12)
        .orderBy($"vec_id")
    },

    // PRODUCTION semantic dedup: same dedup core over IVF k-means cells
    // (the clustering the SemDeDup/D4 papers use — centroid-shaped cells
    // track the data distribution, so near-dups co-locate with higher
    // recall than the data-oblivious grid). The codebook is the SAME
    // fingerprint-keyed trainCached artifact the ANN tier serves from —
    // one Lloyd's run per corpus vintage feeds both ANN search and dedup.
    // Float k-means is engine-specific → rows-only; grid-agreement on a
    // planted fixture pinned in SemDedupSpec.
    rowsOnly("q_semdedup_kmeans") { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("v"))
      val cacheKey = s"$d/embeddings.parquet#" +
        graft.ext.IndexStore.dataFingerprint(s"$d/embeddings.parquet")
      val centroids = IvfIndex.trainCached(
        emb.select($"id", $"v".as("vec")), k = 16, cacheKey,
        claimId = Some(s"ivf-centroids|$d|k16"))
      graft.ext.SemDedup
        .dedup(graft.ext.SemDedup.kmeansCells(emb, centroids), minCos = 0.3)
        .orderBy($"vec_id")
    },

    // Typed Aggregator (custom UDAF tier): per-label embedding centroid in
    // one two-phase hash aggregate — the shuffle carries one (dim+1)-double
    // buffer per (partition, label), never the vectors. Oracled on three
    // dimensions + count (full-vector compare would hash float low bits).
    sql("q_centroid_by_label",
      """SELECT label,
        |  round(avg(embedding[1]), 4) AS d1,
        |  round(avg(embedding[2]), 4) AS d2,
        |  round(avg(embedding[3]), 4) AS d3,
        |  count(*) AS n
        |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      val cent = graft.functions.CentroidAggregator.centroid(64)
      Tables.embeddings(s, d)
        .groupBy($"label")
        .agg(cent($"embedding".cast("array<double>")).as("c"), count(lit(1)).as("n"))
        .select($"label",
          round(element_at($"c", 1), 4).as("d1"),
          round(element_at($"c", 2), 4).as("d2"),
          round(element_at($"c", 3), 4).as("d3"),
          $"n")
        .orderBy($"label")
    },

    // Salted two-phase aggregation (skew mitigation): must equal the plain
    // group-by — the oracle IS the unsalted query.
    sql("q_salted_agg",
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.ops.SkewAgg.saltedAgg(
          Tables.lineitem(s, d).select($"l_returnflag", $"l_quantity"),
          keys = Seq("l_returnflag"), salts = 8,
          partials = Seq("s" -> sum($"l_quantity"), "c" -> count(lit(1))),
          finals = Seq(round(sum($"s"), 2).as("sum_qty"), sum($"c").as("n")))
        .orderBy($"l_returnflag")
    },

    // FIXED-POINT LLOYD'S, FULLY ORACLED (the derived-partsupp technique
    // applied to k-means — round-11 verdict item 5): quantize the first 8
    // embedding dims to integers (float→double is exact, ×8 is a mantissa
    // shift, floor(x+0.5) is engine-neutral), then run the REAL
    // IvfIndex.train + build on them. Every step is then bit-deterministic
    // across engines:
    //   - per-(cluster, dim) means: sums of integer-valued doubles are
    //     EXACT (< 2^53), so the aggregation is order-independent and the
    //     one division per mean is exactly rounded identically;
    //   - cosine assignment: the assign UDF folds dot/norms in ascending
    //     index order, reproduced in DuckDB as a list_reduce left fold over
    //     the index-order products (the q_cosine_neardup_lsh device) —
    //     identical operand sequences of exactly-rounded IEEE ops give
    //     bit-identical doubles, so the argmax (ties → lowest cluster_id,
    //     both sides) picks the same cluster;
    //   - the deterministic seed (k lowest-id vectors, numbered in id
    //     order) and the sample (lowest trainSampleN ids) are plain SQL.
    // Output is pure integers (id, cluster_id) — nothing to round. This
    // puts the TRAINING path of the IVF family inside the hash-checked
    // battery; the float-embedding entries stay rows-only by the
    // float-k-means rule.
    sql("q_ivf_train_exact", ivfTrainExactOracleSql) { (s, d) =>
      import s.implicits._
      val pts = intQuantizedVecs(s, d)
      // trainCached is safe under the oracle HERE because integer-regime
      // training is bit-deterministic (the point of this entry): cache hit
      // and fresh train return the identical codebook, so the hash can
      // never depend on cache state. Fingerprint-keyed like every cached
      // artifact — a regenerated corpus retrains, never serves stale.
      val centroids = ivfExactCentroids(s, d, pts)
      IvfIndex.build(pts, centroids)
        .select($"id", $"cluster_id".cast("int").as("cluster_id"))
        .orderBy($"id")
    },

    // The SERVING half of the fixed-point regime: the full IVF query path —
    // train, build, probe nprobe=2 of 4 lists, rank candidates — fully
    // hash-oracled at nprobe < k (q_cosine_topk_maintained could only be
    // oracled at nprobe = nClusters, where IVF degenerates to brute force;
    // here the PRUNED search itself is checked, probe selection included).
    // Probe ranking uses the codegen CosineSimilarity (null on zero norm,
    // mirrored with NULLS LAST); candidate cosines are integer/√integer —
    // exact operands, so rounding to 6 is engine-neutral.
    sql("q_ivf_search_exact", ivfSearchExactOracleSql) { (s, d) =>
      import s.implicits._
      val pts = intQuantizedVecs(s, d)
      // shares the train entry's cached codebook (same claim id — one
      // artifact, two serving queries; see q_ivf_train_exact for why a
      // cache hit cannot perturb the oracle)
      val centroids = ivfExactCentroids(s, d, pts)
      IvfIndex.search(pts.filter($"id" < 10), IvfIndex.build(pts, centroids),
          centroids, k = 5, nprobe = 2)
        .orderBy($"query_id", $"rank")
    },

    // The ANN QUALITY harness: per-query recall@5 of the pruned nprobe=2
    // IVF serving path against the exact top-5 — the number a corpus
    // curator tunes nprobe/nClusters against before trusting the scale
    // path. Both legs run the REAL operators (IvfIndex.search and
    // bruteForceTopK) on the fixed-point vectors, so the recall itself is
    // hash-oracled: the DuckDB mirror recomputes train→build→probe→rank
    // AND the exact scan, then intersects. hits/5 is exact — no float in
    // the output. Exact leg = 10-query broadcast (q_cosine_topk family);
    // everything downstream of the two top-5 lists is a 50-row epilogue.
    sql("q_ann_recall", annRecallOracleSql) { (s, d) =>
      import s.implicits._
      val pts = intQuantizedVecs(s, d)
      val centroids = ivfExactCentroids(s, d, pts)
      val queries = pts.filter($"id" < 10)
      val ivf = IvfIndex.search(queries, IvfIndex.build(pts, centroids),
          centroids, k = 5, nprobe = 2)
        .select($"query_id", $"neighbor_id", lit(1).as("m"))
      Similarity.bruteForceTopK(queries, pts, k = 5)
        .select($"query_id", $"neighbor_id")
        .join(ivf, Seq("query_id", "neighbor_id"), "left")
        .groupBy($"query_id")
        .agg((sum(coalesce($"m", lit(0))) / 5.0).as("recall5"))
        .orderBy($"query_id")
    },

    // IVF approximate top-k (scale path #2): coarse centroids, assigned
    // inverted lists, probe only the nprobe nearest lists per query.
    // Approximate by construction → rows-only, deterministic ordering.
    // The codebook comes from the trainCached driver cache (fingerprint-
    // keyed): Lloyd's runs once per data vintage, not once per query — the
    // same build-once/serve split the snapshot-table path
    // (q_cosine_topk_ivf_indexed) applies to the inverted lists.
    rowsOnly("q_cosine_topk_ivf") { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
      val cacheKey = s"$d/embeddings.parquet#" +
        graft.ext.IndexStore.dataFingerprint(s"$d/embeddings.parquet")
      val centroids = IvfIndex.trainCached(emb, k = 16, cacheKey,
        claimId = Some(s"ivf-centroids|$d|k16")) // vacuum prior vintage
      IvfIndex.search(emb.filter($"id" < 10), IvfIndex.build(emb, centroids),
          centroids, k = 5, nprobe = 4)
        .orderBy($"query_id", $"rank")
    },

    // The PRODUCTION serving shape: index built once as a cluster_id-
    // partitioned snapshot table (idempotent build job — a no-op when the
    // index exists), query probes nprobe lists through a manifest-level
    // partition filter. Only the probed partitions' files are listed or
    // scanned — the 100 TB path where the corpus never re-trains per query.
    rowsOnly("q_cosine_topk_ivf_indexed") { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
      // rows-only entries have no oracle to catch a stale index silently
      // serving a regenerated corpus — the fingerprinted dir is the guard
      servedIndex(d, s"ivf-indexed|$d|k16",
          fp => IvfIndex.indexDir(d, nClusters = 16) + "-" + fp)(
          IvfIndex.buildIndex(emb, _, nClusters = 16))(
          IvfIndex.searchIndexed(s, emb.filter($"id" < 10), _, k = 5, nprobe = 4))
        .orderBy($"query_id", $"rank")
    },

    // Embedding near-dup via random-hyperplane LSH buckets (scale path):
    // candidates from band join only, never all-pairs. 64-bit/8-band = 256
    // buckets per band, so band buckets hold genuinely-close vectors only —
    // candidate count stays ~linear in N, not N². minCos = 0.3 is this
    // corpus's 99.9th-percentile pair cosine (the embeddings are near-random:
    // max pair cos ≈ 0.51, median ≈ 0 — a 0.85 "true near-dup" threshold
    // would return zero rows); high-threshold recall is pinned on a planted
    // near-dup fixture in SimilaritySpec. FULLY ORACLED: hyperplanes are
    // the portablePlanes ±1 constants embedded as SQL literals, every dot
    // product / norm is a sequential index-order fold reproduced in DuckDB
    // with list_reduce over the products list (bit-identical doubles), so
    // both engines derive the same candidate set and the same rounded
    // cosines. lshNearDupPairs keeps the xxhash hyperplane family as the
    // engine fast path (SimilaritySpec pins it).
    sql("q_cosine_neardup_lsh", cosineLshPortableOracleSql) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
      Similarity.portableNearDupPairs(emb, minCos = 0.3, bits = 64, bands = 8)
        .orderBy($"cos".desc, $"id_a", $"id_b")
        .limit(200)
    },

    // PRODUCTION-SPEED cosine LSH: the splitmix64-derived hyperplane family
    // (one fused JVM signature pass per row) instead of the ±1 md5 planes +
    // 64 codegen'd dot products the oracled form pays for portability.
    // Rows-only; the exact-cosine verify stage is shared with the portable
    // form, and SimilaritySpec pins high-threshold recall on planted
    // near-dups for this family.
    rowsOnly("q_cosine_neardup_lsh_fast") { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
      Similarity.lshNearDupPairs(emb, minCos = 0.3, bits = 64, bands = 8)
        .orderBy($"cos".desc, $"id_a", $"id_b")
        .limit(200)
    },

    // Training-data chunking: fixed-size token windows with overlap
    // (50-token chunks, stride 40). Pure per-row fan-out — no shuffle until
    // a downstream op needs one; chunk boundaries clamp identically in
    // Spark slice() and DuckDB list slicing.
    sql("q_chunk_documents",
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0) AS toks
        |  FROM documents),
        |x AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  array_to_string(toks[(i*40+1):(i*40+50)], ' ') AS chunk_text,
        |  CAST(len(toks[(i*40+1):(i*40+50)]) AS INT) AS n_tokens
        |FROM x, unnest(generate_series(0, CAST(floor((n-1)/40) AS BIGINT))) AS u(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      import s.implicits._
      val chunk = 50
      val step = 40
      Tables.documents(s, d)
        .withColumn("toks",
          filter(split(lower($"text"), "\\s+"), w => length(w) > 0))
        .withColumn("n", size($"toks"))
        .filter($"n" > 0)
        .select($"doc_id", posexplode(
          transform(sequence(lit(0), floor(($"n" - 1) / step).cast("int")),
            i => slice($"toks", i * step + 1, lit(chunk))))
          .as(Seq("chunk_idx", "chunk")))
        .select($"doc_id", $"chunk_idx",
          array_join($"chunk", " ").as("chunk_text"),
          size($"chunk").as("n_tokens"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    // Content-defined chunking (LBFS/FastCDC at word level), FULLY ORACLED:
    // a boundary falls after token i iff the 16-bit md5-nibble hash of the
    // 3-gram ending there clears mask 16 — boundaries are a function of
    // local content, so an insertion re-synchronizes within one gram and
    // every later chunk hashes identically (the property fixed-size
    // q_chunk_documents lacks; ContentChunkerSpec pins it). The shared-
    // chunk report is one hash groupBy on the digest: exact dedup at
    // sub-document granularity, the content-addressed-storage primitive.
    sql("q_cdc_chunks", {
      val h16c = (s: String) => (0 until 4).map(i =>
        s"strpos('123456789abcdef', substring(md5('c:' || $s), ${i + 1}, 1)) * ${1 << (4 * (3 - i))}")
        .mkString(" + ")
      s"""WITH tokl AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |b AS (
         |  SELECT doc_id, toks, len(toks) AS n,
         |    CASE WHEN len(toks) >= 4 THEN
         |      list_filter(generate_series(3, len(toks) - 1), i ->
         |        (${h16c("array_to_string(toks[(i-2):i], ' ')")}) % 16 = 0)
         |    ELSE [] END AS bpos
         |  FROM tokl WHERE len(toks) > 0),
         |ch AS (
         |  SELECT doc_id, CAST(j AS INT) AS chunk_idx,
         |    toks[(list_prepend(0, bpos)[j] + 1):(list_append(bpos, n)[j])] AS ctoks
         |  FROM b, unnest(generate_series(1, len(bpos) + 1)) AS u(j)),
         |ch2 AS (
         |  SELECT doc_id, chunk_idx, CAST(len(ctoks) AS INT) AS n_tok,
         |    md5(array_to_string(ctoks, ' ')) AS chunk_hash
         |  FROM ch),
         |shared AS (
         |  SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM ch2 GROUP BY 1)
         |SELECT doc_id, chunk_idx, n_tok, chunk_hash, n_docs
         |FROM ch2 JOIN shared USING (chunk_hash)
         |ORDER BY doc_id, chunk_idx""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      graft.ext.ContentChunker
        .chunkReport(Tables.documents(s, d), "doc_id", "text", mask = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id", $"chunk_idx")
    },

    // Chunk-level vintage delta, FULLY ORACLED: what a new corpus vintage
    // actually COSTS a content-addressed store. q_corpus_diff's doc-level
    // view says "N docs changed"; this one chunks BOTH vintages
    // (q_corpus_diff's %11/%17/%13 model — the old vintage carries a
    // trailing ' (stale)' rider on %13 docs) and counts the new vintage's
    // chunks/tokens whose digest the old vintage already holds. Because
    // boundaries are content-defined, a trailing edit leaves every earlier
    // chunk digest intact — reuse stays high where a fixed-size chunker
    // would re-store from the edit onward. One distinct + one hash join on
    // the digest; chunking itself is map-side.
    sql("q_chunk_delta", {
      val h16c = (s: String) => (0 until 4).map(i =>
        s"strpos('123456789abcdef', substring(md5('c:' || $s), ${i + 1}, 1)) * ${1 << (4 * (3 - i))}")
        .mkString(" + ")
      def cdc(alias: String, textExpr: String, where: String) =
        s"""${alias}_tok AS (
           |  SELECT doc_id,
           |    CASE WHEN trim($textExpr) = '' THEN []
           |         ELSE string_split_regex(trim(lower($textExpr)), '\\s+') END AS toks
           |  FROM documents WHERE $where),
           |${alias}_b AS (
           |  SELECT doc_id, toks, len(toks) AS n,
           |    CASE WHEN len(toks) >= 4 THEN
           |      list_filter(generate_series(3, len(toks) - 1), i ->
           |        (${h16c("array_to_string(toks[(i-2):i], ' ')")}) % 16 = 0)
           |    ELSE [] END AS bpos
           |  FROM ${alias}_tok WHERE len(toks) > 0),
           |$alias AS (
           |  SELECT doc_id,
           |    md5(array_to_string(
           |      toks[(list_prepend(0, bpos)[j] + 1):(list_append(bpos, n)[j])], ' ')) AS h,
           |    len(toks[(list_prepend(0, bpos)[j] + 1):(list_append(bpos, n)[j])]) AS nt
           |  FROM ${alias}_b, unnest(generate_series(1, len(bpos) + 1)) AS u(j))""".stripMargin
      s"""WITH ${cdc("oldc",
             "CASE WHEN doc_id % 13 = 0 THEN text || ' (stale)' ELSE text END",
             "doc_id % 11 <> 0")},
         |${cdc("newc", "text", "doc_id % 17 <> 0")},
         |old_h AS (SELECT DISTINCT h FROM oldc),
         |j AS (
         |  SELECT d.source, newc.nt, old_h.h IS NULL AS novel
         |  FROM newc JOIN documents d USING (doc_id)
         |  LEFT JOIN old_h ON newc.h = old_h.h)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS total_chunks,
         |  CAST(count(*) FILTER (WHERE novel) AS BIGINT) AS novel_chunks,
         |  CAST(sum(nt) AS BIGINT) AS total_tok,
         |  CAST(coalesce(sum(nt) FILTER (WHERE novel), 0) AS BIGINT) AS novel_tok,
         |  round(1.0 - CAST(coalesce(sum(nt) FILTER (WHERE novel), 0) AS DOUBLE)
         |    / sum(nt), 4) AS reuse
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"source", $"text")
      val oldDocs = docs.filter(pmod($"doc_id", lit(11)) =!= 0)
        .select($"doc_id",
          when(pmod($"doc_id", lit(13)) === 0, concat($"text", lit(" (stale)")))
            .otherwise($"text").as("text"))
      val newDocs = docs.filter(pmod($"doc_id", lit(17)) =!= 0)
        .select($"doc_id", $"text")
      val oldH = graft.ext.ContentChunker.chunks(oldDocs, "doc_id", "text")
        .select(md5(array_join($"ctoks", " ")).as("h")).distinct()
      val newC = graft.ext.ContentChunker.chunks(newDocs, "doc_id", "text")
        .select($"id".as("doc_id"), md5(array_join($"ctoks", " ")).as("h"),
          size($"ctoks").cast("long").as("nt"))
      newC
        .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
        .join(oldH.withColumn("seen", lit(1)), Seq("h"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("total_chunks"),
          sum(when($"seen".isNull, 1L).otherwise(0L)).as("novel_chunks"),
          sum($"nt").as("total_tok"),
          sum(when($"seen".isNull, $"nt").otherwise(0L)).as("novel_tok"))
        .select($"source", $"total_chunks", $"novel_chunks", $"total_tok",
          $"novel_tok",
          round(lit(1.0) - $"novel_tok".cast("double") / $"total_tok", 4).as("reuse"))
        .orderBy($"source")
    },

    // Sequence packing: greedy fill of 512-token packs in doc_id order
    // WITHIN deterministic shards (doc_id % 64) — the running-sum window is
    // partitioned by shard, so packing parallelizes across shards instead of
    // funnelling the corpus through one single-task global sort. Global pack
    // ids are disjoint by construction: shard * 2^40 + local pack index.
    // Packs never span shards (the per-shard tail pack may run short — the
    // standard trade every sharded packer makes).
    sql("q_pack_sequences",
      """WITH t AS (SELECT doc_id, doc_id % 64 AS shard,
        |    len(list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0)) AS n_tok
        |  FROM documents)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(shard * 1099511627776 + floor((cum - n_tok) / 512.0) AS BIGINT) AS pack_id
        |FROM (SELECT doc_id, shard, n_tok,
        |        sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM t)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"shard").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select($"doc_id", ($"doc_id" % 64).as("shard"),
          size(filter(split(lower($"text"), "\\s+"), t => length(t) > 0))
            .cast("long").as("n_tok"))
        .withColumn("cum", sum($"n_tok").over(w))
        .select($"doc_id", $"n_tok",
          ($"shard" * lit(1099511627776L) + floor(($"cum" - $"n_tok") / 512.0))
            .cast("long").as("pack_id"))
        .orderBy($"doc_id")
    },

    // Token-budget sampling: per-language greedy selection in deterministic
    // priority order (md5 of doc_id stands in for a quality rank) until each
    // language's cumulative token count hits the budget — the mixture-
    // balancing pass every multilingual corpus build runs. The running sum
    // windows per language, so the selection parallelizes across languages
    // (and at 100 TB, across a (lang, shard) composite key).
    sql("q_token_budget_sample",
      s"""WITH t AS (SELECT doc_id, lang, CAST(len($toksSql) AS INT) AS n_tok,
         |    md5(CAST(doc_id AS VARCHAR)) AS pri FROM documents)
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |FROM (SELECT lang, n_tok,
         |        sum(n_tok) OVER (PARTITION BY lang ORDER BY pri, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM t) WHERE cum <= 2000
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"lang").orderBy($"pri", $"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select($"doc_id", $"lang", TextAnalysis.tokenCount($"text").as("n_tok"),
          md5($"doc_id".cast("string")).as("pri"))
        .withColumn("cum", sum($"n_tok").over(w))
        .filter($"cum" <= 2000)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").cast("long").as("n_tokens"))
        .orderBy($"lang")
    },

    // Benchmark decontamination: flag corpus docs sharing ≥ 3 distinct
    // token 3-grams with an eval set (here: doc_id < 10) — the n-gram
    // overlap check every training corpus runs against its benchmarks.
    // Gram join keys are strings ≈ uniform — balanced shuffle at scale;
    // the eval-set gram side is the small (broadcastable) side.
    sql("q_decontaminate",
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0) AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(toks[i:(i+2)], ' ') AS gram
        |  FROM tok, unnest(generate_series(1, len(toks) - 2)) AS u(i)
        |  WHERE len(toks) >= 3),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 10)
        |SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared
        |FROM (SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
        |      FROM grams g JOIN bench USING (gram)
        |      WHERE g.doc_id >= 10 GROUP BY 1)
        |WHERE n_shared >= 3 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // FanOut before the 3-gram explode: grams feeds both the bench
      // probe set and the corpus side from a one-task scan (guide §2.2/§6)
      val grams = graft.ext.FanOut.ensure(
          Tables.documents(s, d).select($"doc_id", $"text"))
        .withColumn("toks", filter(split(lower($"text"), "\\s+"), w => length(w) > 0))
        .filter(size($"toks") >= 3)
        .select($"doc_id", explode(
          transform(sequence(lit(1), size($"toks") - 2),
            i => array_join(slice($"toks", i, lit(3)), " "))).as("gram"))
      val bench = grams.filter($"doc_id" < 10).select($"gram").distinct()
      grams.filter($"doc_id" >= 10)
        .join(broadcast(bench), "gram")
        .groupBy($"doc_id")
        .agg(countDistinct($"gram").as("n_shared"))
        .filter($"n_shared" >= 3)
        .orderBy($"doc_id")
    },

    // Cross-document duplicated-span signal (the exact-substring-dedup
    // first pass of Lee et al. 2022, "Deduplicating Training Data Makes
    // Language Models Better"): for every token position, is the 8-gram
    // starting there present in ≥ 2 DISTINCT documents? Per doc: how many
    // positions, what fraction. Scale shape: explode 8-grams, per-gram
    // distinct-doc count via groupBy (partial-aggregated, skew-safe — the
    // same discipline as the EditJoin gram frequencies), rejoin on gram;
    // gram keys ≈ uniform strings so the shuffle balances. The rewrite
    // step (cutting the spans out) is a trivial map over the flagged
    // positions; the JOIN is the 100 TB-hard part and is what's exercised.
    sql("q_dup_ngram_spans",
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0) AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i, array_to_string(toks[i:(i+7)], ' ') AS gram
        |  FROM tok, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        |  WHERE len(toks) >= 8),
        |df AS (SELECT gram, count(DISTINCT doc_id) AS n_docs FROM grams GROUP BY 1)
        |SELECT g.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_positions,
        |  CAST(count(*) FILTER (WHERE df.n_docs >= 2) AS BIGINT) AS n_dup,
        |  round(CAST(count(*) FILTER (WHERE df.n_docs >= 2) AS DOUBLE) / count(*), 6) AS dup_frac
        |FROM grams g JOIN df USING (gram)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // FanOut before the 8-gram explode (one-task single-row-group scan;
      // grams feeds the df aggregate and the rejoin — guide §2.2/§6)
      val grams = graft.ext.FanOut.ensure(
          Tables.documents(s, d).select($"doc_id", $"text"))
        .withColumn("toks", filter(split(lower($"text"), "\\s+"), w => length(w) > 0))
        .filter(size($"toks") >= 8)
        .select($"doc_id", explode(
          transform(sequence(lit(1), size($"toks") - 7),
            i => array_join(slice($"toks", i, lit(8)), " "))).as("gram"))
      // Only grams repeated ACROSS documents matter downstream, and they are
      // a small fraction of all grams — filtering before the join lets AQE
      // broadcast the dup-gram table, so the 10M-row gram stream is joined
      // map-side and shuffles once (the countDistinct) instead of three
      // times. A left join against the filtered table counts identically to
      // the inner join against the unfiltered one.
      val dupGrams = grams.groupBy($"gram")
        .agg(countDistinct($"doc_id").as("n_docs"))
        .filter($"n_docs" >= 2)
      grams.join(dupGrams, Seq("gram"), "left")
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_positions"),
          count(when($"n_docs" >= 2, 1)).as("n_dup"))
        .select($"doc_id", $"n_positions", $"n_dup",
          round($"n_dup".cast("double") / $"n_positions", 6).as("dup_frac"))
        .orderBy($"doc_id")
    },

    // Duplicated-SPAN extraction (the cut-out step of Lee et al. 2022's
    // ExactSubstr dedup, downstream of q_dup_ngram_spans' statistics): a
    // position is duplicated when its token 8-gram appears in ≥ 2 distinct
    // documents; MAXIMAL runs of consecutive duplicated positions are the
    // spans a rewrite would remove — a run of R positions covers R+7
    // tokens. Any duplicated substring of ≥ 8 tokens contains a duplicated
    // 8-gram at every position, so maximal islands recover exactly the
    // union of ≥8-token duplicated substrings WITHOUT a suffix array:
    // islands = the classic gaps-and-islands grouping (i − row_number) per
    // doc. Scale shape: the gram→df join is q_dup_ngram_spans' (uniform
    // string keys, dup-gram side AQE-broadcastable); the window runs over
    // DUPLICATED positions only (a small fraction of the corpus),
    // partitioned by doc_id — never a global sort.
    sql("q_dup_longest_span",
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0) AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i, array_to_string(toks[i:(i+7)], ' ') AS gram
        |  FROM tok, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        |  WHERE len(toks) >= 8),
        |df AS (SELECT gram FROM grams GROUP BY gram
        |       HAVING count(DISTINCT doc_id) >= 2),
        |dup AS (SELECT g.doc_id, g.i FROM grams g JOIN df USING (gram)),
        |isl AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM dup)
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
        |  CAST(count(*) + 7 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // FanOut before the 8-gram explode: the single-row-group documents
      // scan is ONE task, and `g` feeds two subtrees (df aggregate + the
      // position join), so the serialized tokenize+gram build ran twice
      // (two ~1 s single-task stages in the r21 profile); floored, both
      // derivations run at cluster width (guide §2.2/§6; no-op at scale)
      val g = graft.ext.FanOut.ensure(
          Tables.documents(s, d).select($"doc_id", $"text"))
        .withColumn("toks", filter(split(lower($"text"), "\\s+"), w => length(w) > 0))
        .filter(size($"toks") >= 8)
        .select($"doc_id", explode(
          transform(sequence(lit(1), size($"toks") - 7),
            i => struct(i.as("i"),
              array_join(slice($"toks", i, lit(8)), " ").as("gram")))).as("x"))
        .select($"doc_id", $"x.i".as("i"), $"x.gram".as("gram"))
      val dupGrams = g.groupBy($"gram")
        .agg(countDistinct($"doc_id").as("n_docs"))
        .filter($"n_docs" >= 2)
        .select($"gram")
      val w = Window.partitionBy($"doc_id").orderBy($"i")
      g.join(dupGrams, Seq("gram"))
        .select($"doc_id", $"i")
        .withColumn("grp", $"i" - row_number().over(w))
        .groupBy($"doc_id", $"grp")
        .agg(min($"i").cast("long").as("span_start"),
          (count(lit(1)) + 7).cast("long").as("span_tokens"))
        .select($"doc_id", $"span_start", $"span_tokens")
        .orderBy($"doc_id", $"span_start")
    },

    // MAXIMAL duplicated substring PER DUP PAIR (round-13 stretch — the
    // suffix-array role filled by a gram-chain walk): for every document
    // pair sharing a duplicated 8-gram, emit the LONGEST common token
    // substring itself (text, length, both start positions). Method: a
    // shared substring of L >= 8 tokens is exactly a run of L-7 consecutive
    // matching 8-gram positions on ONE DIAGONAL (i - j constant), so the
    // maximal substring is the longest gaps-and-islands run per (pair,
    // diagonal) — no suffix array needed, and unlike one it distributes:
    // the window partitions by (pair, diagonal), never globally. Scale
    // shape: pair generation is the winnowing discipline (gram df capped
    // at maxDf=16, so each gram fans out to at most maxDf^2 pairs — hot
    // boilerplate grams are CUT, which also means a run through a cut gram
    // splits; both engines apply the identical rule). Ties break to the
    // smallest a_start then b_start. Substrings shorter than 8 tokens
    // carry no duplicated 8-gram and are out of scope by construction
    // (the Lee et al. 2022 ExactSubstr threshold).
    sql("q_dup_longest_substring",
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0) AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i, array_to_string(toks[i:(i+7)], ' ') AS gram
        |  FROM tok, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        |  WHERE len(toks) >= 8),
        |df AS (SELECT gram FROM grams GROUP BY gram
        |       HAVING count(DISTINCT doc_id) BETWEEN 2 AND 16),
        |dup AS (SELECT g.doc_id, g.i, g.gram FROM grams g JOIN df USING (gram)),
        |cells AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i AS ia, b.i AS ib
        |  FROM dup a JOIN dup b USING (gram) WHERE a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT doc_a, doc_b, ia, ib, ia - ib AS diag,
        |    ia - row_number() OVER (PARTITION BY doc_a, doc_b, ia - ib ORDER BY ia) AS grp
        |  FROM cells),
        |runs AS (
        |  SELECT doc_a, doc_b, min(ia) AS a_start, min(ib) AS b_start,
        |    count(*) + 7 AS lcs_tokens
        |  FROM isl GROUP BY doc_a, doc_b, diag, grp),
        |best AS (
        |  SELECT doc_a, doc_b, a_start, b_start, lcs_tokens,
        |    row_number() OVER (PARTITION BY doc_a, doc_b
        |      ORDER BY lcs_tokens DESC, a_start, b_start) AS rk
        |  FROM runs)
        |SELECT doc_a, doc_b,
        |  CAST(lcs_tokens AS BIGINT) AS lcs_tokens,
        |  CAST(a_start AS BIGINT) AS a_start, CAST(b_start AS BIGINT) AS b_start,
        |  array_to_string(t.toks[a_start:(a_start + lcs_tokens - 1)], ' ') AS lcs_text
        |FROM best JOIN tok t ON t.doc_id = best.doc_a
        |WHERE rk = 1 ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // FanOut before the tokenize: tok is read by the gram explode AND
      // the final lcs_text join, each re-deriving the split on a ONE-task
      // single-row-group scan without the floor (guide §2.2/§6)
      val tok = graft.ext.FanOut.ensure(
          Tables.documents(s, d).select($"doc_id", $"text"))
        .withColumn("toks", filter(split(lower($"text"), "\\s+"), w => length(w) > 0))
        .select($"doc_id", $"toks")
      val g = tok.filter(size($"toks") >= 8)
        .select($"doc_id", explode(
          transform(sequence(lit(1), size($"toks") - 7),
            i => struct(i.as("i"),
              array_join(slice($"toks", i, lit(8)), " ").as("gram")))).as("x"))
        .select($"doc_id", $"x.i".as("i"), $"x.gram".as("gram"))
      // df-capped dup grams: the winnowing maxDf discipline bounds every
      // gram bucket to at most 16^2 pair cells — never all-pairs
      val dupGrams = g.groupBy($"gram")
        .agg(countDistinct($"doc_id").as("nd"))
        .filter($"nd" >= 2 && $"nd" <= 16)
        .select($"gram")
      // pinned: both sides of the self-join read this frame — without the
      // checkpoint Catalyst re-derives the gram explode + df aggregate per
      // side (the q_winnow_neardup lesson)
      val dup = g.join(dupGrams, Seq("gram")).localCheckpoint()
      val cells = dup.as("a").join(dup.as("b"), Seq("gram"))
        .filter($"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          $"a.i".as("ia"), $"b.i".as("ib"))
        .distinct()
      val wDiag = Window.partitionBy($"doc_a", $"doc_b", $"ia" - $"ib").orderBy($"ia")
      val runs = cells
        .withColumn("diag", $"ia" - $"ib")
        .withColumn("grp", $"ia" - row_number().over(wDiag))
        .groupBy($"doc_a", $"doc_b", $"diag", $"grp")
        .agg(min($"ia").as("a_start"), min($"ib").as("b_start"),
          (count(lit(1)) + 7).as("lcs_tokens"))
      val wBest = Window.partitionBy($"doc_a", $"doc_b")
        .orderBy($"lcs_tokens".desc, $"a_start", $"b_start")
      runs
        .withColumn("rk", row_number().over(wBest))
        .filter($"rk" === 1)
        .join(tok.select($"doc_id".as("doc_a"), $"toks"), Seq("doc_a"))
        .select($"doc_a", $"doc_b",
          $"lcs_tokens".cast("long").as("lcs_tokens"),
          $"a_start".cast("long").as("a_start"), $"b_start".cast("long").as("b_start"),
          array_join(slice($"toks", $"a_start".cast("int"), $"lcs_tokens".cast("int")), " ")
            .as("lcs_text"))
        .orderBy($"doc_a", $"doc_b")
    },

    // DELTA-vs-CORPUS duplicated spans (the SemDedup.dedupDelta discipline
    // applied to the exact-substring family): decide which spans of an
    // ingest batch (doc_id ≥ 250) duplicate the standing corpus
    // (doc_id < 250) or repeat within the batch, WITHOUT re-pairing the
    // corpus — a delta position is duplicated when its 8-gram appears
    // anywhere in the corpus gram index OR in ≥ 2 distinct delta docs.
    // Per-ingest cost is |delta grams| joined against the gram index
    // (bucketed by gram at scale), linear in the corpus; the corpus–corpus
    // work a full q_dup_longest_span would re-pay is never generated.
    sql("q_dup_span_delta",
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0) AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i, array_to_string(toks[i:(i+7)], ' ') AS gram
        |  FROM tok, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        |  WHERE len(toks) >= 8),
        |cidx AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 250),
        |dg AS (SELECT doc_id, i, gram FROM grams WHERE doc_id >= 250),
        |ddup AS (SELECT gram FROM dg GROUP BY gram
        |         HAVING count(DISTINCT doc_id) >= 2),
        |hit AS (SELECT gram FROM cidx UNION SELECT gram FROM ddup),
        |dup AS (SELECT DISTINCT d.doc_id, d.i FROM dg d JOIN hit USING (gram)),
        |isl AS (
        |  SELECT doc_id, i,
        |    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |  FROM dup)
        |SELECT doc_id, CAST(min(i) AS BIGINT) AS span_start,
        |  CAST(count(*) + 7 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // FanOut before the 8-gram explode (same single-task-scan rationale
      // as q_dup_longest_span; `g` feeds the corpus index, the delta df
      // aggregate AND the hit join)
      val g = graft.ext.FanOut.ensure(
          Tables.documents(s, d).select($"doc_id", $"text"))
        .withColumn("toks", filter(split(lower($"text"), "\\s+"), w => length(w) > 0))
        .filter(size($"toks") >= 8)
        .select($"doc_id", explode(
          transform(sequence(lit(1), size($"toks") - 7),
            i => struct(i.as("i"),
              array_join(slice($"toks", i, lit(8)), " ").as("gram")))).as("x"))
        .select($"doc_id", $"x.i".as("i"), $"x.gram".as("gram"))
      val corpusIdx = g.filter($"doc_id" < 250).select($"gram").distinct()
      val deltaG = g.filter($"doc_id" >= 250)
      val deltaDup = deltaG.groupBy($"gram")
        .agg(countDistinct($"doc_id").as("nd")).filter($"nd" >= 2)
        .select($"gram")
      val w = Window.partitionBy($"doc_id").orderBy($"i")
      deltaG.join(corpusIdx.unionByName(deltaDup).distinct(), Seq("gram"))
        .select($"doc_id", $"i").distinct()
        .withColumn("grp", $"i" - row_number().over(w))
        .groupBy($"doc_id", $"grp")
        .agg(min($"i").cast("long").as("span_start"),
          (count(lit(1)) + 7).cast("long").as("span_tokens"))
        .select($"doc_id", $"span_start", $"span_tokens")
        .orderBy($"doc_id", $"span_start")
    },

    // Duplicated-span REWRITE (the final step of the Lee et al. 2022
    // ExactSubstr loop: statistics → span extraction → cut the spans out):
    // every token covered by a duplicated 8-gram (position i covers tokens
    // i..i+7) is removed; the survivors reassemble in original order into
    // the cleaned document. Output text is the TOKENIZED reassembly
    // (lowercased, whitespace-normalized) — the form the downstream
    // tokenizer consumes anyway. Docs shorter than 8 tokens carry no grams
    // and pass through unchanged. Scale shape: covered positions explode
    // from DUPLICATED gram positions only (8 rows each, deduped per
    // token); the reassembly is a per-doc sort_array over kept tokens —
    // grouped by doc_id, never a global sort.
    sql("q_dup_span_rewrite",
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), w -> len(w) > 0) AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i, array_to_string(toks[i:(i+7)], ' ') AS gram
        |  FROM tok, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        |  WHERE len(toks) >= 8),
        |df AS (SELECT gram FROM grams GROUP BY gram
        |       HAVING count(DISTINCT doc_id) >= 2),
        |covered AS (
        |  SELECT DISTINCT g.doc_id, j
        |  FROM grams g JOIN df USING (gram),
        |    unnest(generate_series(g.i, g.i + 7)) AS v(j)),
        |pos AS (
        |  SELECT doc_id, i AS idx, toks[i] AS w
        |  FROM tok, unnest(generate_series(1, len(toks))) AS u(i)),
        |kept AS (
        |  SELECT p.doc_id, p.idx, p.w FROM pos p
        |  LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.idx = c.j
        |  WHERE c.j IS NULL)
        |SELECT t.doc_id,
        |  CAST(len(t.toks) AS BIGINT) AS n_orig,
        |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  coalesce(k.text_clean, '') AS text_clean
        |FROM tok t LEFT JOIN (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(w, ' ' ORDER BY idx) AS text_clean
        |  FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      // FanOut before the tokenize: tok feeds the gram explode, the
      // positions explode AND the final rejoin — three serialized
      // derivations on the one-task scan without the floor (guide §2.2/§6)
      val tok = graft.ext.FanOut.ensure(
          Tables.documents(s, d).select($"doc_id", $"text"))
        .withColumn("toks", filter(split(lower($"text"), "\\s+"), w => length(w) > 0))
        .select($"doc_id", $"toks")
      val g = tok.filter(size($"toks") >= 8)
        .select($"doc_id", explode(
          transform(sequence(lit(1), size($"toks") - 7),
            i => struct(i.as("i"),
              array_join(slice($"toks", i, lit(8)), " ").as("gram")))).as("x"))
        .select($"doc_id", $"x.i".as("i"), $"x.gram".as("gram"))
      val dupGrams = g.groupBy($"gram")
        .agg(countDistinct($"doc_id").as("n_docs"))
        .filter($"n_docs" >= 2)
        .select($"gram")
      // covered shares lineage with pos (both derive from tok), so the join
      // keys must be RENAMED, not disambiguated by DataFrame reference —
      // same-lineage refs resolve to one attribute and the predicate
      // collapses to trivially-true.
      val covered = g.join(dupGrams, Seq("gram"))
        .select($"doc_id".as("c_doc"), explode(sequence($"i", $"i" + 7)).as("j"))
        .distinct()
      val kept = tok
        .select($"doc_id", posexplode($"toks").as(Seq("p", "w")))
        .withColumn("idx", $"p" + 1).drop("p")
        .join(covered, $"doc_id" === $"c_doc" && $"idx" === $"j", "left_anti")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct($"idx", $"w"))), x => x("w")),
            " ").as("text_clean"))
      tok.join(kept, Seq("doc_id"), "left")
        .select($"doc_id", size($"toks").cast("long").as("n_orig"),
          coalesce($"n_kept", lit(0L)).cast("long").as("n_kept"),
          coalesce($"text_clean", lit("")).as("text_clean"))
        .orderBy($"doc_id")
    },

    // Repetition quality signals (Gopher/C4-style): top-term share and
    // distinct-token ratio per doc — two algebraic aggregates over the
    // per-(doc, word) counts.
    sql("q_repetition",
      """WITH t AS (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents)
        |  WHERE len(word) > 0),
        |wc AS (SELECT doc_id, word, count(*) AS cnt FROM t GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_tok,
        |  round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_share,
        |  round(CAST(count(*) AS DOUBLE) / sum(cnt), 6) AS uniq_ratio
        |FROM wc GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("word"))
        .filter(length($"word") > 0)
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("cnt"))
        .groupBy($"doc_id")
        .agg(
          sum($"cnt").as("n_tok"),
          round(max($"cnt").cast("double") / sum($"cnt"), 6).as("top_share"),
          round(count(lit(1)).cast("double") / sum($"cnt"), 6).as("uniq_ratio"))
        .orderBy($"doc_id")
    },

    // BM25 ranked retrieval over the corpus for a fixed term set (k1=1.2,
    // b=0.75): tf on (doc, word), df on word, corpus stats broadcast — the
    // classic lexical-search scorer as three algebraic aggregates + joins.
    sql("q_bm25_search", bm25OracleSql) { (s, d) =>
      import s.implicits._
      // NOTE (r21): a FanOut floor before this tokenize was measured 2x
      // SLOWER in a quiet-host bench capture (plain split too cheap to
      // amortize the exchange across three consumer aggregates); reverted.
      val tok = Tables.documents(s, d)
        .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("word"))
        .filter(length($"word") > 0)
      val dl = tok.groupBy($"doc_id").agg(count(lit(1)).cast("double").as("dl"))
      val tf = tok.groupBy($"doc_id", $"word").agg(count(lit(1)).cast("double").as("tf"))
      val dfq = tok.groupBy($"word").agg(countDistinct($"doc_id").cast("double").as("df"))
      val stats = dl.agg(count(lit(1)).cast("double").as("n"), avg($"dl").as("avgdl"))
      val terms = Seq("spark", "query", "data").toDF("word")
      val score = log(($"n" - $"df" + 0.5) / ($"df" + 0.5) + 1.0) *
        $"tf" * 2.2 / ($"tf" + lit(1.2) * (lit(0.25) + lit(0.75) * $"dl" / $"avgdl"))
      tf.join(broadcast(terms), "word")
        .join(dfq, "word")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy($"doc_id")
        .agg(round(sum(score), 6).as("bm25"))
        .orderBy($"bm25".desc, $"doc_id")
        .limit(20)
    },

    // Same retrieval through the MATERIALIZED inverted index: postings
    // built once (the index job), BM25 served from index-sized aggregates
    // only. Hash-matches the identical oracle as q_bm25_search — the two
    // paths are interchangeable, which is the point of an index.
    sql("q_bm25_indexed", bm25OracleSql) { (s, d) =>
      import s.implicits._
      // pin the built index: searchBm25 reads `postings` from two subtrees
      // (term hits + corpus doc-length stats) on the contract that it IS a
      // materialized index — unpinned, Catalyst re-derives the full
      // tokenize+tf+dl build per subtree (4 tokenize passes total)
      val postings = graft.ext.TextIndex.buildPostings(
        Tables.documents(s, d), "doc_id", "text").localCheckpoint()
      graft.ext.TextIndex.searchBm25(postings, Seq("spark", "query", "data"), 20)
    },

    // Near-dup dedup END-TO-END, fully oracled: exact Jaccard pairs from the
    // prefix-filtered set-similarity join (never all-pairs) → connected
    // components → drop every non-canonical cluster member (canonical = min
    // doc_id) — the full pipeline a 100 TB corpus dedup runs. The DuckDB
    // oracle recomputes the pairs quadratically and min-labels components
    // with a recursive CTE seeded ONLY at local-minimum nodes (the component
    // min is always one, so min-over-reachable-seeds is exact while the
    // recursion stays linear in cluster size, not quadratic). Bounded to
    // doc_id < 600 like q_setsim_join — the corpus is so near-dup-dense
    // that the quadratic oracle is the limiting side.
    sql("q_neardup_keep_canonical",
      s"""WITH tok AS MATERIALIZED (
         |  SELECT doc_id, list_distinct($toksSql) AS toks
         |  FROM documents WHERE doc_id < 600 AND len($toksSql) > 0),
         |pairs AS MATERIALIZED (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.toks, b.toks)) > 0
         |    AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         |        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |seeds AS (SELECT src AS id FROM edges GROUP BY src HAVING min(dst) > src),
         |reach AS (
         |  WITH RECURSIVE r(id, anc) AS (
         |    SELECT id, id FROM seeds
         |    UNION
         |    SELECT e.dst, r.anc FROM edges e JOIN r ON r.id = e.src)
         |  SELECT id, min(anc) AS component FROM r GROUP BY id),
         |dropped AS (SELECT id AS doc_id FROM reach WHERE id <> component)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
         |FROM documents
         |WHERE doc_id < 600 AND doc_id NOT IN (SELECT doc_id FROM dropped)
         |GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).filter($"doc_id" < 600)
      val pairs = graft.ext.SetSimJoin.join(docs, "doc_id", "text", 0.8)
      val comp = graft.ext.Components.connectedComponents(
        pairs, srcCol = "doc_a", dstCol = "doc_b")
      val dropIds = comp.filter($"id" =!= $"component").select($"id".as("doc_id"))
      docs.join(dropIds, Seq("doc_id"), "left_anti")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy($"lang")
    },

    // Product-quantized ANN: 16-byte codes (32× smaller than the double
    // vectors), per-query ADC tables, candidates scored by table lookups
    // only, ranked by the bounded top-k aggregate. Recall vs exact L2
    // pinned in PqIndexSpec. Rows-only (codebooks are engine-trained).
    // FIXED-POINT PQ, FULLY ORACLED (the q_ivf_*_exact technique applied to
    // the compact-code tier): per-subspace Lloyd's (m=2, k=4, iters=2) on
    // the integer-quantized vectors, then the code assignment of EVERY
    // vector hash-checked against DuckDB's re-run of the same training —
    // so the codebook contents, the tie rule (strict-less argmin → lowest
    // code), and the empty-cluster keep-old rule are all pinned
    // cross-engine. See pqEncodeExactOracleSql for the determinism
    // argument. The float-embedding PQ/OPQ entries remain rows-only.
    sql("q_pq_encode_exact", pqEncodeExactOracleSql) { (s, d) =>
      import s.implicits._
      val pts = intQuantizedVecs(s, d)
      val books = PqIndex.train(pts, m = 2, k = 4, sampleN = 4096, iters = 2)
      val unpack = udf((b: Array[Byte]) => b.map(x => x & 0xFF))
      PqIndex.encode(pts, books)
        .select($"id", posexplode(unpack($"code")).as(Seq("sub", "code")))
        .orderBy($"id", $"sub")
    },

    // ...and the ADC SERVING path: the per-query m×k distance table, the
    // byte-indexed lookups, and the bounded top-k ranking reproduce in
    // DuckDB because the table entries are exactly-rounded doubles from
    // identical operand sequences and the m=2 score sum is commutative
    // (two addends — no fold-order pinning needed).
    sql("q_pq_search_exact", pqSearchExactOracleSql) { (s, d) =>
      import s.implicits._
      val pts = intQuantizedVecs(s, d)
      val books = PqIndex.train(pts, m = 2, k = 4, sampleN = 4096, iters = 2)
      PqIndex.search(pts.filter($"id" < 10), PqIndex.encode(pts, books),
          books, topK = 5)
        .orderBy($"query_id", $"rank")
    },

    // FULLY ORACLED as of round 12 (was rows-only under the float-k-means
    // rule): PQ training runs at the DRIVER over the ordered sample, so
    // unlike distributed k-means every float sum has one fixed operand
    // order — which pqTopkOracleSql mirrors with ordered-list folds. The
    // production geometry (m=16, k=256, iters=5, float embeddings) is
    // what's checked; nothing about the entry changed but its oracle.
    sql("q_pq_topk", pqTopkOracleSql) { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
      // build-once, search-only steady state: training/encoding never sits
      // in the query path
      servedIndex(d, s"pq|$d|m16k256",
          fp => graft.ext.IndexStore.indexDir("pq", d, s"m16k256-$fp"))(
          PqIndex.buildIndex(emb, _, m = 16, k = 256, sampleN = 2000, iters = 5))(
          PqIndex.searchIndexed(s, emb.filter($"id" < 5), _, topK = 10))
        .orderBy($"query_id", $"rank")
    },

    // OPQ: PCA + eigenvalue-allocation rotation (Ge et al. CVPR'13 non-
    // parametric init) ahead of the same PQ coding — distances preserved
    // exactly by the orthonormal rotation, quantization error reduced when
    // variance is skewed across raw dims. Mechanism pinned in OpqSpec.
    rowsOnly("q_opq_topk") { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
      servedIndex(d, s"opq|$d|m16k256",
          fp => graft.ext.IndexStore.indexDir("opq", d, s"m16k256-$fp"))(
          graft.ext.Opq.buildIndex(emb, _, m = 16, k = 256, sampleN = 2000, iters = 5))(
          graft.ext.Opq.searchIndexed(s, emb.filter($"id" < 5), _, topK = 10))
        .orderBy($"query_id", $"rank")
    },

    // IVF+PQ composed ANN: coarse lists + residual PQ codes + per-list ADC
    // tables, nprobe-pruned — the billion-scale index shape. Rows-only.
    rowsOnly("q_ivfpq_topk") { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d).select($"vec_id".as("id"), $"embedding".as("vec"))
      servedIndex(d, s"ivfpq|$d|n16m16k256",
          fp => graft.ext.IndexStore.indexDir("ivfpq", d, s"n16m16k256-$fp"))(
          graft.ext.IvfPq.buildIndex(emb, _, nlist = 16, m = 16, k = 256, sampleN = 2000))(
          graft.ext.IvfPq.searchIndexed(s, emb.filter($"id" < 5), _, topK = 10, nprobe = 4))
        .orderBy($"query_id", $"rank")
    },

    // IVF+PQ COARSE LEG, FULLY ORACLED (round-15: the q_ivf_*_exact
    // technique applied to the composed index's routing half): coarse
    // whole-vector Lloyd's + every vector's list assignment hash-checked
    // against DuckDB's re-run. See ivfpqCoarseExactOracleSql for the
    // determinism argument; the residual-PQ leg stays rows-only above.
    sql("q_ivfpq_coarse_exact", ivfpqCoarseExactOracleSql) { (s, d) =>
      import s.implicits._
      val pts = intQuantizedVecs(s, d)
      val model = graft.ext.IvfPq.train(pts, nlist = 4, m = 2, k = 4,
        sampleN = 4096, iters = 2)
      graft.ext.IvfPq.encode(pts, model)
        .select($"id", $"cluster_id".cast("int").as("cluster_id"))
        .orderBy($"id")
    },

    // IVF+PQ RESIDUAL + ADC LEG, FULLY ORACLED (round-16 item 6 — the last
    // engine-only half of the composed index): same fixed-point geometry
    // as the coarse oracle, now through residual codebook training, the
    // full-table residual encode, and the nprobe-pruned per-list ADC
    // serve. With this every tier of the production q_ivfpq_topk shape
    // (route → residual-encode → ADC-rank) is hash-checked cross-engine
    // at fixed point; only the float-embedding twin stays rows-only. See
    // ivfpqSearchExactOracleSql for the determinism argument.
    sql("q_ivfpq_search_exact", ivfpqSearchExactOracleSql) { (s, d) =>
      import s.implicits._
      val pts = intQuantizedVecs(s, d)
      val model = graft.ext.IvfPq.train(pts, nlist = 4, m = 2, k = 4,
        sampleN = 4096, iters = 2)
      graft.ext.IvfPq.search(pts.filter($"id" < 10),
          graft.ext.IvfPq.encode(pts, model), model, topK = 5, nprobe = 2)
        .orderBy($"query_id", $"rank")
    },

    // OPQ's ALLOCATION + ROTATION-APPLY + CODING, FULLY ORACLED (round-15):
    // Opq.permutationModel drives the same eigenvalue allocator with raw
    // per-dim variances (identity eigenbasis → the learned rotation is a
    // variance-balanced dimension permutation), so everything OPQ adds on
    // top of PQ except the Jacobi eigensolver itself is pinned cross-
    // engine. See opqAllocExactOracleSql; q_opq_topk (the eigensolver
    // path) stays rows-only above.
    sql("q_opq_alloc_exact", opqAllocExactOracleSql) { (s, d) =>
      import s.implicits._
      val pts = intQuantizedVecs(s, d)
      val model = graft.ext.Opq.permutationModel(pts, m = 2, k = 4,
        sampleN = 4096, iters = 2)
      val unpack = udf((b: Array[Byte]) => b.map(x => x & 0xFF))
      graft.ext.Opq.encode(pts, model)
        .select($"id", posexplode(unpack($"code")).as(Seq("sub", "code")))
        .orderBy($"id", $"sub")
    },

    // Mergeable distinct-count sketches (DataSketches HLL): one sketch per
    // language partial, then a register-wise UNION across partials for the
    // corpus-wide estimate — the two-level pattern that replaces a global
    // count(DISTINCT) shuffle at 100 TB (per-shard sketches are a few KB
    // each regardless of shard size; the union is a driver-light second
    // agg). Sketch bytes are engine-specific → rows-only; the estimate's
    // accuracy vs exact distinct is pinned in ExtOpsSpec.
    rowsOnly("q_hll_mergeable") { (s, d) =>
      import s.implicits._
      val perLang = Tables.documents(s, d)
        .groupBy($"lang")
        .agg(hll_sketch_agg(xxhash64($"text"), 14).as("sk"))
      val langRows = perLang.select($"lang", hll_sketch_estimate($"sk").as("est_distinct"))
      val allRow = perLang
        .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est_distinct"))
        .select(lit("ALL").as("lang"), $"est_distinct")
      langRows.unionByName(allRow).orderBy($"lang")
    },

    // K-minimum-values mergeable sketch (Bar-Yossef et al. — the theta
    // sketch's ancestor), FULLY ORACLED: the sketch state is the K smallest
    // 52-bit md5-derived hashes of the distinct texts per language, the
    // estimate is (K-1)·2⁵²/kth_min (exact count when the sketch isn't
    // full), and the ALL row is built by MERGING the per-language states —
    // K smallest of the union of per-group K-smallest provably equals the
    // global K-smallest, so merge-then-estimate is exact and both engines
    // reproduce it from the md5 spec alone. Same two-level pattern as
    // q_hll_mergeable (whose DataSketches bytes stay engine-specific):
    // per-shard states are K rows regardless of shard size; the dedup
    // shuffle carries 16-byte (lang, hash) pairs, never text payloads.
    sql("q_kmv_mergeable", kmvMergeableOracleSql) { (s, d) =>
      import s.implicits._
      val K = 64
      val pow52 = 4503599627370496.0 // 2^52, exact in double
      val hashed = Tables.documents(s, d)
        .select($"lang",
          conv(substring(md5($"text"), 1, 13), 16, 10).cast("long").as("u"))
        .distinct()
      val state = hashed
        .withColumn("rn",
          row_number().over(Window.partitionBy($"lang").orderBy($"u")))
        .filter($"rn" <= K)
        .select($"lang", $"u")
      def est(nKept: Column, kth: Column): Column =
        when(nKept < K, nKept.cast("double"))
          .otherwise(lit((K - 1).toDouble) * lit(pow52) / kth.cast("double"))
      val langRows = state.groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), max($"u").as("kth"))
        .select($"lang", est($"n_kept", $"kth").as("e"))
      val mergedRow = state.select($"u").distinct().orderBy($"u").limit(K)
        .agg(count(lit(1)).as("n_kept"), max($"u").as("kth"))
        .select(lit("ALL").as("lang"), est($"n_kept", $"kth").as("e"))
      langRows.unionByName(mergedRow)
        .select($"lang", round($"e", 2).as("est_distinct"))
        .orderBy($"lang")
    },

    // Theta sketches: the mergeable-sketch tier that supports set
    // INTERSECTION after aggregation (HLL cannot) — sketch the distinct
    // customer set of each order status once, then estimate every pairwise
    // overlap from the sketches alone: no re-scan, no pairwise self-join of
    // the raw fact table. FULLY ORACLED: below 2^lgK=16384 distinct values
    // per group a theta sketch is exact, and the correctness SFs keep
    // distinct customers per status under that bound (~1.4k at sf0.01,
    // ~14.5k at sf0.1) — the estimate IS the exact intersection count. At
    // 100 TB the same plan returns ±1.6% estimates at fixed KB cost.
    sql("q_theta_overlap",
      """WITH st AS (SELECT DISTINCT o_orderstatus AS status, o_custkey AS c
        |            FROM orders)
        |SELECT a.status AS status_a, b.status AS status_b,
        |  CAST(count(*) AS DOUBLE) AS est_shared_customers
        |FROM st a JOIN st b ON a.c = b.c AND a.status < b.status
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.functions.ExactRegime
      // lgK=16: exact until 65k distinct customers per status (~sf0.45)
      val sk = Tables.orders(s, d)
        .groupBy($"o_orderstatus".as("status"))
        .agg(theta_sketch_agg($"o_custkey", 16).as("sk"))
      // ExactRegime.theta GUARDS the exact-regime precondition (theta == 1
      // on both inputs): a scale bump past 2^lgK distinct customers fails
      // loudly here, never as a silent oracle hash mismatch.
      // pairs side is |statuses|² rows of KB sketches — broadcast-trivial
      sk.toDF("status_a", "sk_a")
        .crossJoin(broadcast(sk.toDF("status_b", "sk_b")))
        .filter($"status_a" < $"status_b")
        .select($"status_a", $"status_b",
          theta_sketch_estimate(theta_intersection(
            ExactRegime.theta($"sk_a"), ExactRegime.theta($"sk_b"))).cast("double").as("est_shared_customers"))
        .orderBy($"status_a", $"status_b")
    },

    // SOURCE×SOURCE content-overlap matrix from mergeable sketches — the
    // corpus-planning artifact: one theta sketch of 8-gram shingles per
    // source (KBs each, built in one corpus scan), then every pairwise
    // "how much do sources A and B share?" answered from the 20 sketches
    // alone. At 100 TB the alternative is a shingle self-join PER PAIR;
    // here it is |S|² intersections of broadcast-sized sketches. Exact
    // regime (ExactRegime.theta guards theta == 1 loudly): distinct
    // shingles per source stay under 2^16 through sf0.1 (~36k at sf0.1,
    // 20× headroom at sf0.01). Oracle = the quadratic distinct-shingle
    // join; only overlapping pairs are reported (est is exactly integral
    // in the exact regime, so the > 0 filter is deterministic).
    sql("q_source_overlap_matrix",
      """WITH tok AS (
        |  SELECT source, list_filter(string_split_regex(lower(text), '\s+'),
        |                             w -> len(w) > 0) AS toks
        |  FROM documents),
        |sh AS (SELECT DISTINCT source, shingle FROM (
        |  SELECT source, unnest(list_transform(range(1, len(toks) - 6),
        |    i -> array_to_string(toks[i:i+7], ' '))) AS shingle
        |  FROM tok WHERE len(toks) >= 8))
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS DOUBLE) AS est_shared_shingles
        |FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.functions.ExactRegime
      val shingles = Tables.documents(s, d)
        .withColumn("toks", filter(split(lower($"text"), "\\s+"), w => length(w) > 0))
        .filter(size($"toks") >= 8)
        .select($"source", explode(
          transform(sequence(lit(1), size($"toks") - 7),
            i => array_join(slice($"toks", i, lit(8)), " "))).as("shingle"))
      val sk = shingles.groupBy($"source")
        .agg(theta_sketch_agg($"shingle", 16).as("sk"))
      sk.toDF("source_a", "sk_a")
        .crossJoin(broadcast(sk.toDF("source_b", "sk_b")))
        .filter($"source_a" < $"source_b")
        .select($"source_a", $"source_b",
          theta_sketch_estimate(theta_intersection(
            ExactRegime.theta($"sk_a"), ExactRegime.theta($"sk_b"))).cast("double").as("est_shared_shingles"))
        .filter($"est_shared_shingles" > 0)
        .orderBy($"source_a", $"source_b")
    },

    // Edit-distance similarity join (Ed-Join shape): rarest-gram prefix
    // filter → length filter → exact levenshtein verify, never the all-pairs
    // product. The quadratic DuckDB theta join IS the oracle (bounded to
    // doc_id < 300 so the oracle side stays tractable); fixture texts are
    // ≥ 48 chars ≥ (k+1)·q = 33, inside the operator's completeness bound.
    sql("q_edit_join",
      """WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id < 300)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS INT) AS dist
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |WHERE abs(len(a.text) - len(b.text)) <= 10
        |  AND levenshtein(a.text, b.text) <= 10
        |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.ext.EditJoin.join(
          Tables.documents(s, d).filter($"doc_id" < 300), "doc_id", "text", maxDist = 10)
        .select($"id_a".as("doc_a"), $"id_b".as("doc_b"), $"dist")
        .orderBy($"doc_a", $"doc_b")
    },

    // Weighted sampling without replacement (Efraimidis-Spirakis A-Res):
    // key = u^(1/w) with u a deterministic md5-derived uniform, take the
    // top-k keys — the quality-weighted doc selection pass, fully oracled
    // because both engines derive the same u (13 hex chars = 52 mantissa
    // bits) and the same IEEE pow. Top-k by computed key plans as
    // TakeOrderedAndProject: per-partition heaps, no global sort — THE
    // distributed weighted sampler at 100 TB.
    sql("q_weighted_sample",
      """WITH t AS (SELECT doc_id, lang, n_chars,
        |    pow(CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
        |          AS BIGINT) AS DOUBLE) / 4503599627370496.0,
        |        1.0 / n_chars) AS k
        |  FROM documents)
        |SELECT doc_id, lang, n_chars
        |FROM t ORDER BY k DESC, doc_id LIMIT 50""".stripMargin) { (s, d) =>
      import s.implicits._
      val u = conv(substring(md5($"doc_id".cast("string")), 1, 13), 16, 10)
        .cast("double") / lit(4503599627370496.0) // 2^52
      Tables.documents(s, d)
        .select($"doc_id", $"lang", $"n_chars",
          pow(u, lit(1.0) / $"n_chars").as("k"))
        .orderBy($"k".desc, $"doc_id")
        .limit(50)
        .select($"doc_id", $"lang", $"n_chars")
    },

    // Theta A-NOT-B: how much of the corpus survives decontamination against
    // an eval set — answered from two independently-built sketches, no join
    // of the raw tables. Same exact-regime oracle argument as
    // q_theta_overlap (distinct texts ≤ 2^lgK at the correctness SFs).
    // At 100 TB: benchmark sketches are built once and shipped as KBs to
    // every corpus scan.
    sql("q_theta_decontaminate",
      """SELECT CAST((SELECT count(DISTINCT text) FROM documents
        |    WHERE text NOT IN (SELECT text FROM documents WHERE doc_id < 10))
        |  AS DOUBLE) AS est_clean_docs""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.functions.ExactRegime
      val docs = Tables.documents(s, d)
      // lgK=16: exact until 65k distinct texts (sf1-scale corpus headroom)
      val corpus = docs.agg(theta_sketch_agg($"text", 16).as("sk_corpus"))
      val eval_ = docs.filter($"doc_id" < 10)
        .agg(theta_sketch_agg($"text", 16).as("sk_eval"))
      // guarded exact-regime A\B — same loud-failure contract as
      // q_theta_overlap
      corpus.crossJoin(broadcast(eval_))
        .select(theta_sketch_estimate(theta_difference(
          ExactRegime.theta($"sk_corpus"), ExactRegime.theta($"sk_eval")))
          .cast("double").as("est_clean_docs"))
    },

    // Frequent-items sketch (Misra-Gries, Spark's approx_top_k): mergeable
    // heavy hitters. The exact form shuffles one row per distinct item; the
    // sketch ships a bounded map per partial. FULLY ORACLED: while distinct
    // items fit the map (suppliers: ~100 at sf0.01, ~1k at sf0.1 vs 32768
    // tracked), maxError is 0 and estimates ARE the exact counts; at 100 TB
    // the same plan degrades to ±N/maxItemsTracked estimates.
    sql("q_freq_topk",
      """SELECT l_suppkey AS suppkey, CAST(count(*) AS BIGINT) AS est_count
        |FROM lineitem GROUP BY 1
        |ORDER BY est_count DESC, suppkey LIMIT 10""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.functions.ExactRegime
      // ExactRegime.topK GUARDS maxError == 0 (map never purged): estimates
      // are exact counts or the query fails loudly — never a silent flip to
      // approximate under a scale bump. 32768 tracked: exact for at least
      // 32k distinct suppliers (~sf3.2)
      Tables.lineitem(s, d)
        .agg(call_function("approx_top_k_accumulate",
          $"l_suppkey".cast("long"), lit(32768)).as("sk"))
        .select(explode(call_function("approx_top_k_estimate",
          ExactRegime.topK($"sk"), lit(32768))).as("r"))
        .select($"r.item".as("suppkey"), $"r.count".as("est_count"))
        .orderBy($"est_count".desc, $"suppkey")
        .limit(10)
    },

    // KLL quantile sketches: mergeable percentiles with a proven rank-error
    // bound — exact percentile() sorts every group's values through the
    // shuffle; the sketch ships O(k) doubles per partial. FULLY ORACLED in
    // the exact regime: per (returnflag, ship-month) group sizes are ~240
    // at sf0.01 and ~28k at sf1, all under k=65535, so the sketch never
    // compacts and its INCLUSIVE quantiles ARE percentile_disc order
    // statistics; ExactRegime.kllQuantiles GUARDS that precondition (raises
    // past it — no silent flip to approximate under a scale bump). The
    // approximate regime's rank-error bound stays pinned in KllSketchSpec.
    sql("q_kll_quantiles",
      """SELECT l_returnflag, strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  round(percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p25_est,
        |  round(percentile_disc(0.5)  WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p50_est,
        |  round(percentile_disc(0.9)  WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p90_est
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      import s.implicits._
      import graft.functions.ExactRegime
      val k = 65535
      Tables.lineitem(s, d)
        .groupBy($"l_returnflag",
          date_format($"l_shipdate", "yyyy-MM").as("ship_month"))
        .agg(kll_sketch_agg_double($"l_extendedprice", k).as("sk"))
        .select($"l_returnflag", $"ship_month",
          ExactRegime.kllQuantiles($"sk", k, 0.25, 0.5, 0.9).as("q"))
        .select($"l_returnflag", $"ship_month",
          round($"q"(0), 4).as("p25_est"),
          round($"q"(1), 4).as("p50_est"),
          round($"q"(2), 4).as("p90_est"))
        .orderBy($"l_returnflag", $"ship_month")
    },

    // Int8-quantized brute-force top-k: 4× smaller vectors, integer dot
    // products, identical ranking machinery — recall vs exact pinned in
    // QuantizeSpec. FULLY ORACLED as of round 12 (was rows-only): nothing
    // in the path is engine-specific after all — maxAbs and the int8 codes
    // are order-free (max is exact; both engines compute the literal
    // floor(x/scale + 0.5) — Quantize.quantize uses that expression
    // directly rather than Math.round, which diverges on IEEE edges —
    // and DuckDB's own round() differs on negative halves), integer
    // dot/norms are exact, and the one float op is a single
    // exactly-rounded division.
    sql("q_quantize_topk", quantizeTopkOracleSql) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val qz = Tables.embeddings(s, d)
        .select($"vec_id".as("id"), graft.ext.Quantize.quantize($"embedding").as("z"))
      val queries = qz.filter($"id" < 5)
        .select($"id".as("query_id"), $"z.q".as("qa"))
      val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
      qz.select($"id".as("neighbor_id"), $"z.q".as("qb"))
        .crossJoin(broadcast(queries))
        .filter($"query_id" =!= $"neighbor_id")
        .select($"query_id", $"neighbor_id",
          round(graft.ext.Quantize.cosineInt8($"qa", $"qb"), 6).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 10)
        .orderBy($"query_id", $"rank")
    },

    // Multimodal: opaque binary media column + typed metadata (oracled).
    sql("q_multimodal_meta",
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CASE WHEN length(text) % 3 = 0 THEN 'image/png'
        |       WHEN length(text) % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS mime
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Multimodal.withMediaColumn(Tables.documents(s, d))
        .select($"doc_id", length($"media").as("n_bytes"), $"mime")
        .orderBy($"doc_id")
    },

    // REAL image decode round-trip, fully oracled: each doc gets a tiny
    // synthetic PNG (dimensions and gray level closed-form in doc_id),
    // executor-side javax.imageio decodes it back, and the oracle checks the
    // decoded width/height/mean-luminance against the closed forms — a
    // pixel-exact proof the codec path is a real decoder, not a stub.
    sql("q_image_decode",
      """SELECT doc_id,
        |  CAST(8 + doc_id % 16 AS INT) AS width,
        |  CAST(8 + (doc_id * 3) % 16 AS INT) AS height,
        |  round(CAST(doc_id % 256 AS DOUBLE), 2) AS mean_lum
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Multimodal.extractFeatures(Multimodal.withImageColumn(Tables.documents(s, d)))
        .toDF()
        .select($"doc_id", $"width", $"height", round($"mean_lum", 2).as("mean_lum"))
        .orderBy($"doc_id")
    },

    // REAL audio parse, fully oracled (the q_image_decode pattern for the
    // audio tier): each doc gets a tiny square-wave WAV whose rate /
    // channels / frames / amplitude are closed-form in doc_id;
    // executor-side javax.sound.sampled parses the actual RIFF container
    // and the PCM samples, and the recovered surface is integer-exact
    // (amplitude = absSum / (frames·channels), constant for a square
    // wave) — no stub, no float.
    sql("q_audio_meta",
      """SELECT doc_id,
        |  CAST(8000 * (1 + doc_id % 3) AS INT) AS rate,
        |  CAST(1 + doc_id % 2 AS INT) AS channels,
        |  CAST(32 + (doc_id % 16) * 8 AS BIGINT) AS frames,
        |  CAST(1000 * (1 + doc_id % 5) AS BIGINT) AS amp
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      Multimodal.extractAudioMeta(
          Multimodal.withAudioColumn(Tables.documents(s, d)))
        .toDF()
        .orderBy($"doc_id")
    },

    // Perceptual-hash image DEDUP over real decoded pixels: each doc's
    // 64×64 block-pattern PNG (grays closed-form in doc_id; docs ≡ mod 32
    // are planted perceptual twins) decodes executor-side, hashes to a
    // 64-bit aHash as four 16-bit bands (exact integer mean compare — no
    // floats), and near-dup pairs come from the banded equi-join with
    // pigeonhole-guaranteed recall at Hamming ≤ 3 — the image-corpus
    // analog of the SimHash text family, shuffling band values only,
    // never pixels. The doc_id < 1000 slice bounds the PLANTED mod-32
    // twin classes, which otherwise grow with the corpus (pair count
    // quadratic in the FIXTURE, not the operator — real image corpora
    // have bounded dup groups, for which the banded join is linear).
    // The oracle recomputes the hash from the closed-form
    // grays (valid because PNG is lossless: decoded pixel ≡ block gray,
    // pinned by MultimodalSpec's planted-twin test).
    sql("q_image_phash_dedup",
      """WITH g AS (
        |  SELECT doc_id, CAST(b AS INT) AS b,
        |    ((doc_id % 32) * 7 + b * 13) % 256 AS gray
        |  FROM documents, unnest(generate_series(0, 63)) AS t(b)
        |  WHERE doc_id < 1000),
        |tot AS (SELECT doc_id, sum(gray) AS tot FROM g GROUP BY 1),
        |bits AS (
        |  SELECT g.doc_id, b, CASE WHEN 64 * gray > tot THEN 1 ELSE 0 END AS bit
        |  FROM g JOIN tot USING (doc_id)),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN b < 16 THEN bit * (1 << (b % 16)) ELSE 0 END) AS INT) AS b0,
        |    CAST(sum(CASE WHEN b >= 16 AND b < 32 THEN bit * (1 << (b % 16)) ELSE 0 END) AS INT) AS b1,
        |    CAST(sum(CASE WHEN b >= 32 AND b < 48 THEN bit * (1 << (b % 16)) ELSE 0 END) AS INT) AS b2,
        |    CAST(sum(CASE WHEN b >= 48 THEN bit * (1 << (b % 16)) ELSE 0 END) AS INT) AS b3
        |  FROM bits GROUP BY 1),
        |bands AS (
        |  SELECT doc_id, 0 AS band, b0 AS bv FROM sig UNION ALL
        |  SELECT doc_id, 1, b1 FROM sig UNION ALL
        |  SELECT doc_id, 2, b2 FROM sig UNION ALL
        |  SELECT doc_id, 3, b3 FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT doc_a, doc_b,
        |    CAST(bit_count(xor(sa.b0, sb.b0)) + bit_count(xor(sa.b1, sb.b1)) +
        |         bit_count(xor(sa.b2, sb.b2)) + bit_count(xor(sa.b3, sb.b3)) AS INT)
        |      AS hamming
        |  FROM cand JOIN sig sa ON sa.doc_id = doc_a
        |            JOIN sig sb ON sb.doc_id = doc_b) t
        |WHERE hamming <= 3 ORDER BY hamming, doc_a, doc_b LIMIT 500""".stripMargin) { (s, d) =>
      import s.implicits._
      val hashes = Multimodal.aHashBands(
        Multimodal.withPatternImageColumn(
          Tables.documents(s, d).filter($"doc_id" < 1000))).toDF()
      Multimodal.imageNearDupPairs(hashes, maxDist = 3)
        .orderBy($"hamming".asc, $"doc_a", $"doc_b")
        .limit(500)
    },

    // Feature extraction over MIXED payloads (image mime on undecodable text
    // bytes → the byte-fingerprint fallback path), FULLY ORACLED (was
    // rows-only): the fallback's mean/histogram are closed-form functions of
    // the payload bytes, which DuckDB reconstructs from hex(encode(text)).
    // The float surface (mean = sum/n as double, hist = count/n as float) is
    // verified through its EXACT integer pre-images — mean·n rounds back to
    // the byte sum, hist[b]·n to the bin count, both bijective given n_bytes
    // (recovery exact: float c/n carries ≤ n·2⁻²⁴ ≪ 0.5 absolute error) —
    // sidestepping cross-engine float-FORMAT tie hazards (a dyadic count/n
    // like 1/64 decimal-terminates mid-format, where Java HALF_UP and C
    // round-to-even disagree) while checking the full information content.
    sql("q_media_features", mediaFeaturesOracleSql) { (s, d) =>
      import s.implicits._
      Multimodal.extractFeatures(Multimodal.withMediaColumn(Tables.documents(s, d)))
        .toDF()
        // histogram serialized to a string: the driver row-sorts the dump
        // in pandas, which cannot order ndarray-valued cells
        .select($"doc_id", $"mime", $"n_bytes", $"width", $"height",
          round($"mean_lum" * $"n_bytes").cast("long").as("lum_sum"),
          array_join(transform($"features",
            x => round(x.cast("double") * $"n_bytes").cast("int").cast("string")), ",")
            .as("hist_counts"))
        .orderBy($"doc_id")
    },

    // Frame sampling over the video subset: bounded per-doc fan-out through
    // the stub demuxer — rows-only.
    // The sampled-frame LAYOUT is closed-form in the payload size (video
    // docs: every 4th 64-byte chunk, ≤ 8 frames), so the driver-visible
    // projection is fully oracled; the frame bytes themselves stay
    // engine-side (the stub demuxer boundary, see sampleFrames).
    sql("q_media_frames",
      """WITH v AS (
        |  SELECT doc_id, octet_length(encode(text)) // 64 AS nchunks
        |  FROM documents WHERE length(text) % 3 = 2),
        |f AS (
        |  SELECT doc_id, CAST(r.j AS INT) AS frame_idx
        |  FROM v, range(8) r(j)
        |  WHERE r.j * 4 < nchunks)
        |SELECT doc_id, frame_idx, CAST(64 AS INT) AS frame_bytes
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      import s.implicits._
      Multimodal.sampleFrames(Multimodal.withMediaColumn(Tables.documents(s, d)))
        .toDF()
        .select($"doc_id", $"frame_idx", length($"frame").as("frame_bytes"))
        .orderBy($"doc_id", $"frame_idx")
    },

    // REAL multi-frame demux, fully oracled (q_image_decode pattern, one
    // level up: container → frames): each doc gets a tiny animated GIF with
    // frame count, dims, and per-frame gray all closed-form in doc_id;
    // executor-side ImageIO demuxes the sequence and decodes every sampled
    // frame (stride 2), and the oracle checks count, dims, and luminance
    // against the closed forms — pixel-exact proof the demux is a real
    // codec walk, not a chunker.
    sql("q_gif_frames",
      """SELECT d.doc_id, CAST(s.j AS INT) AS frame_idx,
        |  CAST(8 + d.doc_id % 8 AS INT) AS width,
        |  CAST(6 + d.doc_id % 5 AS INT) AS height,
        |  round(CAST((d.doc_id * 7 + s.j * 62) % 256 AS DOUBLE), 2) AS mean_lum
        |FROM documents d, range(4) s(j)
        |WHERE s.j * 2 < 1 + d.doc_id % 6
        |ORDER BY doc_id, frame_idx""".stripMargin) { (s, d) =>
      import s.implicits._
      Multimodal.demuxGifFrames(Multimodal.withGifColumn(Tables.documents(s, d)))
        .toDF()
        .select($"doc_id", $"frame_idx", $"width", $"height",
          round($"mean_lum", 2).as("mean_lum"))
        .orderBy($"doc_id", $"frame_idx")
    },

    // Deterministic per-group uniform sample via the bounded-heap top-k
    // AGGREGATE over an md5 priority: reproducible "pick k docs per source"
    // that shuffles k rows per partial instead of every row (the window
    // row_number form shuffles the whole corpus).
    sql("q_priority_sample",
      """SELECT source, CAST(rn AS INT) AS rank, doc_id
        |FROM (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT),
        |        doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 5 ORDER BY source, rank""".stripMargin) { (s, d) =>
      import s.implicits._
      val priority = conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
        .cast("double")
      graft.functions.TopKAggregate
        .rankedTopK(Tables.documents(s, d), Seq("source"), -priority, $"doc_id", 5)
        .select($"source", $"rank", $"id".as("doc_id"))
        .orderBy($"source", $"rank")
    },

    // Set-similarity join with prefix filtering (PPJoin-shape): EXACT
    // Jaccard-threshold pairs without all-pairs comparison — candidates
    // must share a token in their rarest-first prefixes. Oracle is the
    // brute-force quadratic join; result sets must be identical.
    sql("q_setsim_join",
      s"""WITH tok AS (
         |  SELECT doc_id, list_distinct($toksSql) AS toks
         |  FROM documents WHERE doc_id < 600 AND len($toksSql) > 0),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.toks, b.toks)) AS inter,
         |    len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS uni
         |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id),
         |sim AS (
         |  SELECT doc_a, doc_b, CAST(inter AS DOUBLE) / uni AS jaccard
         |  FROM pairs WHERE inter > 0 AND CAST(inter AS DOUBLE) / uni >= 0.8)
         |SELECT doc_a, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(avg(jaccard), 4) AS avg_jac, round(max(jaccard), 4) AS max_jac
         |FROM sim GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.ext.SetSimJoin.join(
          Tables.documents(s, d).filter($"doc_id" < 600), "doc_id", "text", 0.8)
        .groupBy($"doc_a")
        .agg(count(lit(1)).as("n_pairs"),
          round(avg($"jaccard"), 4).as("avg_jac"),
          round(max($"jaccard"), 4).as("max_jac"))
        .orderBy($"doc_a")
    },

    // INCREMENTAL near-dup: a small delta (doc_id 450-499) checked against
    // the standing corpus (doc_id < 450) through the R-S prefix join —
    // the daily-ingest dedup shape, corpus statistics reused, no corpus
    // self-join. Fully oracled against the quadratic delta×corpus join.
    sql("q_incremental_neardup",
      s"""WITH tok AS (
         |  SELECT doc_id, list_distinct($toksSql) AS toks
         |  FROM documents WHERE doc_id < 500 AND len($toksSql) > 0),
         |pairs AS (
         |  SELECT d.doc_id AS delta_id, c.doc_id AS corpus_id,
         |    len(list_intersect(d.toks, c.toks)) AS inter,
         |    len(d.toks) + len(c.toks) - len(list_intersect(d.toks, c.toks)) AS uni
         |  FROM tok d JOIN tok c ON d.doc_id >= 450 AND c.doc_id < 450)
         |SELECT delta_id, corpus_id,
         |  round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
         |FROM pairs WHERE inter > 0 AND CAST(inter AS DOUBLE) / uni >= 0.8
         |ORDER BY delta_id, corpus_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).filter($"doc_id" < 500)
      graft.ext.SetSimJoin.joinDelta(
          docs.filter($"doc_id" < 450), docs.filter($"doc_id" >= 450),
          "doc_id", "text", 0.8)
        .select($"delta_id", $"corpus_id", round($"jaccard", 6).as("jaccard"))
        .orderBy($"delta_id", $"corpus_id")
    },

    // Bigram-LM perplexity scoring (CCNet-shape quality filter): train an
    // add-1 smoothed bigram model on the corpus, score each doc by mean
    // ln P(w2|w1). Fully oracled — the whole model is relational algebra.
    sql("q_lm_perplexity",
      s"""WITH tok AS (
         |  SELECT doc_id, $toksSql AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
         |  FROM tok, unnest(generate_series(1, len(toks) - 1)) AS u(i)
         |  WHERE len(toks) >= 2),
         |bgc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
         |ugc AS (SELECT w1, sum(c2) AS c1 FROM bgc GROUP BY 1),
         |v AS (SELECT count(DISTINCT w) AS vs
         |      FROM (SELECT unnest(toks) AS w FROM tok)),
         |scored AS (
         |  SELECT bg.doc_id,
         |    ln((bgc.c2 + 1.0) / (ugc.c1 + 1.0 * (SELECT vs FROM v))) AS logp
         |  FROM bg JOIN bgc USING (w1, w2) JOIN ugc USING (w1))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(avg(logp), 4) AS avg_logp
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.ext.NgramLm.score(Tables.documents(s, d), "doc_id", "text")
        .select($"doc_id", $"n_bigrams", round($"avg_logp", 4).as("avg_logp"))
        .orderBy($"doc_id")
    },
  )
}
