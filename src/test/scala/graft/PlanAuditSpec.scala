package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Plan-shape invariants for the hot paths: filters reach the parquet scan
  * (PushedFilters), projections prune the read schema (ReadSchema), and the
  * relational pipeline stays inside whole-stage codegen (the `*(n)` spans
  * in the executed plan). These are the properties that decide whether a
  * query reads 2 columns or 200, and 1 partition or 8760, at 100 TB.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Executed-plan strings for EVERY query execution triggered while
    * building `run` — eagerly-executed subtrees (the Components gate-probe
    * collect, ANN index build/train actions, checkpoint materializations)
    * included via a [[QueryExecutionListener]] — plus the returned
    * DataFrame's own plan. The listener bus is asynchronous, so the sweep
    * flushes it by executing a uniquely-marked query and waiting for its
    * event: the bus is FIFO, so once the marker lands every earlier event
    * has landed too. */
  private def sweepExecutedPlans(name: String, run: => org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val captured = scala.collection.mutable.ArrayBuffer.empty[String]
    def grab(qe: QueryExecution): Unit = {
      val s = scala.util.Try(qe.executedPlan.toString).getOrElse("")
      captured.synchronized { captured += s }
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = grab(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = grab(qe)
    }
    spark.listenerManager.register(listener)
    try {
      val returned = scala.util.Try(run.queryExecution.executedPlan.toString).getOrElse("")
      val marker = s"plan-audit-flush-$name"
      spark.range(1).select(lit(marker).as("m")).collect()
      val deadline = System.nanoTime + 20L * 1000 * 1000 * 1000
      while (!captured.synchronized(captured.exists(_.contains(marker))) &&
             System.nanoTime < deadline) Thread.sleep(5)
      assert(captured.synchronized(captured.exists(_.contains(marker))),
        s"listener bus did not flush within 20 s for $name")
      captured.synchronized(captured.filterNot(_.contains(marker)).toVector) :+ returned
    } finally spark.listenerManager.unregister(listener)
  }

  test("filter + projection reach the scan: PushedFilters and pruned ReadSchema") {
    val q = Tables.lineitem(spark, sf)
      .filter($"l_shipdate" > "1995-01-01" && $"l_quantity" > 30)
      .select($"l_orderkey", $"l_extendedprice")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters:") &&
      (scan.contains("GreaterThan(l_quantity") || scan.contains("IsNotNull(l_quantity")),
      s"filters not pushed:\n$scan")
    // the scan must read only the 4 referenced columns, not all 16
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(Seq("l_orderkey", "l_extendedprice", "l_shipdate", "l_quantity")
      .forall(readSchema.contains), readSchema)
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_returnflag"),
      s"scan reads unprojected columns: $readSchema")
  }

  test("aggregation pipeline runs inside whole-stage codegen spans") {
    val q = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag")
      .agg(sum($"l_quantity"), avg($"l_extendedprice"))
    q.collect() // finalize the adaptive plan first — spans print post-execution
    // codegen'd stages print as "*(n)" prefixes in the executed plan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"no codegen span:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("gram-frequency aggregates partial-aggregate before the exchange") {
    // the skew-safety contract behind EditJoin and q_dup_ngram_spans: a hot
    // gram ("the") must collapse map-side to one partial row per partition,
    // never ship its whole posting list through the exchange to one task
    val docs = Seq((1L, "a b c a b"), (2L, "b c d"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val grams = docs
      .select($"doc_id", explode(split(lower($"text"), "\\s+")).as("gram"))
    val q = grams.groupBy($"gram").agg(count(lit(1)).as("df"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // two HashAggregates (partial below, final above) around the exchange
    val aggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2 && plan.contains("partial_count"),
      s"expected partial+final hash aggregation around the shuffle:\n$plan")
    // and the production plans keep that shape: no Window over a gram column
    // battery-wide (WindowAuditSpec pins it across every registered query)
  }

  test("dup-gram span join broadcasts the filtered dup-gram side") {
    // q_dup_ngram_spans filters the gram-frequency table to n_docs >= 2
    // before joining it back to the full gram stream; the filtered side is
    // small, so AQE must turn the join map-side (broadcast) — the full gram
    // stream shuffles once for the countDistinct, never for the join.
    val q = SparkEntry.queries("q_dup_ngram_spans")(spark, sf)
    q.collect() // finalize the adaptive plan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dup-gram join did not broadcast:\n$plan")
  }

  test("dimension join broadcasts; no shuffle lands on the fact side scan") {
    val q = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment").count()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("indexed IVF search scans ONLY the probed cluster partitions") {
    import graft.ext.IvfIndex
    // 4 well-separated axis blobs → 4 clusters; a query inside blob 0 with
    // nprobe=1 must read exactly one cluster partition from the index.
    val dim = 8
    val vecs = (0 until 64).map { i =>
      val v = new Array[Float](dim)
      v(i % 4) = 10f; v(4 + i % 4) = (i / 4).toFloat % 3
      (i.toLong, v)
    }.toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-audit").toString + "/idx"
    assert(IvfIndex.buildIndex(vecs, dir, nClusters = 4))
    assert(!IvfIndex.buildIndex(vecs, dir, nClusters = 4)) // idempotent
    val res = IvfIndex.searchIndexed(spark, vecs.filter($"id" === 0L), dir, k = 3, nprobe = 1)
    assert(res.count() == 3)
    // every scanned index file sits under exactly one cluster_id=... partition
    val listFiles = res.inputFiles.filter(_.contains("cluster_id="))
    assert(listFiles.nonEmpty, "index scan found no partitioned files")
    val clusters = listFiles.map(_.split("cluster_id=")(1).split("/")(0)).distinct
    assert(clusters.length == 1,
      s"nprobe=1 must touch one cluster partition, scanned: ${clusters.mkString(",")}")
  }

  test("source-overlap sketches partial-aggregate; pairwise stage broadcasts") {
    // q_source_overlap_matrix's scale contract: the shingle stream collapses
    // to one sketch buffer per (partition, source) BEFORE the exchange
    // (built-in theta_sketch_agg → ObjectHashAggregate partial/final), and
    // the |S|² pairwise stage joins KB-sized sketches via broadcast — the
    // corpus never shuffles for the matrix.
    val q = SparkEntry.queries("q_source_overlap_matrix")(spark, sf)
    q.collect() // finalize the adaptive plan
    val plan = q.queryExecution.executedPlan.toString
    val objAggs = plan.linesIterator.count(_.contains("ObjectHashAggregate"))
    assert(objAggs >= 2 && plan.contains("partial_theta_sketch_agg"),
      s"expected partial+final sketch aggregation around the shuffle:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"pairwise sketch stage did not broadcast:\n$plan")
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // hive-partitioned fact (our bronze/gold layout) joined to a FILTERED
    // dim on the partition column: Catalyst must inject a DynamicPruning
    // subquery into the fact scan so only the dim-surviving dt partitions
    // are read — the mechanism that turns a 8760-partition year scan into
    // a handful at 100 TB when the filter arrives via a join.
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    spark.range(1000)
      .select(($"id" % 10).cast("string").as("dt"), $"id".as("v"))
      .write.partitionBy("dt").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.range(10)
      .select($"id".cast("string").as("d_dt"), ($"id" % 3).as("flag"))
    val q = fact.join(dim, $"dt" === $"d_dt").filter($"flag" === 0)
      .groupBy($"dt").agg(sum($"v").as("s"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no DPP subquery in fact scan:\n$plan")
  }

  test("Q6 scan shape: all three predicates pushed, single codegen stage, no join") {
    val q = graft.SparkEntry.queries("q_forecast_revenue")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the plan printer truncates long PushedFilters lists — assert on the
    // leading pushed entries plus the full residual Filter condition
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"Q6 predicates not pushed:\n$plan")
    assert(plan.contains("l_quantity#") && plan.contains("< 24.0"),
      s"quantity predicate missing from the scan stage:\n$plan")
    assert(!plan.contains("Join"), s"Q6 must be a joinless scan:\n$plan")
  }

  test("Q19 disjunction: part slices pushed into the broadcast dim, residual on join") {
    val q = graft.SparkEntry.queries("q_discounted_revenue")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$plan")
    // the p_brand IN (…) disjunct union must reach the part scan as a
    // pushed Or/In filter rather than riding the join as a full residual
    assert(plan.contains("EqualTo(p_brand"),
      s"brand disjunction not pushed to part scan:\n$plan")
  }

  test("Q20 nested semi-join chain plans the outer IN as a semi join") {
    val q = graft.SparkEntry.queries("q_excess_suppliers")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"outer IN not planned as semi join:\n$plan")
  }

  test("registry-wide: no cartesian product; nested-loop joins only where whitelisted") {
    // A CartesianProduct (both sides shuffled, |L|·|R| rows) is never
    // acceptable at scale — no query may plan one. BroadcastNestedLoopJoin
    // is acceptable ONLY when the broadcast side is bounded by
    // construction; every entry below is one of:
    //   - a 1-row aggregate folded into a filter/projection (q_theta_*,
    //     q_chisq_independence, q_lm_perplexity, q_tfidf, q_bm25_*,
    //     q_important_stock, q_inactive_rich_cust, q_source_overlap_matrix,
    //     and the derived-partsupp supplier-count row in
    //     q_min_cost_supplier / q_parts_supplier_count),
    //   - a bounded query/centroid set in ANN serving (q_cosine_topk*,
    //     q_pq/opq/quantize_topk),
    //   - the intentional cross-join demonstrations (q_cross_join,
    //     q_jaccard_pairs' bounded doc slice).
    // Anything new that plans a nested-loop join must be justified here.
    val bnljAllowed = Set(
      "q_bm25_indexed", "q_bm25_search", "q_chisq_independence",
      "q_cosine_topk", "q_cosine_topk_ivf", "q_cosine_topk_ivf_indexed",
      "q_cosine_topk_maintained", "q_cross_join", "q_important_stock",
      // fixed-point ANN serving: 10-query probe/LUT broadcast, bounded by
      // construction (same family as q_cosine_topk* / q_pq_topk)
      "q_ivf_search_exact", "q_pq_search_exact",
      // recall harness over the same fixed-point serving paths: 10-query
      // probe broadcast (IVF leg) + 10-query exact-scan broadcast
      // (q_cosine_topk family) — both bounded by construction
      "q_ann_recall",
      // sketch-quality harness: the exact leg is the documented
      // oracle-tractable quadratic on the bounded doc_id < 600 slice
      // (q_jaccard_pairs family) + a 1-row candidate-count broadcast;
      // the LSH leg itself is the banded equi-join, never all-pairs
      "q_sketch_recall",
      "q_inactive_rich_cust", "q_jaccard_pairs", "q_lm_perplexity",
      // hybrid retrieval: the BM25 leg's 1-row stats broadcast + the dense
      // leg's bounded 1-query broadcast (q_cosine_topk family); the fusion
      // itself is a 40-row epilogue
      "q_hybrid_search_rrf",
      // hard-negative mining: bounded 10-query broadcast, candidates
      // stream — same family as q_cosine_topk*
      "q_hard_negatives",
      // semantic decontamination: bounded 10-eval-vector broadcast,
      // corpus streams — same family as q_cosine_topk*
      "q_embed_decontaminate",
      "q_min_cost_supplier", "q_opq_topk", "q_parts_supplier_count",
      "q_pq_topk", "q_quantize_topk", "q_source_overlap_matrix",
      "q_tfidf", "q_theta_decontaminate", "q_theta_overlap",
      // 1-row Σ n^α denominator broadcast-crossed into the |langs|-row
      // rate table — bounded by construction
      "q_mix_temperature",
      // bounded vec_id < 300 slice broadcast-crossed for the exact
      // near-dup ground truth (the documented oracle-tractable baseline;
      // production path is the LSH family) — the BNLJ surfaces in the
      // EAGER Components gate-probe collect, not the returned plan
      "q_embed_neardup_canonical",
      // retrieval eval: the cumulative DCG/IDCG sums are 10×10 triangular
      // joins on CHECKPOINTED top-10 rank lists — both sides bounded by
      // the top-k aggregate's depth regardless of corpus size (plus the
      // BM25 leg's 1-row stats broadcast)
      "q_ndcg_eval",
      // same family as q_ndcg_eval: 10×10 triangular cumulative-hits join
      // on a CHECKPOINTED top-10 rank list + a 1-row relevant-total
      // broadcast (plus the BM25 leg's 1-row stats broadcast)
      "q_mrr_map_eval",
      // t-closeness: the QI-group × bucket lattice densification is a
      // broadcast cross of two ATTRIBUTE-DOMAIN-bounded aggregates
      // (|nations×segments| × |kilobuckets|), plus the triangular
      // cumulative join on the ≤|buckets|-row global frame and the 1-row
      // (N, m) totals broadcast — none grow with the table
      "q_t_closeness",
      // DSIR scoring: the 1-row totals frame and the ≤64-row bucket
      // weight table are broadcast-crossed/joined into the token stream —
      // both sides bounded by the fixed bucket count B, not the corpus
      "q_dsir_weights",
      // MMR re-rank: the 20-row CHECKPOINTED candidate pool self-paired
      // (20×20, broadcast) for the pairwise-sim frame, plus the
      // q_cosine_topk-family 1-query broadcast that builds the pool —
      // bounded by the pool size k, never the corpus
      "q_mmr_rerank",
      // outlier report: bruteForceTopK(slice, slice) broadcasts the
      // bounded vec_id < 500 query slice against itself (the documented
      // exact-recall oracle baseline; corpus-scale path is LSH/IVF
      // candidates) — same family as q_cosine_topk*
      "q_semantic_outliers",
      // NB quality classifier: the 1-row bucket-totals frame and the
      // 1-row class-prior frame are broadcast-crossed into the 64-row
      // weight table / per-doc score — the q_dsir_weights discipline,
      // bounded by the fixed bucket count, never the corpus
      "q_quality_classifier",
      // same NB scorer feeding the budgeted selection window
      "q_quality_select",
      // same NB scorer feeding the bounded top-k uncertainty pick; the
      // ≤5·|langs|-row picked set broadcasts back onto the score frame
      "q_uncertainty_sample",
      // same NB scorer feeding the bin-domain-bounded reliability report
      "q_quality_calibration")
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // sweep EVERY plan the build executes (gate probes, index builds,
        // checkpoints), not just the returned DataFrame's — an eager
        // cartesian is exactly as scale-fatal as a lazy one
        val plans = sweepExecutedPlans(name, fn(spark, sf))
        val cart = plans.exists(_.contains("CartesianProduct"))
        val bnlj = plans.exists(_.contains("BroadcastNestedLoopJoin")) && !bnljAllowed(name)
        if (cart) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unwhitelisted BroadcastNestedLoopJoin")
        else None
    }
    assert(offenders.isEmpty,
      s"scale-unsafe join plans:\n${offenders.mkString("\n")}")
  }

  test("the sweep catches a cartesian product hidden inside an eager subtree") {
    // The returned DataFrame is innocent — the cartesian executes DURING
    // the build (a gate-probe-style count) and only the listener sees it.
    // This is the exact shape the returned-plan-only audit was blind to.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plans = sweepExecutedPlans("planted-cartesian", {
        val a = spark.range(50).toDF("a")
        val b = spark.range(50).toDF("b")
        a.crossJoin(b).filter($"a" =!= $"b").count() // eager, CartesianProduct
        spark.range(1).toDF("x") // the returned plan is clean
      })
      assert(plans.last == plans.filterNot(_.contains("CartesianProduct")).last,
        "the RETURNED plan must be clean in this fixture")
      assert(plans.exists(_.contains("CartesianProduct")),
        s"sweep missed the eagerly-executed cartesian:\n${plans.mkString("\n---\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
