package graft

/** Plan lint over the ENTIRE query surface: constructs every SparkEntry
  * query against sf0.001 and rejects physical plans containing a
  * cartesian product or broadcast-nested-loop join, except the queries
  * that choose one deliberately (small broadcast probe sets against a
  * streamed corpus — the documented brute-force/theta shapes). A new
  * query that accidentally drops its equi-join key fails here instead of
  * becoming a 100 TB × 100 TB cross product in production. */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  /** Deliberate non-equi shapes: brute-force cosine top-k and its recall
    * gates (corpus × broadcast KB-scale probe/centroid set), the
    * all-pairs word-Jaccard demo (doc_id < doc_id theta join on 40 docs),
    * the cosine cross-block (vec_id range theta join), and BM25's
    * cross-join of the corpus with its SINGLE-ROW broadcast stats frame. */
  private val nonEquiAllowed = Set(
    "q_embed_topk", "q_embed_ann_lsh", "q_embed_ann_ivf",
    "q_check_ann_recall", "q_check_ann_ivf_recall",
    "q_embed_pq", "q_check_pq_recall", // ADC: codes × broadcast query tables
    "q_check_ivfpq_recall", // brute-force arm of the recall gate
    "q_check_ann_index", // brute-force arm of the standing-index gate
    "q_check_ann_delete", // brute arm + single-row leak-count cross join
    "q_check_ann_rebalance", // brute arm of the growth-maintenance gate
    // IVF probe-list derivation: queries × the KB-scale broadcast centroid
    // table (nLists rows — the build side is model-sized, never data-sized);
    // the corpus itself only ever rides cid/query_id EQUI-joins
    "q_embed_ivfpq", "q_embed_pq_selfjoin", "q_check_pq_selfjoin",
    "q_jaccard_words", "q_embed_cosine",
    "q_bm25_topk", "q_bm25_batch", "q_check_bm25_batch",
    "q_check_bm25_index", // bm25TopK's single-row stats shape
    "q_check_heavy_hitters", // single-row broadcast n_total frame
    "q_mixture_weights", // single-row broadcast denominator frame
    "q_corpus_composition", // single-row broadcast global-totals frame
    "q_check_token_shards", // KB-scale broadcast manifest doc-range probe
    // LM scoring: single-row broadcast |V| frame (and, for the filter and
    // gate, single-row count/fixed-point frames) — model-sized build
    // sides; the bigram/context model tables ride EQUI-joins
    "q_lm_score", "q_lm_filter", "q_check_lm_ppl")

  test("no accidental cartesian / nested-loop joins anywhere in the surface") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val hasCross = plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")
        if (hasCross && !nonEquiAllowed(name)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unexpected cartesian/BNLJ in: ${offenders.mkString(", ")}")
  }

  test("the deliberate non-equi queries still broadcast their small side") {
    // the allowed shapes must never degrade to a CartesianProductExec —
    // a broadcast nested loop with a KB-scale build side is the contract
    nonEquiAllowed.toSeq.sorted.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name degraded from broadcast nested loop to cartesian")
    }
  }
}
