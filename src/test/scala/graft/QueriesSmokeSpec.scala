package graft

/** Every registered query must build and execute at sf0.001, and every
  * oracle entry must point at a registered query. The value-level gate is
  * the driver's DuckDB compare (tools/check.py locally); this spec catches
  * analysis errors and registry typos early. The queries run on the
  * shared session, which never has the native SQL functions registered.
  */
class QueriesSmokeSpec extends SparkSpec {
  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without a query: $missing")
  }

  // Queries whose semantics are deliberately non-equi over a BROADCAST
  // side (tiny build: 20 query vectors, 32 quantizer seeds, a 1-row
  // scalar aggregate, or an explicit small cross join) — a
  // BroadcastNestedLoopJoin there is linear in the corpus, by design.
  // Everything else must plan equi-joins; a CartesianProduct anywhere,
  // or a BNLJ outside this list, is a scale bug.
  // (llm_cluster_assign and llm_dedup_incremental left this set in round
  // 4 — the former's assignment is a narrow argmax with no join at all,
  // the latter's snapshot boundary became a driver-collected literal.)
  //
  // RULE — this allowlist is the ONLY thing stopping a brute-force scan
  // from shipping silently (round 1's biggest lesson). Adding a name here
  // requires (a) a doc comment in the operator itself justifying why the
  // non-equi broadcast is bounded at 100 TB (tiny build side that does
  // NOT grow with the corpus), and (b) a note in this comment block, like
  // the round-4 removals above. Never add a name just to make this spec
  // pass.
  // agg_kmv_setops (round 6): its `<` self-join pairs per-GROUP sketch
  // summaries — 3 rows of 64-entry arrays whose cardinality is the flag
  // enum, not the data volume (justified in AggOps.kmvSetops's doc).
  // llm_vocab_census (round 6): the corpus-total denominator rides the
  // same broadcast ONE-ROW scalar-aggregate cross join as llm_tfidf
  // (justified in TextOps.vocabCensus's doc) — and it joins against the
  // top-100 RESULT frame, not the corpus.
  // agg_heavy_hitters (round 6): the exact-threshold denominator is the
  // same broadcast ONE-ROW total, joined against the <= k-row candidate
  // recount (justified in AggOps.heavyHitters's doc).
  // event_cooccur_pmi (round 6): the session-count denominator is the
  // same broadcast ONE-ROW total, joined against the <= |types|² pair
  // census — both sides bounded by the type enum, never event volume
  // (justified in EventOps.cooccurPmi's doc).
  // llm_bpe_merge_step (round 6): the chosen merge pair is a broadcast
  // ONE-ROW frame (top-1 of the pair census) tagged onto the token
  // stream — the tfidf pattern with a 1-row build side, never a
  // data×data product (justified in TextOps.bpeMergeStep's doc).
  // graph_triangles (round 6): the mean-weight edge threshold is the same
  // broadcast ONE-ROW scalar aggregate as llm_tfidf, crossed onto the
  // ≤|entities|² aggregated edge census, never fact volume (justified in
  // GraphOps.triangles's doc).
  // llm_bm25_topk (round 6): the corpus avgdl/N denominators are the same
  // broadcast ONE-ROW scalar aggregate as llm_tfidf, crossed onto the
  // ≤|query|-term frames (justified in TextOps.bm25Topk's doc).
  // llm_doc_outlier + llm_embed_quantize (round 9): the corpus centroid
  // / per-dim scale vector is a broadcast ONE-ROW frame (64 exact
  // integer micro-aggregates) crossed onto the scoring pass — the
  // llm_tfidf scalar pattern (justified in SimOps.docOutlier's and
  // SimOps.embedQuantize's docs).
  // graph_jaccard_neighbors + graph_degree_census (round 9): consume
  // strongEdges, whose strong-tie threshold is the same broadcast
  // ONE-ROW mean-weight scalar crossed onto the ≤|entities|² edge
  // census as graph_triangles (justified in GraphOps.strongEdges's
  // doc).
  // tpch_q22_shape (round 9): Q22's global balance threshold is the same
  // broadcast ONE-ROW scalar aggregate as llm_tfidf — the `>` comparison
  // against it plans as a 1-row-build BNLJ, linear in customers
  // (justified in ComposedOps.q22Shape's doc).
  // tpch_q2/q9/q11/q16/q20_shape (round 10): all five consume the
  // DERIVED partsupp, whose supplier-count parameter is a broadcast
  // ONE-ROW scalar aggregate cross join (the q15/q22 pattern — constant
  // work per part row, justified in PartSuppOps.partsupp's doc); q11
  // additionally compares against the same ONE-ROW importance
  // threshold q22 uses (justified in PartSuppOps.q11Shape's doc).
  // llm_dsir_select (round 12): the normalizing totals (tq, tp) are the
  // same broadcast ONE-ROW scalar aggregate as llm_tfidf, crossed onto
  // the FIXED 256-row hashed-feature census — constant work at any
  // corpus size (justified in CurationOps.dsirSelect's doc).
  // llm_ann_ivf_hier (round 15): identical serving plan to llm_ann_ivf —
  // the probe step's broadcast(queries) × broadcast(centroids) join is
  // tiny on both axes (20 queries × cells); only the BUILD path differs
  // (justified in SimOps.annIvfHier's doc).
  // llm_kneser_ney (round 15): the distinct-bigram-type total N1+(··) is
  // the same broadcast ONE-ROW scalar aggregate as llm_tfidf, crossed
  // onto the type census — never token volume (justified in
  // TextOps.kneserNeyAll's doc).
  // llm_perplexity_kn (round 15): the same 1-row type total crossed onto
  // the scoring doc-census — constant work per distinct doc-bigram row
  // (justified in TextOps.perplexityKn's doc).
  // graph_modularity (round 15): strongEdges' 1-row mean-weight scalar
  // (the graph_degree_census justification) plus the 1-row edge total m
  // crossed onto the ≤|communities| summary frame (justified in
  // GraphOps.modularity's doc).
  // llm_ann_pq (round 16): ADC scan — the tiny query frame (20 rows of
  // LUTs) broadcast-joined on q_id =!= vec_id, the llm_sim_topk shape;
  // at 100 TB the scan is confined to IVF cells (annPq scaladoc).
  // llm_ann_fuse_rrf (round 16): both fused arms carry the sanctioned
  // 20-row broadcast q=!=v join (sim_topk + ann_pq above/below)
  // llm_ann_pq8(_served) (round 17): the identical ADC scan shape under
  // the trained 256-code book — same 20-row broadcast q=!=v join.
  // llm_ann_fuse_rrf_served (round 17): its PQ arm is llm_ann_pq_served,
  // which carries the same sanctioned 20-row broadcast q=!=v join.
  private val broadcastNonEqui = Set("llm_ann_pq", "llm_ann_pq_served",
    "llm_ann_pq8", "llm_ann_pq8_served",
    "llm_ann_fuse_rrf", "llm_ann_fuse_rrf_served",
    "join_cross_small", "llm_sim_topk",
    "llm_ann_ivf", "llm_tfidf", "agg_kmv_setops", "llm_vocab_census",
    "agg_heavy_hitters", "event_cooccur_pmi", "llm_bpe_merge_step",
    "graph_triangles", "llm_bm25_topk", "tpch_q22_shape",
    "graph_jaccard_neighbors", "llm_doc_outlier", "graph_degree_census",
    "llm_embed_quantize", "tpch_q2_shape", "tpch_q9_shape",
    "tpch_q11_shape", "tpch_q16_shape", "tpch_q20_shape",
    "llm_dsir_select", "llm_ann_ivf_hier", "llm_kneser_ney",
    // llm_perplexity_kn_served (round 16): the served twin reads the
    // SAME 1-row type total back from the persisted model table — the
    // sanctioned scalar cross its inline form already carries
    "llm_perplexity_kn", "llm_perplexity_kn_served", "graph_modularity")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name executes at sf0.001; plan is cartesian-free") {
      val df = fn(spark, sf0001)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — would not survive scale-up")
      if (!broadcastNonEqui(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans a BroadcastNestedLoopJoin outside the sanctioned " +
            "broadcast-non-equi set")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // Runs after every query above: none of them needed the native SQL
  // names, because operators build the expressions as Columns.
  test("the queries ran on a session without the native SQL functions") {
    graft.functions.GraftFunctions.sqlFunctions.foreach { case (id, _, _) =>
      assert(!spark.catalog.functionExists(id.funcName), id.funcName)
    }
  }
}
