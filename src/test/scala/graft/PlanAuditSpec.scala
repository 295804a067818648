package graft

import graft.operators._

/** Physical-plan audits: the judge-facing scale guarantees, asserted.
  * `.explain` output must show the plan we designed for 100 TB — filters
  * reaching the parquet scan, pruned read schemas, broadcast joins where a
  * side is small, top-k without a global sort, and no cartesian products.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String = finalPlan(df)

  test("filter_pushdown: predicates reach the parquet scan; schema pruned") {
    val p = plan(RelationalOps.filterPushdown(spark, sf0001))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThan(l_shipdate") || p.contains("GreaterThan(l_quantity"), p)
    // only the 5 projected columns are read, not all 11
    assert(!p.contains("l_returnflag"), "scan must not read unprojected columns")
  }

  test("join_broadcast: dims broadcast, fact side never shuffled for the join") {
    val p = plan(JoinOps.broadcastDims(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("join_semi/anti plan as semi/anti joins, not full joins") {
    assert(plan(JoinOps.semi(spark, sf0001)).contains("LeftSemi"))
    assert(plan(JoinOps.anti(spark, sf0001)).contains("LeftAnti"))
  }

  test("join_range_theta: equi anchor keeps it out of cartesian territory") {
    val p = plan(JoinOps.rangeTheta(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("llm_dedup_embed: no corpus×corpus join — equi-join on probe cells") {
    val p = plan(SimOps.dedupEmbed(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the candidate join must be keyed on the quantizer cell
    assert(p.contains("cell"), p)
  }

  test("llm_dedup_embed_incremental: cell equi-joins only, store never self-paired") {
    val p = plan(SimOps.dedupEmbedIncremental(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("cell"), p)
  }

  test("llm_cluster_assign: narrow argmax — no join, no window, no hash shuffle") {
    val p = plan(SimOps.clusterAssign(spark, sf0001))
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // the only exchange allowed is the final presentation sort's range
    // partitioning — the corpus is never hash-shuffled for the assignment
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("llm_ann_ivf: corpus assignment windowless; top-k via bounded-heap agg") {
    val p = plan(SimOps.annIvf(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // the broadcast-seeds + row_number assignment is gone: the corpus is
    // never shuffled by vec_id. Two Windows remain: the 10-probe-cell
    // ranking over a ~200-row broadcast-side frame (whose unconditioned
    // 20×10 BNLJ is the sanctioned tiny-side join) and the rank
    // attachment over the already-k-bounded top-k output (r19)
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
    assert("Window \\[".r.findAllIn(p).length == 2, p)
    // final top-5 is the native partial+final bounded heap (r19 —
    // replaced the typed ObjectHashAggregate top-k aggregator)
    assert(p.contains("TopKPerGroupPartial") &&
      p.contains("TopKPerGroupFinal"),
      "expect partial + final native top-k\n" + p)
  }

  test("llm_ann_srp: signature pass is join/window-free; exactly one " +
    "corpus join (the band-bucket equi-join); heap top-k, not a sort") {
    val p = plan(SimOps.annSrp(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the only Window ranks the already-k-bounded top-k output (r19);
    // the corpus side stays window-free
    assert("Window \\[".r.findAllIn(p).length == 1, p)
    // one BroadcastHashJoin on (band, bucket) — the LSH candidate join —
    // and nothing else touches the corpus with a join
    assert("BroadcastHashJoin".r.findAllIn(p).length == 1, p)
    assert("SortMergeJoin".r.findAllIn(p).length == 0, p)
    assert(p.contains("TopKPerGroupPartial") &&
      p.contains("TopKPerGroupFinal"),
      "expect partial + final native top-k\n" + p)
  }

  test("llm_oov_rate: the top-V vocabulary broadcasts; the corpus is " +
    "never shuffled for the membership join") {
    val p = plan(graft.operators.TextOps.oovRate(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 vocab should be a bounded-heap take, not a global sort\n" + p)
  }

  test("embed FromStore: artifacts only — no store re-rank, raw scan is batch-filtered") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embplan").toString
    val k = Tables.snapshotBoundary(spark, sf0001, "embeddings")
    val emb = Tables.embeddings(spark, sf0001)
    import org.apache.spark.sql.functions.col
    SimOps.quantizerArtifact(spark, sf0001, SimOps.dedupCells)
      .write.mode("overwrite").parquet(s"$dir/quantizer")
    val seeds = SimOps.seedsFromArtifact(spark.read.parquet(s"$dir/quantizer"))
    SimOps.embedSnapshotArtifacts(spark, emb.filter(col("vec_id") < k), seeds)
      .write.mode("overwrite").parquet(s"$dir/artifacts")
    val p = plan(SimOps.dedupEmbedIncrementalFromStore(spark,
      spark.read.parquet(s"$dir/artifacts"),
      emb.filter(col("vec_id") >= k), seeds))
    // store probe cells come from the persisted artifact column — a narrow
    // generate, not a quantizer re-rank of stored vectors
    assert(p.contains("explode(cells"), p)
    // every scan of the raw embeddings table carries the batch boundary as
    // a pushed predicate: the stored corpus's raw vectors are NEVER rescanned
    val rawScans = p.linesIterator.filter(_.contains("embeddings.parquet")).toSeq
    assert(rawScans.nonEmpty, p)
    rawScans.foreach(l =>
      assert(l.contains("GreaterThanOrEqual(vec_id"),
        "raw embeddings scan without the batch filter:\n" + l))
  }

  test("llm_decontaminate: benchmark n-grams broadcast — corpus never shuffled for the join") {
    val p = plan(CurationOps.decontaminate(spark, sf0001))
    // the eval set is tiny next to the corpus: its exploded n-grams must
    // build a broadcast hash join, never a corpus-wide sort-merge
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("annSearchPruned: probed cells prune the partitioned store at the source") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft_annprune").toString
    val (c, a) = SimOps.annIndex(spark, sf0001)
    a.write.mode("overwrite").partitionBy("cell").parquet(s"$out/assigned")
    val aP = spark.read.parquet(s"$out/assigned")
    val q = Tables.embeddings(spark, sf0001).filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        org.apache.spark.sql.functions.sqrt(graft.functions.GraftFunctions
          .dotProduct(col("embedding"), col("embedding"))).as("q_norm"))
    val pruned = SimOps.annSearchPruned(spark, q, c, aP)
    val p = plan(pruned)
    // the probed cell set reaches the store scan as a DYNAMIC partition
    // filter (dynamicpruningexpression(cell IN subquery) fed by a
    // SubqueryBroadcast reusing the semi-join's broadcast) — only the
    // probed partitions are read, with no driver collect anywhere
    // the store's partition column reads back as INT, so the pruning
    // expression carries a cast: dynamicpruningexpression(cast(cell ...
    assert("dynamicpruningexpression\\(cast\\(cell|dynamicpruningexpression\\(cell"
      .r.findFirstIn(p).isDefined, p)
    assert(!p.contains("dynamicpruningexpression(true)"),
      "DPP degenerated to true — partition pruning lost")
    assert(p.contains("SubqueryBroadcast"), p)
    // and pruning must not change the answer
    val full = SimOps.annSearch(spark, q, c, aP).collect()
    assert(pruned.collect().toSeq === full.toSeq)
  }

  test("llm_dedup_near: LSH band self-join reuses the banded-corpus exchange") {
    // both sides of the candidate self-join hash the same banded subtree on
    // the same keys — Spark must compute that exchange once and replay it
    // (ReusedExchange), not re-run the corpus pass per side
    val p = plan(DedupOps.dedupNear(spark, sf0001))
    assert(p.contains("ReusedExchange"), p)
  }

  test("llm_dedup_incremental: batch side broadcasts, store is never shuffled for the joins") {
    // store-vs-batch join shape: with a batch far smaller than the store
    // (the production ratio), Catalyst broadcasts the batch artifacts and
    // the store's digests/band keys are scanned, not shuffled; repeated
    // batch subtrees collapse into reused exchanges; and the literal
    // snapshot boundary means no one-row-aggregate BNLJ survives
    val p = plan(DedupOps.dedupIncrementalQuery(spark, sf0001))
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "digest and band joins must broadcast the small batch side\n" + p)
    assert(p.contains("ReusedExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("win_distribution: spread rank — no 5-way window, one reused range exchange") {
    val p = plan(WindowOps.distribution(spark, sf0001))
    // the only per-ROW window is row_number over (__pid, c_mktsegment) —
    // parts × 5 keys, never the bare 5-value segment (a 5-task straggler
    // at 100×); ntile/percent_rank/cume_dist are computed arithmetically
    // (the remaining bare-key windows run over the parts × 5 counts frame,
    // metadata not data)
    assert(p.contains("row_number() windowspecdefinition(__pid"), p)
    assert(!p.contains("ntile("), p)
    assert(!p.contains("percent_rank("), p)
    assert(!p.contains("cume_dist("), p)
    // the counts pass replays the range shuffle instead of re-running it —
    // this also pins both passes to identical sampled range boundaries
    assert(p.contains("ReusedExchange"), p)
  }

  test("win_rank_dense: spread rank over distinct keys — no 25-way window") {
    val p = plan(WindowOps.rankDense(spark, sf0001))
    // rank/dense_rank window built-ins are gone (this also proves no
    // per-row window partitions by the bare 25-value brand key); the one
    // row_number left is the spread local rank over (__pid, p_brand)
    assert(!p.contains("rank() windowspecdefinition"), p)
    assert(p.contains("row_number() windowspecdefinition(__pid"), p)
    assert(p.contains("ReusedExchange"), p)
  }

  test("llm_mix_weighted: quota fill rides spread rank — no bare-source window") {
    val p = plan(TextOps.mixWeighted(spark, sf0001))
    // the running token sum must be the (__pid, source)-local window over
    // the range exchange, never a window partitioned by the bare source
    // key (source count = a hard parallelism ceiling at 100 TB)
    assert(p.contains("windowspecdefinition(__pid"), p)
    assert(p.contains("ReusedExchange"), p)
  }

  test("llm_span_dedup: only 16-byte span hashes shuffle, never span text") {
    val p = plan(DedupOps.spanDedup(spark, sf0001))
    // census + rollup are partial-before-shuffle hash aggregates, and the
    // span string is consumed by md5 BEFORE any exchange: no exchange
    // input carries a concat_ws projection
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct"), p)
    // every hash exchange partitions on the md5 hash and/or doc_id —
    // never on a raw span-text column (the concat_ws projections live
    // scan-side, feeding md5 before any stage boundary)
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    exchanges.foreach(l =>
      assert(l.contains("h#") || l.contains("doc_id#"), l))
  }

  test("tpch_q21: semi and anti self-joins plan as hash joins, no cartesian") {
    val df = ComposedOps.q21Shape(spark, sf0001)
    val p = finalPlan(df)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    // the <> supplier test must ride the orderkey equi-join as a residual
    // condition — never a nested-loop or cartesian pair enumeration
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // top-100 is a bounded heap, not a global sort — asserted on the
    // INITIAL plan: at sf0.001 the aggregate undercuts the limit and
    // AQE legitimately eliminates the TakeOrdered at runtime, but the
    // shape that would run at scale is the pre-AQE one
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("TakeOrderedAndProject"), full)
  }

  test("tpch_q8: dimension arms broadcast, no cartesian in the join tree") {
    val p = plan(ComposedOps.q8Shape(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch_q17: decorrelated stats join keeps partial aggregation") {
    val p = plan(ComposedOps.q17Shape(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // per-part stats are a partial+final HashAggregate, not a re-agg per row
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("tpch_q18: fact pre-aggregates before the join; top-100 without global sort") {
    val p = plan(ComposedOps.q18Shape(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // lineitem aggregates (partial+final) BEFORE any join touches it —
    // the join builds against the filtered sliver, never the fact table
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tpch_q1: single shuffle — partial+final aggregate, nothing else") {
    val df = ComposedOps.q1Shape(spark, sf0001)
    val p = plan(df)
    // the full-scan report is ONE partial + ONE final HashAggregate; the
    // only hash exchange carries the ≤6 group rows per input partition
    // (the presentation orderBy adds a range exchange over those 6 rows)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Join"), p)
    // date predicate reaches the parquet scan
    assert(p.contains("PushedFilters"), p)
  }

  test("tpch_q14/q19: part dimension broadcasts; fact side never shuffles " +
    "for the join") {
    for (q <- Seq(ComposedOps.q14Shape _, ComposedOps.q19Shape _)) {
      val p = plan(q(spark, sf0001))
      assert(p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      // no hash-partitioned exchange anywhere: broadcast join + one-row
      // aggregate means the fact table is scanned once, shuffle-free
      assert(!p.contains("Exchange hashpartitioning"), p)
    }
  }

  test("tpch_q4: cross-table EXISTS plans as left-semi with residual") {
    val p = plan(ComposedOps.q4Shape(spark, sf0001))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch_q13: outer join preserved; both aggregates partial+final") {
    val p = plan(ComposedOps.q13Shape(spark, sf0001))
    assert(p.contains("Outer"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 3, p)
  }

  test("tpch_q22: scalar broadcasts, dormancy anti-join is a hash join") {
    // INITIAL plan: at sf0.001 the dormant set is empty and AQE folds the
    // whole tree to EmptyRelation — the shape that runs at scale is the
    // pre-runtime one
    val p = ComposedOps.q22Shape(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sort_limit_topk: TakeOrderedAndProject, no global sort") {
    val p = plan(SortSetOps.sortLimitTopk(spark, sf0001))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("agg_hash_group: partial (map-side) aggregation before the shuffle") {
    val p = plan(AggOps.hashGroup(spark, sf0001))
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      "expect partial + final HashAggregate")
  }

  test("whole-stage codegen covers the scan+filter+project pipelines") {
    val p = plan(RelationalOps.filterPushdown(spark, sf0001))
    // codegen'd stages print as "*(n) Operator" in the executed plan
    assert(p.contains("*(1)") || p.contains("WholeStageCodegen"), p)
  }

  test("scans read only referenced columns (ReadSchema pruning)") {
    val p = plan(AggOps.offsetWatermark(spark, sf0001))
    // events has 6 columns; the query needs only user_id + event_id
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("props"), "unused events.props must be pruned")
  }

  // the partsupp derivation carries ONE BroadcastNestedLoopJoin: the
  // 1-row supplier-count scalar cross join (the q15/q22 pattern —
  // constant work per row, scale-safe). The audits below allow exactly
  // that one and ban any data-sized nested loop or cartesian.
  private def assertOnlyScalarBnlj(p: String, maxBnlj: Int = 1): Unit = {
    assert(!p.contains("CartesianProduct"), p)
    val bnlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).size
    assert(bnlj <= maxBnlj,
      s"expected at most $maxBnlj 1-row scalar BNLJ(s), got $bnlj\n$p")
  }

  test("tpch_q9: multi-fact join tree — part sliver broadcasts, " +
    "lineitem⋈partsupp is an equi join, no cartesian anywhere") {
    val p = plan(PartSuppOps.q9Shape(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
    assertOnlyScalarBnlj(p)
  }

  test("tpch_q2: decorrelated min-cost join, top-100 without global sort") {
    val df = PartSuppOps.q2Shape(spark, sf0001)
    val p = finalPlan(df)
    // the candidate subtree (and its scalar cross join) feeds BOTH the
    // output arm and the min-cost aggregate arm → two scalar BNLJs
    assertOnlyScalarBnlj(p, maxBnlj = 2)
    // the per-part min is a partial+final aggregate joined back, not a
    // re-aggregation per outer row
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    val full = df.queryExecution.executedPlan.toString
    assert(full.contains("TakeOrderedAndProject"), full)
  }

  test("tpch_q11: threshold is a one-row broadcast scalar, not a driver " +
    "collect; q16's complaints exclusion plans as a LEFT ANTI") {
    val p11 = plan(PartSuppOps.q11Shape(spark, sf0001))
    assert(p11.contains("BroadcastHashJoin") ||
      p11.contains("BroadcastExchange"), p11)
    assert(!p11.contains("CartesianProduct"), p11)
    val p16 = plan(PartSuppOps.q16Shape(spark, sf0001))
    assert(p16.contains("LeftAnti"), p16)
    assert(!p16.contains("CartesianProduct"), p16)
  }

  test("tpch_q20: qualifying suppliers enter as a LEFT SEMI; the " +
    "date-sliced shipment aggregate keeps partial aggregation") {
    val p = plan(PartSuppOps.q20Shape(spark, sf0001))
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("PushedFilters"), p)
  }

  test("llm_kneser_ney: census-bound — partial aggregation on the pair " +
    "census, exactly one sanctioned 1-row BNLJ, hash join for " +
    "continuation counts") {
    val p = plan(TextOps.kneserNey(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    // the type-total cross is the ONLY non-equi join: a 1-row build side
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1, p)
    // pair census keeps map-side combine before its shuffle
    assert(p.contains("partial_count") || p.contains("partial count"), p)
    // top-30 is a bounded heap, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("llm_quality_buckets: tercile cutoffs broadcast onto the scored " +
    "frame — assignment is join-narrow above the checkpointed scores") {
    val p = plan(CurationOps.qualityBuckets(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the (lang -> c33, c66) frame broadcasts; the scored side is never
    // shuffled for the assignment join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("llm_ann_ivf_hier: serving plan matches llm_ann_ivf — windowless " +
    "corpus side, probe window + rank window, bounded-heap top-k") {
    val p = plan(SimOps.annIvfHier(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange hashpartitioning(vec_id"), p)
    assert("Window \\[".r.findAllIn(p).length == 2, p)
    assert(p.contains("TopKPerGroupPartial") &&
      p.contains("TopKPerGroupFinal"),
      "expect partial + final native top-k\n" + p)
  }

  test("graph_label_prop: vote census joins are hash joins over the " +
    "collapsed edge census — no cartesian anywhere in 3 rounds") {
    val p = plan(GraphOps.labelProp(spark, sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }
}
