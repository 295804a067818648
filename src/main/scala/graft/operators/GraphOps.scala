package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Iterative graph analytics over relationship graphs *derived from* the
  * fact tables — the missing shape next to the engine's connected-components
  * family (DedupOps.dupClusters): fixed-iteration PageRank with exact
  * integer arithmetic, fully value-oracled.
  *
  * Scale shape: the expensive part is building the edge list — two shuffle
  * joins over the fact table plus a map-side-combined aggregate that
  * collapses everything to ≤ |nodes|² weighted edges. The rank iterations
  * then run on that aggregated edge list with the rank vector BROADCAST
  * each round (|nodes| rows), so each iteration is a broadcast join + one
  * ≤ |nodes|²-row aggregate — no data-volume shuffle ever repeats. At
  * 100 TB the fact scan dominates and happens exactly once
  * (`localCheckpoint` pins the edge list so the unrolled iterations do not
  * re-run the fact joins — the DedupOps.dupClusters lineage-cut pattern).
  */
object GraphOps extends OpModule {

  /** Weighted PageRank (3 iterations, damping 0.85) over the nation-level
    * trade graph: an edge src→dst weighted by how many lineitems customers
    * of nation `src` bought from suppliers of nation `dst`.
    *
    * Parity design — FIXED-POINT micro-units end to end: ranks live in
    * integer micro-units (Σ r₀ = 10⁶), every per-edge contribution is
    * `r·w DIV outw` (exact integer truncation, identical in Spark `DIV`
    * and DuckDB `//` for the non-negative operands here), and the damping
    * update is `6000 + 850000·inflow DIV 10⁶` — no float enters the
    * pipeline, so 3 chained CTEs in DuckDB reproduce every rank bit for
    * bit. Nodes with no in-edges hold the base rank; mass lost to
    * integer-truncation dust and dangling nodes is NOT redistributed
    * (documented invariant — both engines drop it identically).
    */
  /** Directed nation-level trade edges src→dst weighted by lineitem count
    * — the shared graph both [[pagerank]] and [[triangles]] analyze.
    * supplier/nation are dimension-sized at any SF — broadcast; the
    * orders⋈customer and ⋈lineitem joins shuffle on their keys and are
    * immediately collapsed by the (src, dst) aggregate (map-side combine
    * bounds the shuffle at ≤ |nations|² rows per task).
    */
  private def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val liSupp = Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("s_nationkey").as("dst"))
    val ordCust = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey").as("src"))
    liSupp
      .join(ordCust, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
  }

  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val damping = 850000L // 0.85 in micro-units
    val nIter = 3
    val nation = Tables.nation(s, dir)
    // ≤ |nations|² rows; pin the census FIRST so the outw aggregate and
    // the join both read the materialized frame — `edges.join(outw)`
    // over an unpinned census would execute the fact joins once per
    // reference (the outw branch and the probe branch)
    val edges = tradeEdges(s, dir).transform(graft.Checkpoints.truncate)
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    // pinned too: all three unrolled iterations read `e` — un-pinned,
    // each iteration re-ran the outw aggregate + join (3 extra
    // broadcast builds)
    val e = edges.join(outw, "src").transform(graft.Checkpoints.truncate)

    val nodes = nation.select(col("n_nationkey").as("node"))
    val base = 1000000L / 25 // Σ r₀ = 10⁶ over the 25 nations, exact
    var rank = nodes.withColumn("r", lit(base))
    for (_ <- 1 to nIter) {
      val inflow = e
        .join(broadcast(rank), col("src") === col("node"))
        .select(col("dst"), expr("r * w DIV outw").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      rank = nodes
        .join(inflow, col("node") === col("dst"), "left")
        .select(col("node"),
          expr(s"${1000000L - damping} DIV 25 + " +
            s"$damping * coalesce(inflow, CAST(0 AS BIGINT)) DIV 1000000")
            .as("r"))
    }
    rank
      .join(broadcast(nation), col("node") === col("n_nationkey"))
      .select(col("n_nationkey"), col("n_name"), col("r").as("rank_micro"))
      .orderBy(col("n_nationkey"))
  }

  /** Strong-tie triangle census: collapse the trade graph to undirected
    * edges (weights summed over both directions, self-loops dropped), keep
    * edges at or above the MEAN undirected weight (an exact integer
    * threshold both engines compute identically — `sum DIV count`), and
    * count the triangles each nation participates in.
    *
    * Triangle enumeration is the node-ordered join form: every triangle
    * {a<b<c} is produced exactly once by joining (a,b)⋈(b,c) and closing
    * with (a,c) — two equi-joins on the AGGREGATED edge list, never on
    * fact volume, with no post-hoc dedup pass. At 100 TB the fact scan
    * collapses to ≤|entities|² weighted edges first (the same census
    * pagerank rides), and the ordered-endpoint join is the standard
    * shuffle-bounded distributed triangle algorithm: join keys distribute
    * by vertex, and the a<b<c ordering caps each edge's join fan-out at
    * its higher-endpoint degree.
    */
  /** Undirected strong-tie edge list (weights summed over both
    * directions, self-loops dropped, kept at ≥ the exact-integer mean
    * weight) — the thresholded graph [[triangles]] and [[components]]
    * share, so the two analyses cannot drift on what "strong" means.
    */
  private[graft] def strongEdges(s: SparkSession, dir: String): DataFrame = {
    val und = tradeEdges(s, dir)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w")).as("w"))
    // one-row mean weight, broadcast onto the edge list (exact integers)
    val meanW = und.agg(expr("sum(w) DIV count(*)").as("mean_w"))
    und.crossJoin(broadcast(meanW))
      .filter(col("w") >= col("mean_w"))
      .select(col("a"), col("b"))
  }

  /** [[strongEdges]] materialized ONCE (eager lineage cut) — every graph
    * query that references the census more than once goes through here,
    * so the fact-table joins behind it are paid exactly once per query
    * instead of once per reference (guide §2.4: the self-join/self-union
    * consumers below would otherwise re-plan — and, absent runtime
    * exchange reuse, re-execute — the whole census per reference; the
    * r18-start `graph_triangles` plan carried 276 Exchange nodes for
    * this reason, `graph_jaccard_neighbors` 268).
    */
  private def strongEdgesT(s: SparkSession, dir: String): DataFrame =
    // coalesce(1) BEFORE the pin: the census is ≤ |nation|² rows by
    // SCHEMA (the 25-value TPC-H nation enum — entity-bounded, not
    // data-bounded, so one partition is correct at any corpus scale).
    // Un-coalesced, the checkpoint inherited the session shuffle width
    // and every downstream consumer stage paid one task per near-empty
    // block — the r19 JobProbe measured the graph loops at 170–340 ms
    // per 32-task stage over these tiny frames (guide §2.2).
    strongEdges(s, dir).coalesce(1).transform(graft.Checkpoints.truncate)

  /** Symmetrize an (a, b) edge list in ONE pass: explode each row into
    * (a→b, b→a) instead of a two-branch self-union, which executes its
    * source subtree twice when the source is not materialized.
    */
  private def symOf(e: DataFrame): DataFrame = e
    .select(explode(array(
      struct(col("a").as("u"), col("b").as("v")),
      struct(col("b").as("u"), col("a").as("v")))).as("uv"))
    .select(col("uv.u").as("u"), col("uv.v").as("v"))

  def triangles(s: SparkSession, dir: String): DataFrame = {
    val strong = strongEdgesT(s, dir)
    val tri = strong.as("ab")
      .join(strong.as("bc"), col("ab.b") === col("bc.a"))
      .join(strong.as("ac"),
        col("ab.a") === col("ac.a") && col("bc.b") === col("ac.b"))
      .select(col("ab.a").as("x"), col("ab.b").as("y"), col("bc.b").as("z"))
    // one pass over tri (explode), not a 3-branch self-union that would
    // execute the triangle join three times
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_count"))
    Tables.nation(s, dir)
      .join(perNode, col("n_nationkey") === col("node"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("tri_count"), lit(0L)).as("tri_count"))
      .orderBy(col("n_nationkey"))
  }

  /** Connected components over the strong-tie trade graph — the graph
    * family's third analysis, riding [[DedupOps.clustersFromEdges]]
    * (min-label + pointer-jump, loud-fail cap) on a graph shape unlike
    * the near-dup clusters it was built for. Nations outside every
    * strong edge are their own singleton component (component_id = own
    * key), so the output partitions all 25 nations. The scale story is
    * the edge CENSUS: fact volume collapses to ≤ |entities|² weighted
    * edges before any iteration, and the CC loop runs on that census —
    * at 100 TB the iterations never touch fact data.
    */
  def components(s: SparkSession, dir: String): DataFrame =
    componentsVia(s, dir, e => DedupOps.clustersFromEdges(e))

  /** [[components]] through the engine's SECOND, independently-derived
    * CC implementation — large-star/small-star edge contraction
    * ([[DedupOps.clustersLargeSmallStar]], Kiveris et al.) — against the
    * SAME recursive-closure oracle: two algorithms, one fixpoint,
    * both value-checked per round. Exists so the components claim never
    * rests on a single algorithm (the Round15 agreement spec pins them
    * equal on random graphs; this query pins the star form against the
    * independent DuckDB route on the shipped fixtures).
    */
  def componentsLss(s: SparkSession, dir: String): DataFrame =
    componentsVia(s, dir, e => DedupOps.clustersLargeSmallStar(e)._1)

  private def componentsVia(s: SparkSession, dir: String,
      cc: DataFrame => DataFrame): DataFrame = {
    val labeled = cc(
      strongEdges(s, dir)
        .select(col("a").as("doc_a"), col("b").as("doc_b")))
      .select(col("doc_id"), col("cluster_id"))
    val assigned = Tables.nation(s, dir)
      .join(labeled, col("n_nationkey") === col("doc_id"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("cluster_id"), col("n_nationkey"))
          .as("component_id"))
    val sizes = assigned.groupBy(col("component_id"))
      .agg(count(lit(1)).as("component_size"))
    assigned.join(broadcast(sizes), "component_id")
      .select(col("n_nationkey"), col("n_name"), col("component_id"),
        col("component_size"))
      .orderBy(col("n_nationkey"))
  }

  /** BFS hop distance from a deterministic seed (the smallest endpoint in
    * the strong edge census) over the strong-tie trade graph — "how many
    * strong-partnership steps away is every nation", the reachability
    * radius next to [[components]]' reachability partition. Frontier
    * relaxation: every settled node re-offers `hops+1` to its neighbors
    * each round and nodes take the minimum, so the frame after round r
    * holds exact ≤r-hop distances; convergence is detected by a
    * changed-count, capped with the same post-cap fixpoint probe as
    * [[DedupOps.clustersFromEdges]] (a fixpoint reached exactly ON the
    * cap round is accepted, genuine non-convergence refuses loudly).
    * Nations outside the reachable component keep NULL hops — the honest
    * answer, not a sentinel.
    *
    * Scale shape: identical to the CC loop — fact volume collapses to the
    * ≤|entities|² census once, and each BFS round is a census-sized join
    * + min-aggregate with [[graft.Checkpoints]] lineage cuts; rounds are
    * bounded by the graph diameter, the algorithm's inherent serial
    * dimension.
    */
  def bfsHops(s: SparkSession, dir: String): DataFrame = {
    // one-pass symmetrization (explode) so materializing `sym` runs the
    // census once, not once per union branch; coalesce(1) because the
    // census is schema-bounded (≤ 2·|nation|² rows — the strongEdgesT
    // rationale), so every per-round join stage reads one block instead
    // of the session shuffle width
    val sym = symOf(strongEdges(s, dir))
      .coalesce(1)
      .persist()
    val seed = sym.agg(min(col("u")).as("seed"))
    var checkpointed = sym.select(col("u").as("node")).distinct()
      .crossJoin(broadcast(seed))
      .select(col("node"),
        when(col("node") === col("seed"), lit(0L)).as("hops"))
      .coalesce(1) // node frame: ≤ |nation| rows by schema
      .transform(graft.Checkpoints.truncate)
    var dist = checkpointed
    var changed = 1L
    var round = 0
    val roundCap = 30
    // both join sides inside a round are nation-schema-bounded (≤ 25
    // nodes / ≤ 2·25² sym edges): broadcast them so a round pays zero
    // exchanges outside the vote groupBy — the CC loop's measured-census
    // dispatch, here justified by the schema bound itself
    def relaxCandidates(d: DataFrame): DataFrame = broadcast(d
      .filter(col("hops").isNotNull)
      .select(col("node").as("u"), col("hops")))
      .join(sym, "u")
      .groupBy(col("v")).agg(min(col("hops") + 1).as("cand"))
      .select(col("v").as("node"), col("cand"))
    while (changed > 0 && round < roundCap) {
      // the convergence count rides the SAME job that materializes the
      // round's checkpoint (the clustersFromEdgesCounted Observation
      // pattern from the CC loop) — the r18 shape paid one extra
      // driver-synchronized count() job per round
      val obs = org.apache.spark.sql.Observation(s"bfs_round_$round")
      val merged = dist.select(col("node"), col("hops").as("old"))
        .join(broadcast(relaxCandidates(dist)), Seq("node"), "left")
        .select(col("node"), col("old"),
          least(col("old"), col("cand")).as("hops"))
        .observe(obs, sum(when(
          (col("old").isNull && col("hops").isNotNull) ||
            col("hops") < col("old"), 1L).otherwise(0L)).as("changed"))
        .coalesce(1)
        .transform(graft.Checkpoints.truncate)
      changed = obs.get.get("changed") match {
        case Some(n: java.lang.Long) => n.longValue()
        case _ => 0L // empty frame: sum over zero rows is null
      }
      checkpointed.unpersist(false)
      checkpointed = merged
      dist = merged.select(col("node"), col("hops"))
      round += 1
    }
    if (changed > 0) {
      changed = dist.select(col("node"), col("hops").as("old"))
        .join(relaxCandidates(dist), Seq("node"), "left")
        .filter((col("old").isNull && col("cand").isNotNull) ||
          col("cand") < col("old")).count()
    }
    sym.unpersist()
    require(changed == 0,
      s"bfsHops hit the $round-round cap without converging — refusing " +
        "to emit non-shortest hop distances")
    Tables.nation(s, dir)
      .join(dist, col("n_nationkey") === col("node"), "left")
      .select(col("n_nationkey"), col("n_name"), col("hops"))
      .orderBy(col("n_nationkey"))
  }

  /** Neighborhood-Jaccard link prediction over the strong-tie trade
    * graph: for every NON-adjacent nation pair sharing at least one
    * strong partner, score the missing link by
    * |N(a)∩N(b)| / |N(a)∪N(b)|. The common-neighbor census is the
    * wedge join (sym ⋈ sym on the shared endpoint, `u < v` emitting each
    * pair once); existing edges leave via a left-anti join on the
    * canonical (a,b); degrees come from the tiny per-node count frame,
    * broadcast. Jaccard is exact integer permille:
    * 1000·common DIV (deg(a)+deg(b)−common) — inclusion–exclusion on
    * the union, no doubles anywhere.
    *
    * Scale shape: identical to [[triangles]] — fact volume collapses to
    * the ≤|entities|² strong census once; every later frame (wedges,
    * degrees, scores) is census-sized, and the wedge join's fan-out is
    * bounded by max degree, never data volume.
    */
  def jaccardNeighbors(s: SparkSession, dir: String): DataFrame = {
    val strong = strongEdgesT(s, dir)
    val sym = symOf(strong)
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val common = sym.as("x")
      .join(sym.as("y"),
        col("x.v") === col("y.v") && col("x.u") < col("y.u"))
      .groupBy(col("x.u").as("a"), col("y.u").as("b"))
      .agg(count(lit(1)).as("common_cnt"))
    common
      .join(strong, Seq("a", "b"), "left_anti")
      .join(broadcast(deg.select(col("u").as("a"), col("deg").as("deg_a"))),
        "a")
      .join(broadcast(deg.select(col("u").as("b"), col("deg").as("deg_b"))),
        "b")
      .select(col("a"), col("b"), col("common_cnt"),
        expr("1000 * common_cnt DIV (deg_a + deg_b - common_cnt)")
          .as("jaccard_milli"))
      .orderBy(col("a"), col("b"))
  }

  /** Strong-tie degree census: every nation's degree in the strong graph
    * (0 for nations outside every strong edge — the LEFT join is
    * load-bearing, isolated nodes are the interesting tail). The
    * first-order structural readout next to [[triangles]]' second-order
    * one; rides the same collapsed census, so the fact table is paid
    * once and the degree aggregate runs on ≤|entities|² rows.
    */
  def degreeCensus(s: SparkSession, dir: String): DataFrame = {
    // one census pass: explode each edge into its two endpoints instead
    // of a self-union that executes the census per branch
    val deg = strongEdges(s, dir)
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    Tables.nation(s, dir)
      .join(deg, col("n_nationkey") === col("node"), "left")
      .select(col("n_nationkey"), col("n_name"),
        coalesce(col("degree"), lit(0L)).as("degree"))
      .orderBy(col("n_nationkey"))
  }

  /** Synchronous label propagation (3 rounds) over the strong-tie trade
    * graph — deterministic community detection next to [[components]]'
    * reachability partition: a community is denser than mere
    * connectivity, and LPA finds them without a modularity solve.
    * Each round every node adopts the label held by the MOST neighbors
    * (ties to the smallest label; isolated nodes keep their own).
    * Classic async LPA is famously order-dependent — this is the
    * SYNCHRONOUS fixed-round form precisely so the result is a pure
    * function of the graph: updates read only the previous round's
    * labels, the (count desc, label asc) vote is a total order, and the
    * round count is config (3), not a convergence race.
    *
    * Scale shape: the [[strongEdges]] census is paid once; each round is
    * one join of the census against the label frame (broadcast here —
    * nation-sized; past [[lpaBroadcastMaxNodes]] the SAME [[lpaRounds]]
    * machinery keys the join by node, and LPASCALE_r16 proved the
    * shuffle form at 1.2M planted nodes), a map-side-combined
    * (node, label) vote count, and a node-keyed window over the vote
    * census. Rounds never touch fact data.
    */
  def labelProp(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .join(lpaLabels(s, dir), col("n_nationkey") === col("node"))
      .select(col("n_nationkey"), col("n_name"),
        col("lbl").as("community_id"))
      .orderBy(col("n_nationkey"))

  /** The 3-round synchronous LPA label frame (node, lbl) — shared by
    * [[labelProp]] and [[modularity]] so the partition scored is by
    * construction the partition emitted.
    */
  private def lpaLabels(s: SparkSession, dir: String): DataFrame =
    lpaLabelsFrom(s, dir, strongEdges(s, dir))

  private def lpaLabelsFrom(s: SparkSession, dir: String,
      strong: DataFrame): DataFrame = {
    val sym = symOf(strong)
      .transform(graft.Checkpoints.truncate)
    val nodes = Tables.nation(s, dir).select(col("n_nationkey").as("node"))
    // the nation graph is ≤ 25 nodes — always the broadcast regime; the
    // generic machinery below carries the shuffle form for real graphs
    lpaRounds(nodes, sym, rounds = 3, broadcastLabels = true)
  }

  /** Past this node count the per-round label frame stops broadcasting
    * and the vote join keys by node instead ([[lpaRounds]]'s dispatch
    * bar — the [[graft.operators.EventOps.attributionAuto]] pattern).
    * 1M (node, lbl) longs ≈ 16 MB serialized — the edge of what a
    * per-round broadcast should pin on every executor, well before the
    * 8 GB hard cap.
    */
  private[graft] val lpaBroadcastMaxNodes = 1000000L

  /** The synchronous-LPA round loop over an explicit (node) frame and a
    * symmetric (u, v) edge frame — the machinery behind [[labelProp]] /
    * [[modularity]], factored fixture-free so it runs on any graph:
    * LPASCALE_r16 recorded both forms on a 1.2M-node planted clique
    * graph (10.6 s shuffle, 10.2 s broadcast, the planted labeling
    * exact), and Round16OpsSpec pins that contract at 4,000 nodes.
    * Each round: one join of the edge census against the label frame
    * (BROADCAST when the node census fits [[lpaBroadcastMaxNodes]],
    * else a node-keyed shuffle hash join — same rows either way, the
    * dispatch can only change the plan), a map-side-combined
    * (node, label) vote count, and a node-keyed window vote. The label
    * frame is checkpoint-truncated per round so round N's lineage never
    * replays rounds 1..N−1 (the iterative-plan blowup every fixpoint
    * loop here guards against).
    */
  private[graft] def lpaRounds(nodes: DataFrame, sym: DataFrame,
      rounds: Int, broadcastLabels: Boolean): DataFrame = {
    var lbl = nodes.withColumn("lbl", col("node"))
    for (r <- 1 to rounds) {
      val labelFrame = lbl.select(col("node").as("v"), col("lbl"))
      val votes = sym
        .join(if (broadcastLabels) broadcast(labelFrame) else labelFrame,
          "v")
        .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
      // the (cnt desc, lbl asc) vote as a lexicographic struct-min —
      // value-identical to the row_number window form it replaces
      // (struct comparison is field-by-field: smallest −cnt = most
      // votes, then smallest lbl), but a partially-aggregable groupBy
      // instead of a full sort + window over the vote census (§2.3
      // aggregate before you shuffle; the window form sorted every
      // partition of the census to keep one row per node)
      val winner = votes
        .groupBy(col("u"))
        .agg(min(struct((-col("cnt")).as("neg"), col("lbl"))).as("best"))
        .select(col("u").as("node"), col("best.lbl").as("new_lbl"))
      // winner is node-census-sized: in the broadcast regime (the same
      // [[lpaBroadcastMaxNodes]] bar that already certifies the label
      // frame broadcast-sized) ship it to the label frame instead of
      // exchanging both sides of the join
      val next = lbl.join(
          if (broadcastLabels) broadcast(winner) else winner,
          Seq("node"), "left")
        .select(col("node"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
      // in the broadcast regime the label frame is CERTIFIED ≤
      // [[lpaBroadcastMaxNodes]] rows (≤ 16 MB of (node, lbl) longs —
      // under one guide-§2.2-sized partition), so the per-round
      // checkpoint materializes one block instead of one near-empty
      // block per shuffle partition; the shuffle regime keeps the
      // data-driven width
      lbl = (if (broadcastLabels) next.coalesce(1) else next)
        .transform(graft.Checkpoints.truncate)
    }
    lbl
  }

  /** Newman modularity of the [[labelProp]] partition, per community:
    * q_c = e_c/m − (d_c/2m)² — intra-community edge share minus the
    * share a degree-preserving random graph would put there. The
    * standard "are these communities real structure" readout; Σ q_c is
    * the partition's modularity Q. Emitted per community (id, size,
    * intra-edge count e_c, degree mass d_c, q_micro) so the oracle
    * checks every term, not just the scalar sum; q quantizes to integer
    * micro-units in the identical `e/m − (d/2m)·(d/2m)` operator order
    * on both engines. Singleton communities outside every strong edge
    * carry e_c = d_c = 0 → q = 0 exactly.
    *
    * Scale shape: one broadcast of the node→label frame onto the
    * ≤|entities|² edge census (at web scale: two hash joins keyed by
    * endpoint), then community-keyed map-side-combined aggregates; m is
    * the sanctioned 1-row scalar cross.
    */
  def modularity(s: SparkSession, dir: String): DataFrame = {
    // one checkpointed census feeds BOTH the LPA rounds and the scoring
    // joins — without it the fact-table joins behind strongEdges run
    // twice (measured: 5.8 s vs label_prop's 2.8 s at sf0.1)
    val strong = strongEdges(s, dir).transform(graft.Checkpoints.truncate)
    val lbl = lpaLabelsFrom(s, dir, strong)
    modularityOf(lbl, strong, broadcastLabels = true)
  }

  /** The modularity scoring tail over explicit label/edge frames —
    * factored fixture-free (the [[lpaRounds]] stance): LPASCALE_r16
    * scored the 1.2M-node planted clique graph with it (Q = 0.995), and
    * Round16OpsSpec pins both forms on a small one; the
    * `broadcastLabels` dispatch mirrors [[lpaRounds]]': endpoint-keyed
    * hash joins when the label frame outgrows the broadcast bar.
    */
  private[graft] def modularityOf(lbl: DataFrame, strong: DataFrame,
      broadcastLabels: Boolean): DataFrame = {
    def side(f: DataFrame): DataFrame =
      if (broadcastLabels) broadcast(f) else f
    val la = lbl.select(col("node").as("a"), col("lbl").as("lbl_a"))
    val lb = lbl.select(col("node").as("b"), col("lbl").as("lbl_b"))
    // referenced twice below (ec, dc) — pin it so the label joins over
    // the census run once, not once per aggregate
    val labeled = strong.join(side(la), "a").join(side(lb), "b")
      .transform(graft.Checkpoints.truncate)
    val m = strong.agg(count(lit(1)).as("m"))
    // intra-community edges per community
    val ec = labeled.filter(col("lbl_a") === col("lbl_b"))
      .groupBy(col("lbl_a").as("community_id"))
      .agg(count(lit(1)).as("e_c"))
    // degree mass per community: each edge adds 1 to both endpoints —
    // one pass (explode), not a 2-branch self-union of `labeled`
    val dc = labeled
      .select(explode(array(col("lbl_a"), col("lbl_b")))
        .as("community_id"))
      .groupBy(col("community_id")).agg(count(lit(1)).as("d_c"))
    val sizes = lbl.groupBy(col("lbl").as("community_id"))
      .agg(count(lit(1)).as("n_nodes"))
    sizes
      .join(ec, Seq("community_id"), "left")
      .join(dc, Seq("community_id"), "left")
      .select(col("community_id"), col("n_nodes"),
        coalesce(col("e_c"), lit(0L)).as("e_c"),
        coalesce(col("d_c"), lit(0L)).as("d_c"))
      .crossJoin(broadcast(m))
      // m=0 guard: on a corpus with zero strong edges every community is
      // a singleton with e_c = d_c = 0 and 0.0/0.0 = NaN, which Spark's
      // cast('long') silently zeroes while DuckDB errors — make q = 0
      // explicit on the degenerate empty graph (mirrored in the oracle)
      .withColumn("q_micro", when(col("m") > 0, round((
        col("e_c").cast("double") / col("m").cast("double") -
          (col("d_c").cast("double") /
            (lit(2.0) * col("m").cast("double"))) *
          (col("d_c").cast("double") /
            (lit(2.0) * col("m").cast("double")))) *
        lit(1000000.0), 0).cast("long")).otherwise(lit(0L)))
      .select(col("community_id"), col("n_nodes"), col("e_c"),
        col("d_c"), col("q_micro"))
      .orderBy(col("community_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_label_prop" -> labelProp,
    "graph_modularity" -> modularity,
    "graph_degree_census" -> degreeCensus,
    "graph_jaccard_neighbors" -> jaccardNeighbors,
    "graph_pagerank" -> pagerank,
    "graph_triangles" -> triangles,
    "graph_components" -> components,
    "graph_components_lss" -> componentsLss,
    "graph_bfs_hops" -> bfsHops
  )

  /** Shared by graph_components and graph_components_lss: two CC
    * algorithms (min-label + pointer-jump; large/small-star), one
    * fixpoint, one independent recursive-closure oracle.
    */
  private val componentsOracleSql: String =
    """WITH RECURSIVE edges AS (
      |  SELECT c_nationkey AS src, s_nationkey AS dst,
      |         CAST(count(*) AS BIGINT) AS w
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |und AS (
      |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
      |         CAST(sum(w) AS BIGINT) AS w
      |  FROM edges WHERE src <> dst GROUP BY 1, 2),
      |m AS (SELECT CAST(sum(w) // count(*) AS BIGINT) AS mean_w FROM und),
      |strong AS (
      |  SELECT a, b FROM und, m WHERE w >= mean_w),
      |sym AS (
      |  SELECT a AS u, b AS v FROM strong
      |  UNION ALL SELECT b, a FROM strong),
      |reach AS (
      |  SELECT u, v FROM sym
      |  UNION
      |  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
      |lab AS (
      |  SELECT u AS node, least(u, min(v)) AS comp
      |  FROM reach GROUP BY u),
      |assigned AS (
      |  SELECT n_nationkey, n_name,
      |         COALESCE(l.comp, n_nationkey) AS component_id
      |  FROM nation LEFT JOIN lab l ON n_nationkey = l.node),
      |sizes AS (
      |  SELECT component_id, CAST(count(*) AS BIGINT) AS component_size
      |  FROM assigned GROUP BY 1)
      |SELECT a.n_nationkey, a.n_name, a.component_id, s.component_size
      |FROM assigned a JOIN sizes s USING (component_id)
      |ORDER BY n_nationkey""".stripMargin

  /** The strong-edge census + three unrolled synchronous LPA rounds as a
    * WITH-prefix (ending at `l3`) — shared by the graph_label_prop and
    * graph_modularity oracles so the scored partition IS the emitted one
    * on the oracle side too. Every CTE is MATERIALIZED: inlined, the
    * rounds re-expand the census and DuckDB 1.0 runs graph_modularity
    * out of memory at sf0.01 (work that does not spill); materialized,
    * each step runs once, with the same rows.
    */
  private val lpaCtesSql: String =
    """WITH edges AS MATERIALIZED (
      |  SELECT c_nationkey AS src, s_nationkey AS dst,
      |         CAST(count(*) AS BIGINT) AS w
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |und AS MATERIALIZED (
      |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
      |         CAST(sum(w) AS BIGINT) AS w
      |  FROM edges WHERE src <> dst GROUP BY 1, 2),
      |m AS MATERIALIZED (
      |  SELECT CAST(sum(w) // count(*) AS BIGINT) AS mean_w FROM und),
      |strong AS MATERIALIZED (
      |  SELECT a, b FROM und, m WHERE w >= mean_w),
      |sym AS MATERIALIZED (
      |  SELECT a AS u, b AS v FROM strong
      |  UNION ALL SELECT b, a FROM strong),
      |l0 AS MATERIALIZED (
      |  SELECT n_nationkey AS node, n_nationkey AS lbl FROM nation),
      |v1 AS MATERIALIZED (SELECT e.u, l.lbl, count(*) AS cnt
      |       FROM sym e JOIN l0 l ON l.node = e.v GROUP BY 1, 2),
      |w1 AS MATERIALIZED (SELECT u AS node, lbl AS nl FROM (
      |         SELECT u, lbl, row_number() OVER (
      |           PARTITION BY u ORDER BY cnt DESC, lbl) AS rn FROM v1)
      |       WHERE rn = 1),
      |l1 AS MATERIALIZED (SELECT l0.node, COALESCE(w1.nl, l0.lbl) AS lbl
      |       FROM l0 LEFT JOIN w1 USING (node)),
      |v2 AS MATERIALIZED (SELECT e.u, l.lbl, count(*) AS cnt
      |       FROM sym e JOIN l1 l ON l.node = e.v GROUP BY 1, 2),
      |w2 AS MATERIALIZED (SELECT u AS node, lbl AS nl FROM (
      |         SELECT u, lbl, row_number() OVER (
      |           PARTITION BY u ORDER BY cnt DESC, lbl) AS rn FROM v2)
      |       WHERE rn = 1),
      |l2 AS MATERIALIZED (SELECT l1.node, COALESCE(w2.nl, l1.lbl) AS lbl
      |       FROM l1 LEFT JOIN w2 USING (node)),
      |v3 AS MATERIALIZED (SELECT e.u, l.lbl, count(*) AS cnt
      |       FROM sym e JOIN l2 l ON l.node = e.v GROUP BY 1, 2),
      |w3 AS MATERIALIZED (SELECT u AS node, lbl AS nl FROM (
      |         SELECT u, lbl, row_number() OVER (
      |           PARTITION BY u ORDER BY cnt DESC, lbl) AS rn FROM v3)
      |       WHERE rn = 1),
      |l3 AS MATERIALIZED (SELECT l2.node, COALESCE(w3.nl, l2.lbl) AS lbl
      |       FROM l2 LEFT JOIN w3 USING (node))""".stripMargin

  val oracle: Map[String, String] = Map(
    // Three synchronous LPA rounds unrolled as CTE chains — each round's
    // vote census, windowed winner, and coalesce-carry replayed exactly.
    "graph_label_prop" -> (lpaCtesSql +
      """
        |SELECT n_nationkey, n_name, l3.lbl AS community_id
        |FROM nation JOIN l3 ON node = n_nationkey
        |ORDER BY n_nationkey""".stripMargin),
    // Newman modularity of the SAME l3 partition: per-community
    // intra-edge count, degree mass, and q_micro in the engine's exact
    // operator order (e/m − (d/2m)·(d/2m), micro-quantized).
    "graph_modularity" -> (lpaCtesSql +
      """,
        |mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS em FROM strong),
        |le AS MATERIALIZED (
        |       SELECT s.a, s.b, la.lbl AS lbl_a, lb2.lbl AS lbl_b
        |       FROM strong s
        |       JOIN l3 la ON la.node = s.a
        |       JOIN l3 lb2 ON lb2.node = s.b),
        |ec AS MATERIALIZED (SELECT lbl_a AS community_id,
        |              CAST(count(*) AS BIGINT) AS e_c
        |       FROM le WHERE lbl_a = lbl_b GROUP BY 1),
        |dc AS MATERIALIZED (
        |       SELECT community_id, CAST(count(*) AS BIGINT) AS d_c
        |       FROM (SELECT lbl_a AS community_id FROM le
        |             UNION ALL SELECT lbl_b FROM le)
        |       GROUP BY 1),
        |sz AS MATERIALIZED (SELECT lbl AS community_id,
        |              CAST(count(*) AS BIGINT) AS n_nodes
        |       FROM l3 GROUP BY 1)
        |SELECT sz.community_id, sz.n_nodes,
        |       coalesce(ec.e_c, 0) AS e_c,
        |       coalesce(dc.d_c, 0) AS d_c,
        |       CASE WHEN em > 0 THEN
        |       CAST(round((CAST(coalesce(ec.e_c, 0) AS DOUBLE)
        |                     / CAST(em AS DOUBLE)
        |                   - (CAST(coalesce(dc.d_c, 0) AS DOUBLE)
        |                      / (2.0 * CAST(em AS DOUBLE)))
        |                     * (CAST(coalesce(dc.d_c, 0) AS DOUBLE)
        |                        / (2.0 * CAST(em AS DOUBLE))))
        |                  * 1000000.0) AS BIGINT)
        |       ELSE 0 END AS q_micro
        |FROM sz LEFT JOIN ec USING (community_id)
        |LEFT JOIN dc USING (community_id), mm
        |ORDER BY community_id""".stripMargin),
    "graph_degree_census" ->
      """WITH edges AS (
        |  SELECT c_nationkey AS src, s_nationkey AS dst,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
        |         CAST(sum(w) AS BIGINT) AS w
        |  FROM edges WHERE src <> dst GROUP BY 1, 2),
        |m AS (SELECT CAST(sum(w) // count(*) AS BIGINT) AS mean_w FROM und),
        |strong AS (
        |  SELECT a, b FROM und, m WHERE w >= mean_w),
        |deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT a AS node FROM strong
        |    UNION ALL SELECT b FROM strong)
        |  GROUP BY 1)
        |SELECT n_nationkey, n_name, COALESCE(deg.degree, 0) AS degree
        |FROM nation LEFT JOIN deg ON n_nationkey = deg.node
        |ORDER BY n_nationkey""".stripMargin,
    "graph_jaccard_neighbors" ->
      """WITH edges AS (
        |  SELECT c_nationkey AS src, s_nationkey AS dst,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
        |         CAST(sum(w) AS BIGINT) AS w
        |  FROM edges WHERE src <> dst GROUP BY 1, 2),
        |m AS (SELECT CAST(sum(w) // count(*) AS BIGINT) AS mean_w FROM und),
        |strong AS (
        |  SELECT a, b FROM und, m WHERE w >= mean_w),
        |sym AS (
        |  SELECT a AS u, b AS v FROM strong
        |  UNION ALL SELECT b, a FROM strong),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
        |        FROM sym GROUP BY 1),
        |common AS (
        |  SELECT x.u AS a, y.u AS b, CAST(count(*) AS BIGINT) AS common_cnt
        |  FROM sym x JOIN sym y ON x.v = y.v AND x.u < y.u
        |  GROUP BY 1, 2)
        |SELECT c.a, c.b, c.common_cnt,
        |       1000 * c.common_cnt // (da.deg + db.deg - c.common_cnt)
        |         AS jaccard_milli
        |FROM common c
        |JOIN deg da ON da.u = c.a
        |JOIN deg db ON db.u = c.b
        |WHERE NOT EXISTS (SELECT 1 FROM strong st
        |                  WHERE st.a = c.a AND st.b = c.b)
        |ORDER BY c.a, c.b""".stripMargin,
    "graph_pagerank" ->
      """WITH edges AS (
        |  SELECT c_nationkey AS src, s_nationkey AS dst,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |e AS (
        |  SELECT edges.*, o.outw
        |  FROM edges JOIN (SELECT src, CAST(sum(w) AS BIGINT) AS outw
        |                   FROM edges GROUP BY 1) o USING (src)),
        |r0 AS (SELECT n_nationkey AS node, CAST(40000 AS BIGINT) AS r
        |       FROM nation),
        |r1 AS (
        |  SELECT r0.node,
        |         CAST(6000 + 850000 * COALESCE(i.s, 0) // 1000000 AS BIGINT)
        |           AS r
        |  FROM r0 LEFT JOIN (
        |    SELECT e.dst AS node, CAST(sum(r.r * e.w // e.outw) AS BIGINT)
        |      AS s
        |    FROM e JOIN r0 r ON r.node = e.src GROUP BY 1) i
        |  USING (node)),
        |r2 AS (
        |  SELECT r1.node,
        |         CAST(6000 + 850000 * COALESCE(i.s, 0) // 1000000 AS BIGINT)
        |           AS r
        |  FROM r1 LEFT JOIN (
        |    SELECT e.dst AS node, CAST(sum(r.r * e.w // e.outw) AS BIGINT)
        |      AS s
        |    FROM e JOIN r1 r ON r.node = e.src GROUP BY 1) i
        |  USING (node)),
        |r3 AS (
        |  SELECT r2.node,
        |         CAST(6000 + 850000 * COALESCE(i.s, 0) // 1000000 AS BIGINT)
        |           AS r
        |  FROM r2 LEFT JOIN (
        |    SELECT e.dst AS node, CAST(sum(r.r * e.w // e.outw) AS BIGINT)
        |      AS s
        |    FROM e JOIN r2 r ON r.node = e.src GROUP BY 1) i
        |  USING (node))
        |SELECT n_nationkey, n_name, r3.r AS rank_micro
        |FROM r3 JOIN nation ON node = n_nationkey
        |ORDER BY n_nationkey""".stripMargin,
    "graph_triangles" ->
      """WITH edges AS (
        |  SELECT c_nationkey AS src, s_nationkey AS dst,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
        |         CAST(sum(w) AS BIGINT) AS w
        |  FROM edges WHERE src <> dst GROUP BY 1, 2),
        |m AS (SELECT CAST(sum(w) // count(*) AS BIGINT) AS mean_w FROM und),
        |strong AS (
        |  SELECT a, b FROM und, m WHERE w >= mean_w),
        |tri AS (
        |  SELECT ab.a AS x, ab.b AS y, bc.b AS z
        |  FROM strong ab
        |  JOIN strong bc ON ab.b = bc.a
        |  JOIN strong ac ON ab.a = ac.a AND bc.b = ac.b),
        |pn AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS tri_count FROM (
        |    SELECT x AS node FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri)
        |  GROUP BY 1)
        |SELECT n_nationkey, n_name,
        |       COALESCE(pn.tri_count, 0) AS tri_count
        |FROM nation LEFT JOIN pn ON n_nationkey = pn.node
        |ORDER BY n_nationkey""".stripMargin,
    // Components via recursive transitive closure over the same strong
    // edge census — the independent route to the min-label fixpoint the
    // Spark pointer-jump loop converges to.
    "graph_components" -> componentsOracleSql,
    "graph_components_lss" -> componentsOracleSql,
    // BFS via bounded recursive walk over the same strong edge census —
    // UNION dedups (node, h) pairs and the h < 25 guard bounds cycles,
    // so min(h) per node is the exact hop distance.
    "graph_bfs_hops" ->
      """WITH RECURSIVE edges AS (
        |  SELECT c_nationkey AS src, s_nationkey AS dst,
        |         CAST(count(*) AS BIGINT) AS w
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |und AS (
        |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
        |         CAST(sum(w) AS BIGINT) AS w
        |  FROM edges WHERE src <> dst GROUP BY 1, 2),
        |m AS (SELECT CAST(sum(w) // count(*) AS BIGINT) AS mean_w FROM und),
        |strong AS (
        |  SELECT a, b FROM und, m WHERE w >= mean_w),
        |sym AS (
        |  SELECT a AS u, b AS v FROM strong
        |  UNION ALL SELECT b, a FROM strong),
        |walk AS (
        |  SELECT (SELECT min(u) FROM sym) AS node, 0 AS h
        |  UNION
        |  SELECT sym.v, walk.h + 1
        |  FROM walk JOIN sym ON walk.node = sym.u
        |  WHERE walk.h < 25),
        |d AS (SELECT node, CAST(min(h) AS BIGINT) AS hops
        |      FROM walk GROUP BY 1)
        |SELECT n_nationkey, n_name, d.hops
        |FROM nation LEFT JOIN d ON n_nationkey = d.node
        |ORDER BY n_nationkey""".stripMargin
  )
}
