package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Aggregation operators (SURVEY.md §2b "Aggregations").
  *
  * The reference's only aggregate-like state is Kafka's committed offset — a
  * max-offset-per-group register (reference README.md:19) — reproduced here
  * as `offset_watermark_agg`. The rest is the declared engine surface.
  *
  * Scale notes (100 TB):
  *  - All groupBys are hash aggregates with map-side partial aggregation:
  *    the shuffle carries one row per (partition × group), not per input
  *    row. Group cardinalities here (returnflag×linestatus = 6,
  *    region×nation = 25, user_id = |users|) stay far below input rows.
  *  - `count(DISTINCT x, y)` expands to Expand + two-phase agg; cardinality
  *    of the distinct keys bounds the shuffle.
  *  - rollup/cube/grouping-sets use Expand (k× input rows map-side) but
  *    still partial-aggregate before the shuffle.
  *  - Money sums run in DECIMAL (exact, order-independent) then cast to
  *    DOUBLE for output parity with the DuckDB oracle.
  */
object AggOps extends OpModule {

  private val sumQty = "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
  private val sumPrice =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
  private val sumDisc =
    """CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      | (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"""
      .stripMargin.replaceAll("\n", "")

  /** TPC-H Q1-style pricing summary: the canonical hash aggregate. */
  def hashGroup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        expr(sumQty).as("sum_qty"),
        expr(sumPrice).as("sum_base"),
        expr(sumDisc).as("sum_disc"),
        count(lit(1)).as("n"))
      .withColumn("avg_qty", col("sum_qty") / col("n"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Exact multi-column count-distinct per group. */
  def countDistinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** ROLLUP over the region→nation hierarchy (grand total + per-region
    * subtotals + leaves). Null grouping keys sort FIRST on both engines.
    */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)")
          .as("sum_acctbal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))

  /** CUBE over returnflag × linestatus (all 4 grouping combinations). */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), expr(sumQty).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"),
        asc_nulls_first("l_linestatus"))

  /** Explicit GROUPING SETS: per-flag, per-status, and grand total. */
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), expr(sumQty).as("sum_qty"))
      .orderBy(asc_nulls_first("l_returnflag"),
        asc_nulls_first("l_linestatus"))

  /** The reference's offset ledger as a query: high-watermark id + counts
    * per group (reference README.md:19 — committed offset per consumer
    * group; here user_id plays the group, event_id the offset).
    */
  def offsetWatermark(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        max(col("event_id")).as("watermark_id"),
        min(col("event_id")).as("min_id"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** Exact percentiles (linear interpolation — ≡ DuckDB `quantile_cont`)
    * per group, WITHOUT the built-in `percentile` aggregate: that
    * aggregate buffers every value of a group in its state (6M doubles
    * per returnflag at the 10× stress tier — 19 s there, unbounded
    * memory at 100 TB, and a 3-group final merge is a straggler by
    * construction). Instead the value domain collapses to one counted
    * row per (flag, value) — a map-side-combinable hash aggregate — and
    * the inclusive prefix counts ride [[WindowOps.spreadRank]]'s
    * range-partitioned two-pass sum (parallel in the shuffle width, the
    * [[weightedPercentile]] shape). Each quantile then needs just the
    * two order statistics around pos = (n−1)·q — picked with `min(when
    * (__pre ≥ idx))` — and Spark's own interpolation formula
    * `lo + frac·(hi − lo)` in double, which value-matches DuckDB's
    * `quantile_cont` exactly as the built-in did.
    */
  def percentileAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val qty = exactPercentiles(s,
      li.select(col("l_returnflag"), col("l_quantity")),
      "l_returnflag", "l_quantity",
      Seq(("qty_p50", 0.5), ("qty_p90", 0.9)), collapse = true)
    val price = exactPercentiles(s,
      li.select(col("l_returnflag"), col("l_extendedprice")),
      "l_returnflag", "l_extendedprice", Seq(("price_p25", 0.25)),
      collapse = false)
    qty.join(price, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("qty_p50"), col("qty_p90"),
        col("price_p25"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact interpolated percentiles of `valueCol` per `key` via spread
    * prefix counts. For each (name, q): the order statistics at
    * floor/ceil of pos = (n−1)·q (0-based, the
    * `percentile`/`quantile_cont` definition) and the double
    * interpolation between them. Nulls are excluded like both built-ins
    * exclude them.
    *
    * `collapse` is the domain-cardinality config (the [[scaledCells]]
    * stance — a property of the COLUMN, known to the caller, not
    * derivable without a pass): a narrow domain (l_quantity: 50 values)
    * first collapses to counted distinct values, so the spread pass
    * runs over domain-sized metadata; a wide domain (l_extendedprice:
    * ~as many values as rows) skips the collapse — its groupBy would
    * shuffle the full table to shrink it by nothing — and spreads the
    * raw rows, where the rank equality picks the same order statistics
    * (ties share a value, so which tied row wins is value-irrelevant).
    */
  private[operators] def exactPercentiles(s: SparkSession, df: DataFrame,
      key: String, valueCol: String, quantiles: Seq[(String, Double)],
      collapse: Boolean): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val nn = df.filter(col(valueCol).isNotNull)
    // total: the count column (collapsed: __tw; raw: __n); idx: the
    // inclusive 1-based position comparison selecting order statistic i
    val (spread, total, pick) =
      if (collapse) {
        val grouped = nn.groupBy(col(key), col(valueCol))
          .agg(count(lit(1)).as("cnt"))
        val sp = WindowOps.spreadRank(grouped, key, Seq(col(valueCol)),
          parts, weight = Some("cnt"))
        // __pre = inclusive cumulative count in value order; the 0-based
        // order statistic at index i is the smallest value with __pre ≥ i+1
        (sp, "__tw",
          (i: org.apache.spark.sql.Column) =>
            min(when(col("__pre") >= i, col(valueCol))))
      } else {
        val sp = WindowOps.spreadRank(nn, key, Seq(col(valueCol)), parts)
        (sp, "__n",
          (i: org.apache.spark.sql.Column) =>
            min(when(col("__rn") === i, col(valueCol))))
      }
    val aggs = quantiles.flatMap { case (name, q) =>
      val pos = (col(total) - 1).cast("double") * lit(q)
      Seq(pick(floor(pos) + 1).as(s"__${name}_lo"),
        pick(ceil(pos) + 1).as(s"__${name}_hi"))
    }
    spread.groupBy(col(key), col(total))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(key) +: quantiles.map { case (name, q) =>
        val pos = (col(total) - 1).cast("double") * lit(q)
        val frac = pos - floor(pos)
        (col(s"__${name}_lo") +
          frac * (col(s"__${name}_hi") - col(s"__${name}_lo"))).as(name)
      }: _*)
  }

  /** Statistical aggregates (mean/variance/stddev/correlation) computed
    * from EXACT decimal moments: the raw sums Σx, Σx², Σy, Σy², Σxy run in
    * DECIMAL (order-independent, so shuffle layout cannot flip a bit),
    * and the statistics derive from them in identical double arithmetic
    * on both engines — bit-for-bit oracle parity where the built-in
    * streaming `var_samp`/`corr` implementations (Welford vs textbook)
    * would diverge in low-order bits between engines. Still one partial-
    * aggregating hash aggregate: moments are plain sums.
    */
  def statsMoments(s: SparkSession, dir: String): DataFrame = {
    val sx2 =
      """CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        | CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"""
        .stripMargin.replaceAll("\n", "")
    val sy2 =
      """CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        | CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"""
        .stripMargin.replaceAll("\n", "")
    val sxy =
      """CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        | CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"""
        .stripMargin.replaceAll("\n", "")
    // Degenerate groups (n = 1, or zero variance for corr) are NULL on
    // BOTH engines by explicit guard: Spark's non-ANSI divide-by-zero
    // yields NULL while DuckDB's IEEE float ops yield inf/nan — without
    // the guard a single-row or constant-valued group breaks parity.
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), expr(sumQty).as("sx"),
        expr(sx2).as("sx2"), expr(sumPrice).as("sy"),
        expr(sy2).as("sy2"), expr(sxy).as("sxy"))
      .withColumn("mx", col("sx2") - col("sx") * col("sx") / col("n"))
      .withColumn("my", col("sy2") - col("sy") * col("sy") / col("n"))
      .select(col("l_returnflag"), col("n"),
        (col("sx") / col("n")).as("mean_qty"),
        when(col("n") > 1, col("mx") / (col("n") - 1)).as("var_qty"),
        when(col("n") > 1, sqrt(col("mx") / (col("n") - 1))).as("std_qty"),
        when(col("n") > 1 && col("mx") > 0 && col("my") > 0,
          (col("sxy") - col("sx") * col("sy") / col("n")) /
            (sqrt(col("mx")) * sqrt(col("my"))))
          .as("corr_qty_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Sketch aggregates — the 100 TB form of count-distinct/quantiles:
    * HyperLogLog++ (`approx_count_distinct`) and GK quantile sketches
    * (`approx_percentile`) are mergeable fixed-size state, so the shuffle
    * carries one sketch per partition instead of the distinct key set.
    * Deterministic within Spark but engine-specific → no SQL oracle.
    * LIBRARY FUNCTION since round 12: its `agg_approx_sketch` query slot
    * was the last no-oracle CORRECTNESS row, so the query surface moved
    * to [[quantilePortable]] (the same retirement the xxhash64 fast
    * paths took when `llm_simhash_portable` landed); the native sketches
    * stay available here with their error bounds unit-asserted in
    * JoinAggSpec.
    */
  def approxSketch(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)")
          .as("approx_price_p50"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** PORTABLE quantile sketch — the value-oracled replacement for
    * [[approxSketch]]'s engine-specific GK sketch, completing the
    * mergeable-summary family (KMV = cardinality, count-min = frequency,
    * HLL = registers, Misra–Gries = top-k, THIS = quantiles): the
    * bottom-k rows by md5-derived hash form a FIXED-SIZE uniform random
    * sample per group (order statistics of a uniform hash — the same
    * principle as KMV; two sketches MERGE by union + re-bottom-k), and
    * each quantile estimate is the sample's order statistic at an exact
    * integer rank `ceil(q·n_s)` — no interpolation, so the estimate is a
    * raw data value both engines pick identically.
    *
    * Scale shape: sample selection runs on the native bounded-heap
    * [[graft.plans.TopKPerGroup]] operator (partial heaps BEFORE the
    * exchange), so the shuffle carries ≤ k·groups·partitions rows
    * regardless of input volume — the plain
    * `row_number() OVER (PARTITION BY grp ORDER BY hv)` form would sort
    * every group's full stream in one task, the exact hot-group
    * straggler the operator exists to kill. Determinism: hash ties break
    * on the UNIQUE o_orderkey, giving a total order; DuckDB replays the
    * hash, the rank cut, and the element selection value-for-value.
    */
  def quantilePortable(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    val base = Tables.orders(s, dir)
      .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"),
        expr("CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 8)," +
          " 16, 10) AS BIGINT)").as("hv"))
    val sampled = graft.plans.TopKPerGroup(base, Seq("o_orderstatus"),
      "hv", descending = false, "o_orderkey", k)
    sampled.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sample"),
        sort_array(collect_list(col("o_totalprice"))).as("vals"))
      .select(col("o_orderstatus"), col("n_sample"),
        element_at(col("vals"),
          expr("CAST((n_sample + 1) DIV 2 AS INT)")).as("est_p50"),
        element_at(col("vals"),
          expr("CAST((9 * n_sample + 9) DIV 10 AS INT)")).as("est_p90"))
      .orderBy(col("o_orderstatus"))
  }

  /** KMV (k-minimum-values) distinct-count sketch — the PORTABLE
    * mergeable sketch companion to [[approxSketch]]'s engine-specific
    * HLL (the same move `llm_simhash_portable` made for SimHash): the k
    * smallest md5-derived 32-bit hashes of the distinct keys determine
    * the estimate (k−1)·2³²/kth, and DuckDB recomputes the identical
    * hashes, kth value, and IEEE division — a full value oracle for a
    * sketch.
    *
    * Shape at scale: distinct-key hash aggregate (scalable, the same
    * shuffle exact count-distinct needs per group) feeding the
    * bounded-heap [[graft.plans.TopKPerGroup]] operator ([[kmvSketch]])
    * — partial heaps hold ≤ k rows per (group × partition), so the
    * final shuffle carries k rows per group instead of the distinct key
    * set. Groups with ≤ k keys are exact by construction.
    */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val dist = kmvHashes(s, dir)
    dist.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_exact"))
      .join(kmvSketch(dist, k), "l_returnflag")
      // the sketch holds min(k, n_exact) hashes: its last is the kth
      .withColumn("kth_hash", element_at(col("sk"), -1))
      .select(col("l_returnflag"), col("n_exact"), col("kth_hash"),
        // kth_hash = 0 (p ≈ n/2³² per group) would hit Spark's non-ANSI
        // divide-by-zero NULL vs DuckDB's IEEE double rules — guard the
        // division identically on both sides so the sketch stays a VALUE
        // oracle even on that tail
        when(col("n_exact") <= k, col("n_exact").cast("double"))
          .when(col("kth_hash") > 0,
            lit((k - 1) * 4294967296.0) / col("kth_hash"))
          .as("kmv_estimate"))
      .orderBy(col("l_returnflag"))
  }

  /** Distinct (l_returnflag, l_partkey) rows with `hv`, the md5-derived
    * 32-bit hash both KMV queries sketch. */
  private def kmvHashes(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_partkey")).distinct()
      .withColumn("hv", expr(
        "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 8), 16, 10) AS BIGINT)"))

  /** Per-flag bottom-k sketch `sk`: the k smallest `hv` of [[kmvHashes]]
    * rows, ascending. The native top-k keeps them (hv ascending, ties on
    * l_partkey, unique per flag after the distinct); equal hashes of
    * two keys both stay, as in DuckDB's `list_sort(list(hv))[:k]`.
    */
  private def kmvSketch(dist: DataFrame, k: Int): DataFrame =
    graft.plans.TopKPerGroup(dist, Seq("l_returnflag"), "hv",
      descending = false, "l_partkey", k)
      .groupBy(col("l_returnflag"))
      .agg(sort_array(collect_list(col("hv"))).as("sk"))

  /** KMV sketch SET ALGEBRA — the property that makes sketches the
    * 100 TB answer: two groups' bottom-64 sketches MERGE into the union's
    * sketch without touching the data again (bottom-k of A∪B is fully
    * determined by bottom-k(A) ∪ bottom-k(B)), so cross-group distinct
    * unions, Jaccard, and intersection estimates come from 64-entry
    * arrays instead of a re-scan. Per flag pair: union estimate
    * (k−1)·2³²/kth over the merged bottom-k (exact when the merged set
    * is still under k), Jaccard = the fraction of the merged bottom-k
    * present in BOTH sketches, intersection = J · union — all array
    * arithmetic DuckDB replays value-for-value on the identical
    * md5-derived hashes.
    *
    * The `<` self-join pairing the sketches is a broadcast non-equi join
    * over per-GROUP summaries — rows = the return-flag enum (3), each a
    * 64-entry array, a size fixed by the sketch parameter and the group
    * cardinality, NOT the data volume. Sanctioned in QueriesSmokeSpec's
    * allowlist per its rule: the corpus-scale work all happens in the
    * partial-aggregated sketch build above the join.
    */
  def kmvSetops(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val sk = kmvSketch(kmvHashes(s, dir), k)
    sk.as("a")
      .join(sk.as("b"), col("a.l_returnflag") < col("b.l_returnflag"))
      .select(col("a.l_returnflag").as("flag_a"),
        col("b.l_returnflag").as("flag_b"),
        col("a.sk").as("ska"), col("b.sk").as("skb"))
      .withColumn("merged", array_sort(array_union(col("ska"), col("skb"))))
      .withColumn("kk", least(lit(k), size(col("merged"))))
      .withColumn("bottom", slice(col("merged"), lit(1), col("kk")))
      .withColumn("kth", element_at(col("bottom"), col("kk")))
      .withColumn("union_est",
        when(size(col("merged")) < k, size(col("merged")).cast("double"))
          .when(col("kth") > 0,
            lit((k - 1) * 4294967296.0) / col("kth")))
      .withColumn("jaccard_est",
        size(array_intersect(array_intersect(col("bottom"), col("ska")),
          col("skb"))).cast("double") / col("kk"))
      .withColumn("inter_est", col("jaccard_est") * col("union_est"))
      .select(col("flag_a"), col("flag_b"), col("kth"), col("union_est"),
        col("jaccard_est"), col("inter_est"))
      .orderBy(col("flag_a"), col("flag_b"))
  }

  /** Arg-extrema per group: the customer carrying each nation's max/min
    * account balance, via `max_by`/`min_by` (SQL ARG_MAX/ARG_MIN — one
    * pass, mergeable (value, key) state, no join-back or window). Larger
    * fixtures DO have per-nation acctbal ties, so the pick key is the
    * (acctbal, custkey) pair encoded into one BIGINT — cents * 10^7 +
    * custkey — because the DuckDB twin's arg_max accepts only scalar
    * keys. Lexicographic order survives the encoding (custkey is
    * non-negative and < 10^7; cents is exact for the 2-decimal fixture),
    * so both engines pick the same row deterministically.
    */
  def argExtrema(s: SparkSession, dir: String): DataFrame = {
    val pickKey = round(col("c_acctbal") * 100).cast("long") *
      10000000L + col("c_custkey")
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .withColumn("pick_key", pickKey)
      .groupBy(col("n_name"))
      .agg(
        max_by(col("c_name"), col("pick_key")).as("top_customer"),
        max(col("c_acctbal")).as("max_acctbal"),
        min_by(col("c_name"), col("pick_key")).as("bottom_customer"),
        min(col("c_acctbal")).as("min_acctbal"),
        count(lit(1)).as("n_cust"))
      .orderBy(col("n_name"))
  }

  /** Deterministic per-group mode: the most frequent `o_orderpriority` per
    * order status, ties broken toward the lexicographically smallest
    * value (built-in `mode()` is tie-nondeterministic on BOTH engines, so
    * neither side uses it). Two hash aggregates — the second runs on
    * |statuses × priorities| rows, nothing at data volume — and the pick
    * is `min_by` over the (-count, value) pair, which is exactly
    * "max count, then min value" without a join-back or window.
    */
  def modeAgg(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("o_orderstatus"))
      .agg(
        min_by(col("o_orderpriority"),
          struct((-col("n")).as("neg_n"), col("o_orderpriority")))
          .as("mode_value"),
        max(col("n")).as("n_mode"),
        sum(col("n")).as("total"))
      .withColumn("share",
        col("n_mode").cast("double") / col("total").cast("double"))
      .orderBy(col("o_orderstatus"))
  }

  /** Ordered list aggregation: per nation, the top-3 customers by
    * (acctbal desc, custkey) serialized as a comma-joined custkey string.
    * `collect_list` alone is shuffle-order-nondeterministic, so the list
    * is collected as (rank, key) pairs and `array_sort`ed before
    * serialization — the deterministic form of DuckDB's
    * `string_agg(... ORDER BY ...)`. The rank filter bounds every group
    * to 3 rows before the collect, so the aggregate state is O(k), never
    * O(group).
    */
  def collectOrdered(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_custkey"), col("c_acctbal"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy(col("c_nationkey"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("rk"), col("c_custkey")))),
            x => x.getField("c_custkey").cast("string")),
          ",").as("top_custkeys"),
        count(lit(1)).as("n_top"))
      .orderBy(col("c_nationkey"))
  }

  /** Weighted percentiles (p25/p50/p75 of `l_extendedprice` weighted by
    * `l_quantity`, per returnflag) — the statistic token-budget and
    * cost-model analyses need, and one the engines' built-ins don't
    * value-agree on. Definition: the smallest price whose cumulative
    * weight reaches q × total, all weight arithmetic in exact DECIMAL so
    * the crossing row is bit-deterministic cross-engine.
    *
    * Scale shape: the raw rows spread DIRECTLY — l_extendedprice's
    * domain is nearly as large as the table, so a collapse-to-distinct
    * groupBy would shuffle everything to shrink nothing (measured 2 s
    * of pure overhead at the 10× stress tier) — and the running weight
    * does NOT use a per-flag window (the 3-partition straggler the
    * spread-rank rework removed from win_distribution); it rides
    * [[WindowOps.spreadRank]]'s range-partitioned two-pass prefix sum,
    * parallel in the range partition count. The crossing picks are
    * value-level (`min(when(__pre·k ≥ __tw))`), so which of several
    * same-value rows first crosses is value-irrelevant and the raw
    * spread selects exactly the collapsed form's answer. Totals are a
    * |flags|-row broadcast. The DuckDB twin keeps the textbook
    * single-window form — an independent route to the same crossing
    * rows.
    */
  def weightedPercentile(s: SparkSession, dir: String): DataFrame = {
    // weight in exact centi-unit LONGS (quantity is 2-decimal money
    // arithmetic: the decimal cast fixes the scale, ×100 clears it) —
    // the prefix sums then run native long adds instead of per-row
    // decimal state, the crossing comparisons are scale-invariant, and
    // the only conversion back is one edge division whose operands are
    // exact in double, so total_weight bit-matches the oracle's
    // CAST(decimal AS DOUBLE)
    val raw = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        col("l_extendedprice"),
        expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("w"))
    // per-flag total weight comes out of spreadRank's metadata pass
    // (`__tw`) — no second aggregate or join over the data
    val spread = WindowOps.spreadRank(raw, "l_returnflag",
      Seq(col("l_extendedprice")),
      s.sessionState.conf.numShufflePartitions, weight = Some("w"))
    spread
      .groupBy(col("l_returnflag"), col("__tw"))
      .agg(
        min(when(col("__pre") * 4 >= col("__tw"), col("l_extendedprice")))
          .as("wp25"),
        min(when(col("__pre") * 2 >= col("__tw"), col("l_extendedprice")))
          .as("wp50"),
        min(when(col("__pre") * 4 >= col("__tw") * 3,
          col("l_extendedprice"))).as("wp75"))
      .select(col("l_returnflag"), col("wp25"), col("wp50"), col("wp75"),
        (col("__tw").cast("double") / lit(100.0)).as("total_weight"))
      .orderBy(col("l_returnflag"))
  }

  /** Heavy hitters by sketch-then-verify: a Misra–Gries candidate pass
    * (bounded k-counter state per partition — see
    * [[graft.functions.HeavyHitters]] for why exact groupBy is the wrong
    * shape when the key space is ~billions), then an exact recount
    * restricted to the broadcast candidate set, then the exact threshold
    * `n × 1300 > total` (share > ~0.077%). The MG superset guarantee
    * (k = threshold denominator) means no true heavy hitter can be
    * missing from the candidates, so the final answer is EXACT — fully
    * value-oracled against DuckDB's plain count-and-filter.
    *
    * The 1-row corpus total rides a broadcast cross join (the
    * llm_tfidf-sanctioned pattern).
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val threshold = 1300
    val ev = Tables.events(s, dir).select(col("user_id"))
    val mg = graft.functions.HeavyHitters.MisraGriesAgg(threshold)
    val candidates = ev.as[Long].select(mg.toColumn).toDF("c")
      .select(explode(col("c")).as("user_id"))
    val total = ev.agg(count(lit(1)).as("total"))
    ev.join(broadcast(candidates), Seq("user_id"), "left_semi")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * threshold > col("total"))
      .select(col("user_id"), col("n"),
        col("n").cast("double") / col("total").cast("double") as "share")
      .orderBy(desc("n"), col("user_id"))
  }

  /** Count-min frequency sketch (Cormode & Muthukrishnan 2005) with
    * PORTABLE md5-derived hash rows — the third leg of the mergeable-
    * summary family next to [[kmvDistinct]] (cardinality) and
    * [[heavyHitters]] (top-k): d = 4 rows × w = 32 counters answer point
    * frequency queries over an unbounded key space in fixed memory, and
    * two sketches MERGE by cell-wise addition (the property that lets
    * every executor sketch its partition and the driver never see keys).
    * Like the KMV sketch, the hash rows derive from md5, so DuckDB
    * recomputes every counter and every estimate value-for-value — the
    * no-undercount guarantee (est ≥ true count, by construction) is a
    * VALUE column both engines must agree on, not a unit assertion.
    *
    * Scale shape: the counter build is one map-side-combined aggregate
    * over the keys × 4 hash rows (the shuffle carries ≤ d·w = 128 groups
    * per partition, regardless of volume); the 128-row counter table
    * broadcasts onto the probe set; the per-probe min folds 4 rows. No
    * driver-side state, no data-volume join.
    */
  def countminPortable(s: SparkSession, dir: String): DataFrame = {
    val d = 4
    val wBuckets = 32
    def bucketOf(r: String, key: String) = expr(
      s"CAST(conv(substring(md5(concat(CAST($r AS STRING), ':', " +
        s"CAST($key AS STRING))), 1, 8), 16, 10) AS BIGINT) % $wBuckets")
    val keys = Tables.events(s, dir).select(col("user_id"))
    val counters = keys
      .select(col("user_id"), explode(expr(s"sequence(0, ${d - 1})")).as("r"))
      .withColumn("bucket", bucketOf("r", "user_id"))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("n"))
    val probes = keys.filter(col("user_id") % 5 === 0)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_true"))
      .select(col("user_id"), col("n_true"),
        explode(expr(s"sequence(0, ${d - 1})")).as("r"))
      .withColumn("bucket", bucketOf("r", "user_id"))
    probes.join(broadcast(counters), Seq("r", "bucket"))
      .groupBy(col("user_id"), col("n_true"))
      .agg(min(col("n")).as("cm_est"))
      .withColumn("no_undercount", col("cm_est") >= col("n_true"))
      .orderBy(col("user_id"))
  }

  /** HyperLogLog cardinality sketch (Flajolet et al. 2007) with PORTABLE
    * md5-derived hashes — the fourth leg of the mergeable-summary family
    * (KMV = cardinality by order statistics, count-min = frequency,
    * Misra–Gries = top-k): m = 32 registers per group each hold the max
    * leading-zero rank seen in their hash slice, and two sketches MERGE by
    * register-wise max. Unlike `agg_approx_sketch` (Spark's built-in HLL,
    * engine-specific bytes → no oracle), every register and the estimate
    * itself replay value-for-value in DuckDB: the 32-bit hash is the first
    * 8 md5 hex digits, rho = 28 − bitlength(h DIV 32) comes from the
    * length of the minimal binary string (`bin` in both engines — exact,
    * no float log2 at power-of-two boundaries), the harmonic denominator
    * is the exact integer S = Σ 2^(32−M_j), and the raw estimate is one
    * integer division `α·m²·2³² DIV S` with α quantized once to 0.697·10⁶
    * (no small-range correction — its ln() would float; the raw estimate
    * is the invariant both engines must agree on).
    *
    * Scale shape: one map-side-combined aggregate over (group, bucket) —
    * the shuffle carries ≤ |groups|·32 register rows per partition
    * regardless of input volume; the 32-row-per-group grid join runs on
    * the aggregated frame. The exact count (the accuracy column) is the
    * only |keys|-bounded shuffle, and it's the thing the sketch replaces
    * at 100 TB.
    */
  def hllPortable(s: SparkSession, dir: String): DataFrame = {
    val m = 32 // registers; p = 5 bucket bits, 27-bit rank slice
    // α·m²·2³² in micro-units (α = 0.697 for m = 32, quantized to 697000)
    val alphaM2TwoP32 = 697000L * (m.toLong * m) * 4294967296L
    val hashed = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), expr(
        "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 8), 16, 10)" +
          " AS BIGINT)").as("hv"))
      .select(col("l_returnflag"), (col("hv") % m).as("bucket"),
        expr(s"hv DIV $m").as("w"))
      .withColumn("rho",
        when(col("w") === 0, lit(28))
          .otherwise(lit(28) - length(expr("bin(w)"))))
    // pinned (≤ |flags|·m rows): the register grid's flag set is exactly
    // regs' flag set (a flag in `hashed` always lands ≥ 1 register row),
    // so deriving the grid from the pinned register table saves the
    // second corpus md5 pass the old `hashed.distinct` reference paid
    val regs = hashed.groupBy(col("l_returnflag"), col("bucket"))
      .agg(max(col("rho")).as("mj"))
      .transform(graft.Checkpoints.truncate)
    val grid = regs.select(col("l_returnflag")).distinct()
      .select(col("l_returnflag"),
        explode(expr(s"sequence(0, ${m - 1})")).as("bucket"))
    val agg = grid.join(regs, Seq("l_returnflag", "bucket"), "left")
      .withColumn("m0", coalesce(col("mj"), lit(0)))
      .groupBy(col("l_returnflag"))
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(32 - m0 AS INT))"))
        .as("harmonic_s"),
        sum(when(col("m0") === 0, 1L).otherwise(0L)).as("zero_registers"))
    val exact = Tables.lineitem(s, dir).groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    exact.join(agg, "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"), col("zero_registers"),
        col("harmonic_s"),
        expr(s"$alphaM2TwoP32 DIV harmonic_s DIV 1000000").as("hll_est"))
      .orderBy(col("l_returnflag"))
  }

  /** Bloom-filter membership sketch with PORTABLE md5-derived bit
    * positions — the runtime-filter primitive (a semi-join that costs 32
    * bytes instead of a shuffle): m = 256 bits as 8×32-bit words, k = 4
    * probes per key. The words build by `bit_or` aggregation (mergeable —
    * executors OR their partials, the classic broadcast runtime filter),
    * masks stay < 2³² so no sign-bit divergence between engines. Probing
    * every customer against the filter built from 'F'-status order keys
    * yields three VALUE columns DuckDB must reproduce bit-for-bit: the
    * hit verdict, the false-positive audit (hit ∧ ¬present — the rate a
    * filter designer sizes m·k against), and the no-false-negative
    * guarantee (hit ∨ ¬present — Bloom's defining invariant, an oracle
    * column rather than a unit assertion).
    *
    * Scale shape: build = one map-side-combined aggregate collapsing to 8
    * words (broadcast); probe = 4 narrow rows per probe key folded by one
    * aggregate; the only |keys|-bounded shuffle is the exact-membership
    * audit column — which is the join the filter exists to avoid at
    * 100 TB.
    */
  def bloomPortable(s: SparkSession, dir: String): DataFrame = {
    val k = 4
    val mBits = 256
    def posOf(r: String, key: String) = expr(
      s"CAST(conv(substring(md5(concat(CAST($r AS STRING), ':', " +
        s"CAST($key AS STRING))), 1, 8), 16, 10) AS BIGINT) % $mBits")
    val build = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey")).distinct()
    val words = build
      .select(col("o_custkey"), explode(expr(s"sequence(0, ${k - 1})")).as("i"))
      .withColumn("pos", posOf("i", "o_custkey"))
      .select(expr("pos DIV 32").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))
    val truly = build.withColumn("truly_present", lit(true))
      .withColumnRenamed("o_custkey", "b_custkey")
    Tables.customer(s, dir)
      .select(col("c_custkey"), explode(expr(s"sequence(0, ${k - 1})")).as("i"))
      .withColumn("pos", posOf("i", "c_custkey"))
      .withColumn("word", expr("pos DIV 32"))
      .withColumn("mask",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"))
      .join(broadcast(words), Seq("word"), "left")
      .withColumn("set",
        when(expr("bits & mask") =!= 0, 1L).otherwise(0L))
      .groupBy(col("c_custkey"))
      .agg(sum(col("set")).as("k_hits"))
      // deliberately NOT broadcast-hinted: the exact-membership audit is
      // |customers|-bounded — the join the filter replaces in production;
      // AQE picks broadcast at test SFs on its own
      .join(truly, col("c_custkey") === col("b_custkey"), "left")
      .select(col("c_custkey"), (col("k_hits") === k).as("bloom_hit"),
        coalesce(col("truly_present"), lit(false)).as("truly_present"))
      .withColumn("is_false_positive",
        col("bloom_hit") && !col("truly_present"))
      .withColumn("no_false_negative",
        col("bloom_hit") || !col("truly_present"))
      .orderBy(col("c_custkey"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_hll_portable" -> hllPortable,
    "agg_bloom_portable" -> bloomPortable,
    "agg_countmin_portable" -> countminPortable,
    "agg_weighted_percentile" -> weightedPercentile,
    "agg_heavy_hitters" -> heavyHitters,
    "agg_mode" -> modeAgg,
    "agg_collect_ordered" -> collectOrdered,
    "agg_hash_group" -> hashGroup,
    "agg_count_distinct" -> countDistinctAgg,
    "agg_rollup" -> rollupAgg,
    "agg_cube" -> cubeAgg,
    "agg_grouping_sets" -> groupingSetsAgg,
    "offset_watermark_agg" -> offsetWatermark,
    "agg_percentile" -> percentileAgg,
    "agg_stats_moments" -> statsMoments,
    "agg_quantile_portable" -> quantilePortable,
    "agg_kmv_distinct" -> kmvDistinct,
    "agg_kmv_setops" -> kmvSetops,
    "agg_argmax" -> argExtrema
  )

  val oracle: Map[String, String] = Map(
    "agg_quantile_portable" ->
      """WITH h AS (
        |  SELECT o_orderstatus, o_totalprice, o_orderkey,
        |         CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
        |              ::UBIGINT AS BIGINT) AS hv
        |  FROM orders),
        |samp AS (
        |  SELECT o_orderstatus, o_totalprice
        |  FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |                                     ORDER BY hv, o_orderkey) AS rn
        |        FROM h)
        |  WHERE rn <= 100),
        |g AS (
        |  SELECT o_orderstatus, count(*) AS n_sample,
        |         list_sort(list(o_totalprice)) AS vals
        |  FROM samp GROUP BY 1)
        |SELECT o_orderstatus, n_sample,
        |       vals[CAST((n_sample + 1) // 2 AS INT)] AS est_p50,
        |       vals[CAST((9 * n_sample + 9) // 10 AS INT)] AS est_p90
        |FROM g ORDER BY o_orderstatus""".stripMargin,
    "agg_hll_portable" ->
      """WITH h AS (
        |  SELECT l_returnflag,
        |         CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
        |              ::UBIGINT AS BIGINT) AS hv
        |  FROM lineitem),
        |b AS (SELECT l_returnflag, hv % 32 AS bucket, hv // 32 AS w FROM h),
        |r AS (
        |  SELECT l_returnflag, bucket,
        |         max(CASE WHEN w = 0 THEN 28
        |                  ELSE 28 - length(bin(w)) END) AS mj
        |  FROM b GROUP BY 1, 2),
        |grid AS (
        |  SELECT l_returnflag, i AS bucket
        |  FROM (SELECT DISTINCT l_returnflag FROM h) CROSS JOIN range(32) t(i)),
        |regs AS (
        |  SELECT grid.l_returnflag, grid.bucket, COALESCE(r.mj, 0) AS m0
        |  FROM grid LEFT JOIN r ON r.l_returnflag = grid.l_returnflag
        |                       AND r.bucket = grid.bucket),
        |agg AS (
        |  SELECT l_returnflag,
        |         CAST(sum(1::BIGINT << CAST(32 - m0 AS INT)) AS BIGINT)
        |           AS harmonic_s,
        |         CAST(sum(CASE WHEN m0 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS zero_registers
        |  FROM regs GROUP BY 1),
        |ex AS (
        |  SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT)
        |    AS n_exact
        |  FROM lineitem GROUP BY 1)
        |SELECT ex.l_returnflag, ex.n_exact, agg.zero_registers,
        |       agg.harmonic_s,
        |       CAST(697000::BIGINT * 1024 * 4294967296
        |            // harmonic_s // 1000000 AS BIGINT) AS hll_est
        |FROM ex JOIN agg USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,
    "agg_bloom_portable" ->
      """WITH build AS (
        |  SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |bw AS (
        |  SELECT o_custkey, i,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
        |              CAST(o_custkey AS VARCHAR)), 1, 8))::UBIGINT % 256
        |              AS BIGINT) AS pos
        |  FROM build CROSS JOIN range(4) t(i)),
        |words AS (
        |  SELECT pos // 32 AS word,
        |         CAST(bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS BIGINT)
        |           AS bits
        |  FROM bw GROUP BY 1),
        |pw AS (
        |  SELECT c_custkey, i,
        |         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
        |              CAST(c_custkey AS VARCHAR)), 1, 8))::UBIGINT % 256
        |              AS BIGINT) AS pos
        |  FROM customer CROSS JOIN range(4) t(i)),
        |hits AS (
        |  SELECT pw.c_custkey,
        |         CAST(sum(CASE WHEN (words.bits & (1::BIGINT <<
        |              CAST(pw.pos % 32 AS INT))) <> 0 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS k_hits
        |  FROM pw LEFT JOIN words ON words.word = pw.pos // 32
        |  GROUP BY 1)
        |SELECT h.c_custkey, h.k_hits = 4 AS bloom_hit,
        |       b.o_custkey IS NOT NULL AS truly_present,
        |       h.k_hits = 4 AND b.o_custkey IS NULL AS is_false_positive,
        |       h.k_hits = 4 OR b.o_custkey IS NULL AS no_false_negative
        |FROM hits h LEFT JOIN build b ON b.o_custkey = h.c_custkey
        |ORDER BY h.c_custkey""".stripMargin,
    "agg_countmin_portable" ->
      """WITH ev AS (SELECT user_id FROM events),
        |x AS (SELECT user_id, r FROM ev CROSS JOIN range(4) t(r)),
        |c AS (
        |  SELECT r,
        |         CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
        |              CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT % 32
        |              AS BIGINT) AS bucket,
        |         count(*) AS n
        |  FROM x GROUP BY 1, 2),
        |p AS (
        |  SELECT user_id, count(*) AS n_true FROM ev
        |  WHERE user_id % 5 = 0 GROUP BY 1),
        |px AS (
        |  SELECT p.user_id, p.n_true, t.r,
        |         CAST(('0x' || substr(md5(CAST(t.r AS VARCHAR) || ':' ||
        |              CAST(p.user_id AS VARCHAR)), 1, 8))::UBIGINT % 32
        |              AS BIGINT) AS bucket
        |  FROM p CROSS JOIN range(4) t(r)),
        |e AS (
        |  SELECT px.user_id, px.n_true, CAST(min(c.n) AS BIGINT) AS cm_est
        |  FROM px JOIN c ON c.r = px.r AND c.bucket = px.bucket
        |  GROUP BY 1, 2)
        |SELECT user_id, n_true, cm_est, cm_est >= n_true AS no_undercount
        |FROM e ORDER BY user_id""".stripMargin,
    "agg_weighted_percentile" ->
      """WITH g AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT *,
        |         sum(w) OVER (PARTITION BY l_returnflag
        |                      ORDER BY l_extendedprice) AS cum,
        |         sum(w) OVER (PARTITION BY l_returnflag) AS tw
        |  FROM g)
        |SELECT l_returnflag,
        |       min(CASE WHEN cum * 4 >= tw THEN l_extendedprice END) AS wp25,
        |       min(CASE WHEN cum * 2 >= tw THEN l_extendedprice END) AS wp50,
        |       min(CASE WHEN cum * 4 >= tw * 3 THEN l_extendedprice END)
        |         AS wp75,
        |       CAST(tw AS DOUBLE) AS total_weight
        |FROM c GROUP BY l_returnflag, tw ORDER BY l_returnflag""".stripMargin,
    "agg_heavy_hitters" ->
      """WITH t AS (SELECT count(*) AS total FROM events),
        |c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
        |SELECT c.user_id, c.n,
        |       CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
        |FROM c, t WHERE c.n * 1300 > t.total
        |ORDER BY n DESC, user_id""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY n DESC, o_orderpriority) AS rk,
        |         CAST(sum(n) OVER (PARTITION BY o_orderstatus) AS BIGINT)
        |           AS total
        |  FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_value,
        |       n AS n_mode, total,
        |       CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
        |FROM r WHERE rk = 1 ORDER BY o_orderstatus""".stripMargin,
    "agg_collect_ordered" ->
      """WITH r AS (
        |  SELECT c_nationkey, c_custkey,
        |         row_number() OVER (PARTITION BY c_nationkey
        |                            ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer)
        |SELECT c_nationkey,
        |       string_agg(CAST(c_custkey AS VARCHAR), ',' ORDER BY rk)
        |         AS top_custkeys,
        |       count(*) AS n_top
        |FROM r WHERE rk <= 3
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "agg_argmax" ->
      """SELECT n_name,
        |       arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT)
        |                         * 10000000 + c_custkey) AS top_customer,
        |       max(c_acctbal) AS max_acctbal,
        |       arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT)
        |                         * 10000000 + c_custkey) AS bottom_customer,
        |       min(c_acctbal) AS min_acctbal,
        |       count(*) AS n_cust
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "agg_hash_group" ->
      s"""SELECT l_returnflag, l_linestatus,
        |       $sumQty AS sum_qty, $sumPrice AS sum_base,
        |       $sumDisc AS sum_disc, count(*) AS n,
        |       $sumQty / count(*) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "agg_cube" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n, $sumQty AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n, $sumQty AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "offset_watermark_agg" ->
      """SELECT user_id, max(event_id) AS watermark_id,
        |       min(event_id) AS min_id, count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_percentile" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS qty_p50,
        |       quantile_cont(l_quantity, 0.9) AS qty_p90,
        |       quantile_cont(l_extendedprice, 0.25) AS price_p25
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Statistics from exact decimal moments, derived in the SAME double
    // expressions as the Spark side — bit-identical, unlike the engines'
    // built-in streaming var/corr implementations.
    // The sketch recomputed value-for-value: same md5-derived 32-bit
    // hashes, same kth minimum, same single IEEE division.
    "agg_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
        |v AS (
        |  SELECT l_returnflag,
        |         CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
        |              ::UBIGINT AS BIGINT) AS hv
        |  FROM h),
        |s AS (
        |  SELECT l_returnflag, list_sort(list(hv)) AS hs,
        |         count(*) AS n_exact
        |  FROM v GROUP BY l_returnflag)
        |SELECT l_returnflag, n_exact,
        |       hs[CAST(least(64, n_exact) AS INT)] AS kth_hash,
        |       CASE WHEN n_exact <= 64 THEN CAST(n_exact AS DOUBLE)
        |            WHEN hs[64] > 0 THEN 63 * 4294967296.0 / hs[64]
        |            ELSE NULL END AS kmv_estimate
        |FROM s ORDER BY l_returnflag""".stripMargin,
    // The sketch algebra replayed: identical md5 hashes, per-flag
    // bottom-64, pairwise merge via list_distinct + sort, and the same
    // union/Jaccard/intersection arithmetic over the merged bottom-k.
    "agg_kmv_setops" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
        |v AS (
        |  SELECT l_returnflag,
        |         CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8))
        |              ::UBIGINT AS BIGINT) AS hv
        |  FROM h),
        |s AS (
        |  SELECT l_returnflag, list_sort(list(hv))[:64] AS sk
        |  FROM v GROUP BY l_returnflag),
        |p AS (
        |  SELECT a.l_returnflag AS flag_a, b.l_returnflag AS flag_b,
        |         a.sk AS ska, b.sk AS skb
        |  FROM s a JOIN s b ON a.l_returnflag < b.l_returnflag),
        |c AS (
        |  SELECT flag_a, flag_b, ska, skb,
        |         list_sort(list_distinct(ska || skb)) AS merged,
        |         least(64, len(list_distinct(ska || skb))) AS kk
        |  FROM p),
        |f AS (
        |  SELECT flag_a, flag_b, merged[kk] AS kth,
        |         CASE WHEN len(merged) < 64 THEN CAST(len(merged) AS DOUBLE)
        |              WHEN merged[kk] > 0 THEN 63 * 4294967296.0 / merged[kk]
        |              ELSE NULL END AS union_est,
        |         CAST(len(list_filter(merged[:kk],
        |              x -> list_contains(ska, x) AND list_contains(skb, x)))
        |              AS DOUBLE) / kk AS jaccard_est
        |  FROM c)
        |SELECT flag_a, flag_b, kth, union_est, jaccard_est,
        |       jaccard_est * union_est AS inter_est
        |FROM f ORDER BY flag_a, flag_b""".stripMargin,
    "agg_stats_moments" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |                  CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS sy,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                  CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS sy2,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |                  CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |       sx / n AS mean_qty,
        |       CASE WHEN n > 1
        |            THEN (sx2 - sx * sx / n) / (n - 1) END AS var_qty,
        |       CASE WHEN n > 1
        |            THEN sqrt((sx2 - sx * sx / n) / (n - 1)) END AS std_qty,
        |       CASE WHEN n > 1 AND sx2 - sx * sx / n > 0
        |                      AND sy2 - sy * sy / n > 0
        |            THEN (sxy - sx * sy / n) /
        |              (sqrt(sx2 - sx * sx / n) * sqrt(sy2 - sy * sy / n))
        |       END AS corr_qty_price
        |FROM m ORDER BY l_returnflag""".stripMargin
  )
}
