package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Round-19 optimization pins: the native-TopKPerGroup ranking tail
  * that replaced the typed bounded-heap aggregator across the ANN
  * family, the struct-min LPA vote that replaced the row_number window
  * (inherited CC/LPA loop-fuse commit), the Observation-riding CC
  * convergence count, and the Tables session-scoped frame memo.
  */
class Round19OpsSpec extends SparkSpec {

  /** The exact comparator contract the r19 rankTopK swap rides: the
    * native bounded-heap operator + a rank window over its output must
    * reproduce the plain window top-k
    * (`row_number() over (partition by q_id order by score desc,
    * vec_id asc) <= k`) row-for-row on a frame engineered with exact
    * score TIES (id tiebreak), NaN scores (NaN ranks greatest and
    * equal) — also NaNs that arrive at a full heap — and groups
    * smaller than k.
    */
  test("TopKPerGroup + rank window reproduces the row_number window " +
    "top-k on ties, NaNs and short groups") {
    import spark.implicits._
    val rows = Seq(
      // q 1: exact ties at 2.0 — ids 12 < 15 must win the boundary
      (1L, 10L, 3.0), (1L, 12L, 2.0), (1L, 15L, 2.0), (1L, 11L, 2.0),
      (1L, 20L, 1.0), (1L, 21L, 5.0), (1L, 22L, 0.5),
      // q 2: NaN scores rank greatest, tie between the two NaNs on id
      (2L, 31L, Double.NaN), (2L, 30L, Double.NaN), (2L, 32L, 9.0),
      (2L, 33L, 8.0), (2L, 34L, 7.0), (2L, 35L, 6.0),
      // q 3: fewer rows than k
      (3L, 40L, 1.0), (3L, 41L, 2.0),
      // q 4: k finite scores fill the heap before the NaNs arrive, which
      // must still displace its two weakest entries
      (4L, 50L, 1.0), (4L, 51L, 2.0), (4L, 52L, 3.0), (4L, 53L, 4.0),
      (4L, 54L, 5.0), (4L, 61L, Double.NaN), (4L, 60L, Double.NaN))
    val df = rows.toDF("q_id", "vec_id", "score")
    val k = 5
    def ranked(in: org.apache.spark.sql.DataFrame, descending: Boolean) = {
      val ord = if (descending) col("score").desc else col("score").asc
      in.withColumn("rnk", row_number().over(
          Window.partitionBy(col("q_id")).orderBy(ord, col("vec_id").asc)))
        .select(col("q_id"), col("rnk"),
          col("vec_id").as("neighbor_id"), col("score"))
    }
    // the reference: the window over the whole frame, cut at k
    def reference(in: org.apache.spark.sql.DataFrame, descending: Boolean) =
      ranked(in, descending).filter(col("rnk") <= k)
        .orderBy(col("q_id"), col("rnk")).collect().toSeq.map(_.toSeq)
    // the r19 form: native heap + rank window (the rankTopK shape)
    def native(in: org.apache.spark.sql.DataFrame, descending: Boolean) =
      ranked(graft.plans.TopKPerGroup(in, Seq("q_id"), "score",
          descending, "vec_id", k), descending)
        .orderBy(col("q_id"), col("rnk")).collect().toSeq.map(_.toSeq)
    val a = reference(df, descending = true)
    assert(a.size == 17)
    // the boundary ties and the NaN pair resolve on the id, ascending
    assert(a.filter(_(0) == 1L).map(_(2)) == Seq(21L, 10L, 11L, 12L, 15L))
    assert(a.filter(_(0) == 2L).map(_(2)) == Seq(30L, 31L, 32L, 33L, 34L))
    assert(a.filter(_(0) == 4L).map(_(2)) == Seq(60L, 61L, 54L, 53L, 52L))
    // NaN == NaN under toSeq equality? compare via string forms to keep
    // NaN rows comparable. One partition keeps the rows' arrival order,
    // so q 4's NaNs reach the heap only after it is full.
    Seq(df, df.coalesce(1)).foreach { in =>
      assert(a.map(_.toString) ==
        native(in, descending = true).map(_.toString))
    }
    // ascending-score twin (the integer-ADC orientation) — the engine's
    // ascending scores are integer ADC/RRF micros, NaN-free, so the
    // twin runs on the NaN-free slice of the fixture
    val dfNum = df.filter(!isnan(col("score")))
    assert(reference(dfNum, descending = false) ==
      native(dfNum, descending = false))
  }

  /** The inherited loop-fuse commit's LPA vote: a lexicographic
    * struct-min groupBy replaced the row_number window. Pin the two
    * value-identical on a crafted census with vote-count ties (smaller
    * label must win) across both dispatch regimes.
    */
  test("LPA struct-min vote == row_number window vote on tie-heavy " +
    "census, both dispatch regimes") {
    import spark.implicits._
    // triangle 0-1-2 plus pendant 3: node 0's neighbors {1,2,3} vote
    // three distinct labels once each — pure tie, smallest label wins
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (0L, 3L))
      .toDF("src", "dst")
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(edges.select(col("dst").as("u"), col("src").as("v")))
    for (bcast <- Seq(true, false)) {
      val got = graft.operators.GraphOps
        .lpaRounds(nodes, sym, rounds = 3, broadcastLabels = bcast)
        .orderBy(col("node")).collect().toSeq.map(_.toSeq)
      // reference: the r18 window form, recomputed inline
      var lbl = nodes.withColumn("lbl", col("node"))
      for (_ <- 1 to 3) {
        val votes = sym.join(
          lbl.select(col("node").as("v"), col("lbl")), "v")
          .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("u"))
          .orderBy(col("cnt").desc, col("lbl"))
        val winner = votes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("u").as("node"), col("lbl").as("new_lbl"))
        lbl = lbl.join(winner, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("new_lbl"), col("lbl")).as("lbl"))
      }
      val want = lbl.orderBy(col("node")).collect().toSeq.map(_.toSeq)
      assert(got == want, s"broadcastLabels=$bcast")
    }
  }

  /** The Observation-riding convergence count (inherited commit): the
    * fused CC loop's labels must equal a plain recomputation — min
    * label over each connected component — on a graph needing several
    * rounds (a path, worst case for min-propagation).
    */
  test("fused CC loop converges to per-component min labels on a path " +
    "graph") {
    import spark.implicits._
    // path 10-11-...-17 (one component) plus isolated pair 30-31
    val pairs = ((10L to 16L).map(i => (i, i + 1)) :+ (30L, 31L))
      .toDF("doc_a", "doc_b")
    val got = graft.operators.DedupOps.clustersFromEdges(pairs)
      .orderBy(col("doc_id")).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = ((10L to 17L).map(i => (i, 10L)) ++
      Seq((30L, 30L), (31L, 30L))).sortBy(_._1)
    assert(got == want)
  }

  /** Tables frame memo: same session + same fixture returns the SAME
    * resolved handle (no re-resolution job), and a REGENERATED fixture
    * at the same path re-reads — the fingerprint (parts, mtime, bytes)
    * must not serve stale metadata or rows.
    */
  test("Tables.t memoizes per (session, fixture) and invalidates on " +
    "regeneration") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tmemo")
      .toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/things.parquet")
    val first = Tables.t(spark, dir, "things")
    val second = Tables.t(spark, dir, "things")
    assert(first eq second, "same fixture must return the memoized handle")
    assert(first.count() == 2)
    // regenerate with different contents (and different byte size)
    Thread.sleep(5)
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "dddddddd")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/things.parquet")
    val third = Tables.t(spark, dir, "things")
    assert(third.count() == 4,
      "regenerated fixture must re-resolve, not serve the stale handle")
  }
}
