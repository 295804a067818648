package graft

import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, SimOps}

/** Round-17 additions: the codegen'd PQ hot loops ([[graft.functions
  * .PqAdc]], [[graft.functions.PqEncode]] — the r16 verdict's top item:
  * the interpreted 8-lookup ADC sum lost to the codegen'd brute dot)
  * and the trained 8-bit codebook family (`llm_ann_pq8`): per-subspace
  * fixed-point k-means per Jégou et al. 2011's k* = 256 standard,
  * replayed value-for-value by the DuckDB oracle.
  */
class Round17OpsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("graft_pq_adc: the codegen'd lookup sum is bit-identical to the " +
    "interpreted HOF twin on both the 16-code and 256-code frames") {
    val spark = registeredSpark
    val cb4 = SimOps.pqCodebook(spark, sf0001)
    val cb8 = SimOps.pq8Codebook(spark, sf0001)
    for (cb <- Seq(cb4, cb8)) {
      val k = cb.head.size
      val lut = Tables.embeddings(spark, sf0001)
        .filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"),
          SimOps.pqLutCol(typedlit(cb), k).as("lut"))
      val codes = Tables.embeddings(spark, sf0001)
        .select(col("vec_id"),
          SimOps.pqCodesCol(typedlit(cb), k).as("codes"))
      val both = broadcast(lut).join(codes, col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          call_function("graft_pq_adc", col("lut"), col("codes"))
            .as("native"),
          SimOps.pqAdcColHof.as("hof"))
      assert(both.filter(col("native") =!= col("hof")).count() === 0L,
        s"ADC mismatch at K=$k")
      assert(both.count() === 20L * 499L)
    }
  }

  test("pq8Codebook: training moved the centroids, every cell stays " +
    "populated-or-inherited, and the shape is 8 x 256 x 8") {
    val cb0 = SimOps.pqCodebook(spark, sf0001) // untrained 16-code ref
    val cb8 = SimOps.pq8Codebook(spark, sf0001)
    assert(cb8.size === 8 && cb8.forall(_.size === 256) &&
      cb8.forall(_.forall(_.size === 8)))
    // the trained book must differ from its init (= raw slices of the
    // first 256 embeddings): k-means actually refined. Compare code 0
    // of subspace 0 against the raw slice (cb0's code 0 IS that slice).
    assert(cb8.head.head !== cb0.head.head,
      "k-means left code (0,0) at its raw init slice")
    assert(cb8.forall(_.forall(_.forall(v =>
      java.lang.Double.isFinite(v)))), "non-finite trained centroid")
  }

  test("pq8Encoded: the codegen'd PqEncode reproduces the interpreted " +
    "HOF argmin bit-for-bit at 256 codes") {
    val cb8 = SimOps.pq8Codebook(spark, sf0001)
    def codesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Long](r.fieldIndex("codes"))).toMap
    val native = codesOf(SimOps.pq8Encoded(spark, sf0001, cb8))
    val hof = codesOf(Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        SimOps.pqCodesCol(typedlit(cb8), 256).as("codes")))
    assert(native === hof)
  }

  test("annPq8Served: byte-identical to the inline trained-ADC twin " +
    "(persisted code artifact, different code path)") {
    assert(rows(SimOps.annPq8Served(spark, sf0001)) ===
      rows(SimOps.annPq8(spark, sf0001)))
  }

  test("annPq8: the trained 256-code book lifts iid recall@5 over the " +
    "frozen 16-code book on the shipped fixture") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(SimOps.simTopk(spark, sf0001))
    def recall(m: Map[Long, Set[Long]]): Double = brute.keys.toSeq.map {
      q => (brute(q) & m.getOrElse(q, Set.empty)).size.toDouble /
        brute(q).size
    }.sum / brute.size
    val r4 = recall(topSets(SimOps.annPq(spark, sf0001)))
    val r8 = recall(topSets(SimOps.annPq8(spark, sf0001)))
    assert(r8 > r4,
      s"trained 256-code recall $r8 did not beat frozen 16-code $r4")
  }

  test("annFuseRrfServed: reproduces a driver-side RRF of its two " +
    "served arms' own outputs (exact integer contributions, tie law)") {
    def arm(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.select("q_id", "rnk", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val srp = arm(SimOps.annSrpServed(spark, sf0001))
    val pq = arm(SimOps.annPqServed(spark, sf0001))
    val expected = (srp ++ pq)
      .map { case (q, rnk, id) =>
        ((q, id), Math.round(1000000.0 / (60 + rnk))) }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      .map { case ((q, id), s) => (q, id, s) }
      .groupBy(_._1).toSeq.flatMap { case (q, rowsQ) =>
        rowsQ.sortBy { case (_, id, s) => (-s, id) }.take(10).zipWithIndex
          .map { case ((_, id, s), i) => (q, i + 1, id, s) }
      }.sortBy(t => (t._1, t._2))
    val got = SimOps.annFuseRrfServed(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected)
  }

  test("annIvfPqScaled: exhaustive probes reproduce annPq8 exactly " +
    "(same candidates, same integer ADC, same tie law)") {
    val cb8 = SimOps.pq8Codebook(spark, sf0001)
    val encoded = SimOps.pq8Encoded(spark, sf0001, cb8)
    val cells = SimOps.scaledCells(500) // = 32 on the shipped fixture
    val assigned = SimOps.annIvfPqScaled(spark, sf0001, encoded, cells,
      coarseProbes = cells)
    // probes = cells and coarseProbes = nPivots: every cell is probed,
    // every vector sits in exactly one cell -> the scan IS annPq8's
    val got = rows(SimOps.annIvfPqScaledQuery(spark, sf0001, assigned,
      cb8, cells, probes = cells, coarseProbes = cells))
    assert(got === rows(SimOps.annPq8(spark, sf0001)))
  }

  test("annIvfPqScaled: bounded probes emit ADC-consistent rankings " +
    "with candidates confined to probed cells") {
    val cb8 = SimOps.pq8Codebook(spark, sf0001)
    val encoded = SimOps.pq8Encoded(spark, sf0001, cb8)
    val assigned = SimOps.annIvfPqScaled(spark, sf0001, encoded, 32)
    val bounded = SimOps.annIvfPqScaledQuery(spark, sf0001, assigned,
      cb8, 32, probes = 4).collect()
    // 20 queries, each with up to 5 ranked rows, rnk dense from 1
    val byQ = bounded.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 20L).toSet)
    byQ.values.foreach { rs =>
      val ranks = rs.map(_.getInt(1)).sorted.toSeq
      assert(ranks === (1 to rs.length))
      // adc_micro non-decreasing in rank
      val byRank = rs.sortBy(_.getInt(1)).map(_.getLong(3)).toSeq
      assert(byRank === byRank.sorted)
    }
  }

  test("annIvfPqScaledRerank: exhaustive probes reproduce annPqRerank " +
    "under the trained book (same shortlist, same exact re-rank)") {
    val cb8 = SimOps.pq8Codebook(spark, sf0001)
    val encoded = SimOps.pq8Encoded(spark, sf0001, cb8)
    val assigned = SimOps.annIvfPqScaled(spark, sf0001, encoded, 32,
      coarseProbes = 32)
    // both shortlists are 50 deep; the re-rank is the one exact tail
    val got = rows(SimOps.exactCosineRerank(spark, sf0001,
      SimOps.annIvfPqScaledQuery(spark, sf0001, assigned, cb8, 32,
        probes = 32, coarseProbes = 32, topK = 50)))
    assert(got === rows(SimOps.exactCosineRerank(spark, sf0001,
      SimOps.annPqOnCb(spark, sf0001, encoded, cb8, topK = 50))))
  }

  test("lpa dispatch bar: the broadcast payload of a bar-sized label " +
    "frame is measured, giving the 1M constant a stated basis") {
    // Build the EXACT frame shape lpaRounds broadcasts per round — a
    // (v, lbl) long-pair frame at lpaBroadcastMaxNodes rows — drive it
    // through a broadcast hash join, and read the TRUE serialized
    // payload from the BroadcastExchange's own dataSize metric (what
    // every executor must hold per round in the multi-executor regime
    // the dispatch protects; on one host broadcast ≈ shuffle in wall —
    // LPASCALE_r16 — which is why the bar needed a byte basis, not a
    // wall basis).
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val n = GraphOps.lpaBroadcastMaxNodes
    // AQE wraps the exchange inside opaque query stages; disable it for
    // the probe so the metric is reachable on the executed plan
    val aqeKey = "spark.sql.adaptive.enabled"
    val prevAqe = spark.conf.get(aqeKey)
    spark.conf.set(aqeKey, "false")
    val exchanges = try {
      val labelFrame = spark.range(n)
        .select(col("id").as("v"), col("id").as("lbl"))
      val probe = spark.range(16).select(col("id").as("v"))
      val joined = probe.join(broadcast(labelFrame), "v")
      joined.collect()
      joined.queryExecution.executedPlan.collect {
        case b: BroadcastExchangeExec => b
      }
    } finally spark.conf.set(aqeKey, prevAqe)
    assert(exchanges.nonEmpty, "no BroadcastExchange in the probe plan")
    val bytes = exchanges.head.metrics("dataSize").value
    info(s"lpa broadcast payload at the $n-node bar: $bytes bytes " +
      f"(${bytes / 1024.0 / 1024.0}%.1f MiB per executor per round)")
    // sanity band: 2 longs/row plus hashed-relation overhead — the bar
    // payload must sit in the tens of MiB (per executor, per round,
    // times pipelined rounds), which is the executor-memory reasoning
    // the 1M constant encodes
    assert(bytes > 16L * n / 2 && bytes < 512L * 1024 * 1024,
      s"unexpected payload $bytes for $n rows")
  }
}
