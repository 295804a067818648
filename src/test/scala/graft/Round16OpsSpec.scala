package graft

import org.apache.spark.sql.functions._

import graft.operators.{SimOps, TextOps}

/** Round-16 additions: the recall-aware quality bar behind
  * [[SimOps.annSrpAdaptive]] — the r15 count-only trigger never fired on
  * dense corpora exactly where recall was starved (SRPPROBE_r15:
  * adaptive iid recall@5 = 0.03 ≡ radius 0 while fixed radius 2 reached
  * 0.55), so the stopping rule now also requires the kth-best cosine to
  * clear the per-radius SRP collision-probability bar.
  */
class Round16OpsSpec extends SparkSpec {

  test("srpQualityBar: closed-form anchor, solver roundtrip, and " +
    "monotone relaxation across radii / tightening across bits") {
    // closed-form anchor: one band of two planes at radius 0 collides
    // with probability (1−x)², so floor 0.25 ⇒ x = 1/2 ⇒ τ = cos(π/2)=0
    assert(math.abs(SimOps.srpQualityBar(2, 1, 0, 0.25)) < 1e-12)
    // roundtrip: the solver's θ* must reproduce the floor it solved for
    for (bits <- Seq(4, 8, 13); bands <- Seq(1, 4); r <- 0 to 2;
        floor <- Seq(0.25, 0.5, 0.9)) {
      val tau = SimOps.srpQualityBar(bits, bands, r, floor)
      val x = math.acos(tau) / math.Pi
      def choose(n: Int, i: Int): Double =
        (0 until i).map(j => (n - j).toDouble / (j + 1)).product
      val q = (0 to r).map(i => choose(bits, i) * math.pow(x, i) *
        math.pow(1 - x, bits - i)).sum
      val p = 1 - math.pow(1 - q, bands)
      assert(math.abs(p - floor) < 1e-9,
        s"bits=$bits bands=$bands r=$r floor=$floor: P(τ)=$p")
    }
    // a wider probe certifies the same floor at a LOWER similarity;
    // more planes per band tighten the bar (fewer accidental collisions)
    val t = (0 to 2).map(SimOps.srpQualityBar(13, 4, _))
    assert(t(0) > t(1) && t(1) > t(2), s"radii bars not decreasing: $t")
    assert(SimOps.srpQualityBar(13, 4, 0) > SimOps.srpQualityBar(6, 4, 0)
      && SimOps.srpQualityBar(6, 4, 0) > SimOps.srpQualityBar(4, 4, 0))
    // the default floor separates the measured regimes: bits-4-floor
    // buckets stop on iid noise (~0.3 kth), bits-13 (1M vectors) demand
    // near-dup-level evidence
    assert(SimOps.srpQualityBar(4, 4, 0) < 0.1)
    assert(SimOps.srpQualityBar(13, 4, 0) > 0.8)
    // floor ≤ 0 disables the bar — the legacy count-only law
    assert(SimOps.srpQualityBar(13, 4, 0, 0.0).isNegInfinity)
  }

  test("annSrpAdaptive quality law: near-dup-saturated queries stop at " +
    "radius 0, count-satisfied-but-starved iid queries escalate to the " +
    "cap, every query matching its stopping radius's multi-probe rows") {
    import spark.implicits._
    // 32 iid 64-dim vectors (the starved population) + a 6-member
    // near-dup cluster (pairwise cosine ≈ 0.9999 ≫ τ₀ = 0.878 at
    // bits = 4 / bands = 1). Deterministic by seed: the gaussian stream
    // below must match the tuning run that picked this configuration.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_adapt_q").toString
    val rnd = new scala.util.Random(16)
    val iid = (0L until 32L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat), (i % 10).toInt))
    val center = Array.fill(64)(rnd.nextGaussian().toFloat)
    val cluster = (100L until 106L).map(i =>
      (i, center.map(x => x + (rnd.nextGaussian() * 0.01).toFloat), 0))
    (iid ++ cluster).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val (bits, bands, k) = (4, 1, 5)
    val qp = col("vec_id") < 8 || col("vec_id") >= 100L
    // recompute the law from the fixed-radius results: stop at the first
    // radius whose top-k holds ≥ k rows AND whose kth cosine clears that
    // radius's bar; the cap emits regardless
    val byRadius = (0 to 2).map { r =>
      r -> SimOps.annSrpMultiProbe(spark, dir, bits, bands, r, qp)
        .collect()
        .map(row => (row.getLong(0), row.getInt(1), row.getLong(2),
          row.getDouble(3)))
        .groupBy(_._1)
    }.toMap
    val qs = (0L until 8L) ++ (100L until 106L)
    def lawRadii(floor: Double): Map[Long, Int] = {
      val got = SimOps.annSrpAdaptive(spark, dir, bits, bands, k, qp,
          recallFloor = floor).collect()
        .map(row => (row.getLong(0), row.getInt(1), row.getLong(2),
          row.getAs[Int]("probe_radius")))
      val expected = qs.flatMap { q =>
        val r = (0 to 2).find { r =>
          val rows = byRadius(r).getOrElse(q, Array.empty)
          rows.length >= k && rows.find(_._2 == k).exists(
            _._4 >= SimOps.srpQualityBar(bits, bands, r, floor))
        }.getOrElse(2)
        byRadius(r).getOrElse(q, Array.empty[(Long, Int, Long, Double)])
          .map { case (qq, rnk, nb, _) => (qq, rnk, nb, r) }
      }.sortBy(t => (t._1, t._2))
      assert(got.toSeq === expected, s"floor=$floor")
      got.map(t => (t._1, t._4)).toMap
    }
    // DEFAULT floor (the production policy): every cluster member's
    // top-5 is its 5 cluster-mates at ≈ 0.9999 ≫ τ₀ = 0.605 — satisfied
    // at radius 0 (the dense regime still pays one bucket); the starved
    // iid population escalates PAST radius 0 even where count-satisfied
    // (no iid kth clears τ₀) — precisely the row the r15 count trigger
    // got wrong. At bands = 1 the default τ₁ is −0.14, so count-filled
    // radius-1 lists legitimately stop there.
    val defRadii = lawRadii(SimOps.srpDefaultRecallFloor)
    (100L until 106L).foreach(q => assert(defRadii(q) === 0, s"q=$q"))
    (0L until 8L).foreach(q => assert(defRadii(q) >= 1, s"q=$q"))
    // and at a strict floor (0.6 ⇒ τ₀ = 0.93, τ₁ = 0.51) iid noise can
    // clear no bar: every iid query rides to the cap and emits what it
    // has, while the cluster still stops at radius 0
    val strict = lawRadii(0.6)
    (100L until 106L).foreach(q => assert(strict(q) === 0, s"q=$q"))
    (0L until 8L).foreach(q => assert(strict(q) === 2, s"q=$q"))
    // and at least one capped query was COUNT-satisfied at radius 0 —
    // the exact configuration where count-only law wrongly stopped
    assert((0L until 8L).exists(q =>
      byRadius(0).getOrElse(q, Array.empty).length >= k))
  }

  test("lpaRounds: broadcast and shuffle dispatch forms emit identical " +
    "labels on random graphs (the dispatch may only change the plan)") {
    import spark.implicits._
    import graft.operators.GraphOps
    val rnd = new scala.util.Random(61)
    (1 to 8).foreach { trial =>
      val n = 3 + rnd.nextInt(30)
      val m = 1 + rnd.nextInt(50)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val strong = edges.toDF("a", "b")
      val sym = strong.select(col("a").as("u"), col("b").as("v"))
        .unionByName(strong.select(col("b").as("u"), col("a").as("v")))
      val nodes = (0L until n.toLong).toDF("node")
      def labels(bcast: Boolean): Map[Long, Long] =
        GraphOps.lpaRounds(nodes, sym, rounds = 3, broadcastLabels = bcast)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels(bcast = true) === labels(bcast = false),
        s"trial $trial")
    }
  }

  test("perplexityKnServed: byte-identical to the inline KN twin " +
    "(persisted four-table model, different code path)") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    assert(rows(TextOps.perplexityKnServed(spark, sf0001)) ===
      rows(TextOps.perplexityKn(spark, sf0001)))
  }

  test("annPq: ADC results replay a driver-side PQ recompute exactly " +
    "(codebook, codes, LUT sums, tie order)") {
    import spark.implicits._
    val cb = SimOps.pqCodebook(spark, sf0001)
    assert(cb.size === 8 && cb.forall(_.size === 16) &&
      cb.forall(_.forall(_.size === 8)))
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    def distMicro(v: Seq[Float], m: Int, k: Int): Long = {
      var acc = 0.0
      var i = 0
      while (i < 8) {
        val d = v(m * 8 + i).toDouble - cb(m)(k)(i)
        acc += d * d
        i += 1
      }
      math.round(acc * 1e6)
    }
    def codesOf(v: Seq[Float]): Seq[Int] = (0 until 8).map { m =>
      // strict < fold = first minimum = smallest k on ties
      (0 until 16).minBy(k => (distMicro(v, m, k), k))
    }
    val codes = emb.map { case (id, v) => id -> codesOf(v) }.toMap
    val expected = emb.filter(_._1 < 20).flatMap { case (qId, qv) =>
      val adc = emb.filter(_._1 != qId).map { case (id, _) =>
        (id, (0 until 8).map(m => distMicro(qv, m, codes(id)(m))).sum)
      }
      adc.sortBy { case (id, d) => (d, id) }.take(5).zipWithIndex
        .map { case ((id, d), i) => (qId, i + 1, id, d) }
    }.sortBy(t => (t._1, t._2))
    val got = SimOps.annPq(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected)
  }

  test("pqEncoded: the compiled fast path reproduces the expression " +
    "form's codes bit-for-bit") {
    def codesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Long](r.fieldIndex("codes"))).toMap
    val reference = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), SimOps.pqCodesCol(
        typedlit(SimOps.pqCodebook(spark, sf0001))).as("codes"))
    assert(codesOf(SimOps.pqEncoded(spark, sf0001)) === codesOf(reference))
  }

  test("annIvfPq: exhaustive probes (all 32 cells) reproduce annPq " +
    "exactly; bounded probes emit a valid ADC-ranked subset") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(rows(SimOps.annIvfPq(spark, sf0001, probes = 32)) ===
      rows(SimOps.annPq(spark, sf0001)))
    // bounded probes: every emitted (q, neighbor, adc) also appears in
    // the exhaustive ADC ranking with the SAME adc value, and per-query
    // rows stay (adc asc, id asc)-ordered
    val full = rows(SimOps.annIvfPq(spark, sf0001, probes = 32))
      .map(t => (t._1, t._3) -> t._4).toMap
    val bounded = rows(SimOps.annIvfPq(spark, sf0001, probes = 4))
    bounded.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(t => (t._4, t._3)) ===
        sorted.map(t => (t._4, t._3)).sorted, s"q=$q not adc-ordered")
      sorted.foreach { case (qq, _, nb, adc) =>
        full.get((qq, nb)).foreach(fullAdc =>
          assert(fullAdc === adc, s"adc mismatch q=$qq nb=$nb"))
      }
    }
  }

  test("annPq degenerate corpora: a 16-vector corpus (codebook = the " +
    "whole corpus) works; fewer vectors fail loudly, not wrongly") {
    import spark.implicits._
    val rnd = new scala.util.Random(163)
    def fixture(n: Int): String = {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_pq_$n").toString
      (0L until n.toLong)
        .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat),
          (i % 10).toInt))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    val ok = SimOps.annPq(spark, fixture(16)).collect()
    // 16 queries (vec_id < 20 admits all), each ranking the other 15
    assert(ok.map(_.getLong(0)).distinct.length === 16)
    assert(ok.forall(_.getInt(1) <= 5))
    val e = intercept[IllegalArgumentException] {
      SimOps.annPq(spark, fixture(10)).collect()
    }
    assert(e.getMessage.contains("PQ codebook"))
  }

  test("annPqServed: byte-identical to the inline ADC twin (persisted " +
    "code artifact, different code path)") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq)
    assert(rows(SimOps.annPqServed(spark, sf0001)) ===
      rows(SimOps.annPq(spark, sf0001)))
  }

  test("annFuseRrf: fused scores replay the RRF law over the two arms' " +
    "actual rankings (contribution sums, top-10 tie order)") {
    def arm(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq
    val arms = arm(SimOps.simTopk(spark, sf0001)) ++
      arm(SimOps.annPq(spark, sf0001))
    val expected = arms
      .groupBy(t => (t._1, t._3))
      .map { case ((q, d), rs) =>
        (q, d, rs.map(t => math.round(1000000.0 / (60 + t._2))).sum)
      }.toSeq
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy { case (_, d, s) => (-s, d) }.take(10).zipWithIndex
          .map { case ((q, d, sc), i) => (q, i + 1, d, sc) }
      }.sortBy(t => (t._1, t._2))
    val got = SimOps.annFuseRrf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected)
    // both arms genuinely contribute: at least one fused pair carries a
    // two-arm sum (> the max single-arm contribution of 1e6/61)
    assert(got.exists(_._4 > 16393L))
  }

  test("annPqRerank: exact re-rank of the ADC shortlist lifts recall@5 " +
    "vs brute-force cosine to >= pure ADC's") {
    def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = topSets(SimOps.simTopk(spark, sf0001))
    def recall(m: Map[Long, Set[Long]]): Double = brute.keys.toSeq.map {
      q => (brute(q) & m.getOrElse(q, Set.empty)).size.toDouble /
        brute(q).size
    }.sum / brute.size
    // ADC ranks by approximate L2 while brute ranks by cosine, so pure
    // ADC recall is modest by construction; the exact-cosine re-rank of
    // a 50-deep shortlist must dominate it
    val rAdc = recall(topSets(SimOps.annPq(spark, sf0001)))
    val rRerank = recall(topSets(SimOps.exactCosineRerank(spark, sf0001,
      SimOps.annPqOnCb(spark, sf0001, SimOps.pqEncoded(spark, sf0001),
        SimOps.pqCodebook(spark, sf0001), topK = 50))))
    assert(rRerank >= rAdc, s"rerank $rRerank < adc $rAdc")
    assert(rRerank >= 0.3, s"rerank recall $rRerank implausibly low")
  }
}
