package graft

import org.apache.spark.sql.functions._

import graft.operators.{SimOps, TextOps}

/** Round-16 additions: the LPA broadcast and shuffle dispatch forms,
  * the served Kneser-Ney perplexity twin, and the PQ/IVF-PQ ADC family.
  */
class Round16OpsSpec extends SparkSpec {

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
    // planted cliques (LPASCALE_r16's contract at 4,000 nodes): 200
    // cliques of 20 nodes, one bridge edge between neighbouring cliques.
    // From round 2 on, 18-19 intra votes beat ≤ 2 bridge votes, so both
    // forms must emit the min label of every clique, and modularity
    // must score that partition the same through broadcast and shuffled
    // label joins
    val (nCliques, size) = (200L, 20L)
    val intra = for {
      c <- 0L until nCliques; i <- 0L until size; j <- (i + 1) until size
    } yield (c * size + i, c * size + j)
    val bridges = (0L until nCliques - 1).map(c => (c * size, (c + 1) * size))
    val strong = (intra ++ bridges).toDF("a", "b")
    val sym = strong.select(col("a").as("u"), col("b").as("v"))
      .unionByName(strong.select(col("b").as("u"), col("a").as("v")))
    val nodes = (0L until nCliques * size).toDF("node")
    val planted = (0L until nCliques * size).map(v => v -> v / size * size)
      .toMap
    val byForm = Seq(true, false).map { bcast =>
      val lbl = GraphOps.lpaRounds(nodes, sym, rounds = 3,
        broadcastLabels = bcast)
      assert(lbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        === planted, s"broadcastLabels=$bcast")
      GraphOps.modularityOf(lbl, strong, broadcastLabels = bcast)
    }
    // Q from the exact per-community terms Σe_c/m − Σd_c²/(2m)²
    val m = (intra.size + bridges.size).toDouble
    def q(df: org.apache.spark.sql.DataFrame): Double = {
      val r = df.agg(count(lit(1)), sum(col("e_c")),
        sum(col("d_c") * col("d_c"))).collect()(0)
      assert(r.getLong(0) === nCliques)
      r.getLong(1) / m - r.getLong(2) / (4.0 * m * m)
    }
    val Seq(qBcast, qShuffle) = byForm.map(q)
    assert(qBcast === qShuffle)
    assert(qBcast > 0.9, s"planted-clique modularity $qBcast")
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
