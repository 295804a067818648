package graft

import org.apache.spark.sql.functions._

import graft.operators.SimOps

/** Round-18 additions: typed analysis errors on the user-callable PQ
  * expressions, content-based canonicalization of the encode's codebook
  * constant, the LUT-ships-once scaled-query plan, and the residual
  * IVFADC family (this file grows with the round).
  */
class Round18OpsSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("graft_pq_adc: mistyped lut/codes fail ANALYSIS with a typed " +
    "message instead of returning silently wrong getLong reinterpreted " +
    "sums") {
    val spark = registeredSpark
    import spark.implicits._
    val df = Seq((Seq(Seq(1, 2)), Seq(0))).toDF("lut", "codes")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(call_function("graft_pq_adc", col("lut"), col("codes")))
        .collect()
    }
    assert(err.getMessage.contains("graft_pq_adc requires"))
    // string lut — also analysis-rejected
    val df2 = Seq(("x", Seq(0L))).toDF("lut", "codes")
    intercept[org.apache.spark.sql.AnalysisException] {
      df2.select(call_function("graft_pq_adc", col("lut"), col("codes")))
        .collect()
    }
  }

  test("graft_pq_encode: non-array embedding fails ANALYSIS (not a raw " +
    "ClassCastException) and a mistyped codebook literal is rejected " +
    "with a typed message") {
    val spark = registeredSpark
    import spark.implicits._
    val cbOk = typedlit(Seq(Seq(Seq(0.0, 0.0))))
    val bad = Seq(("hello", Seq(0.5f, 0.5f))).toDF("s", "emb")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(call_function("graft_pq_encode", col("s"), cbOk))
        .collect()
    }
    assert(err.getMessage.contains("graft_pq_encode requires"))
    // integer embedding array — rejected too
    val badInt = Seq((Seq(1, 2), 0)).toDF("emb", "x")
    intercept[org.apache.spark.sql.AnalysisException] {
      badInt.select(call_function("graft_pq_encode", col("emb"), cbOk))
        .collect()
    }
    // mistyped codebook literal (2-level instead of 3-level nesting)
    val ok = Seq(Tuple1(Seq(0.5f, 0.5f))).toDF("emb")
    val cbBad = typedlit(Seq(Seq(0.0, 0.0)))
    val thrown = intercept[Throwable] {
      ok.select(call_function("graft_pq_encode", col("emb"), cbBad))
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(causes)
    assert(causes(thrown).exists(
        _.getMessage != null) && causes(thrown).exists(c =>
        Option(c.getMessage).exists(_.contains(
          "codebook must be array<array<array<double>>>"))),
      s"wanted the typed codebook message, got: $thrown")
  }

  test("PqEncode: two instances built from EQUAL codebook contents are " +
    "equal and semantically equal, so canonicalization / CSE can dedupe " +
    "the encode (raw-array identity equality broke this)") {
    import graft.functions.PqEncode
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types._
    def cb() = Array.tabulate(2, 3, 2)((m, k, i) =>
      m * 100.0 + k * 10.0 + i)
    val child = BoundReference(0, ArrayType(FloatType), nullable = true)
    val a = PqEncode(child, cb())
    val b = PqEncode(child, cb())
    assert(a === b)
    assert(a.hashCode === b.hashCode)
    assert(a.semanticEquals(b))
    // and different contents stay different
    val other = cb(); other(1)(2)(1) += 1.0
    assert(a !== PqEncode(child, other))
  }

  test("annIvfPqScaledQuery: the LUT-ships-once plan (probe frame + " +
    "per-query LUT frame joined on q_id) is value-identical to annPq8 " +
    "at exhaustive probes — the spec-pinned identity survives the " +
    "payload restructuring") {
    val cb8 = SimOps.pq8Codebook(spark, sf0001)
    val encoded = SimOps.pq8Encoded(spark, sf0001, cb8)
    val cells = SimOps.scaledCells(500)
    val assigned = SimOps.annIvfPqScaled(spark, sf0001, encoded, cb8,
      cells, coarseProbes = cells)
    val got = rows(SimOps.annIvfPqScaledQuery(spark, sf0001, assigned,
      cb8, cells, probes = cells, coarseProbes = cells))
    assert(got === rows(SimOps.annPq8(spark, sf0001)))
  }

  test("stratified training stride: 1 on every oracle fixture (the old " +
    "prefix sample), corpus-spanning past the bound — and the " +
    "stride-1 override IS the shipped fixture book") {
    assert(SimOps.pqTrainStride(500) === 1L)
    assert(SimOps.pqTrainStride(2048) === 1L)
    assert(SimOps.pqTrainStride(1000000) === 488L)
    assert(SimOps.pqTrainStride(10000000) === 4882L)
    assert(SimOps.pq8CodebookWith(spark, sf0001, 1L) ===
      SimOps.pq8Codebook(spark, sf0001))
  }

  test("compiled centroid census: per-partition long micro-sums + the " +
    "tiny finishing aggregate reproduce the expression census " +
    "BIT-EXACTLY (same HALF_UP quantum, same integer sums, same " +
    "division) over the flat-argmax assignment") {
    val assigned = SimOps.annIvfPqrAssigned(spark, sf0001,
      SimOps.pqrCells, coarseProbes = SimOps.pqrCells)
    val compiled = SimOps.scaledCents(spark, assigned)
    val expr = SimOps.pqrCentroids(spark, sf0001)
    assert(compiled.keySet === expr.keySet)
    compiled.foreach { case (c, v) =>
      assert(v.toSeq === expr(c).toSeq, s"cell $c centroid diverged")
    }
  }

  test("residual IVFADC: the compiled scaled build (two-level walk at " +
    "exhaustive coarse probes, centroid census over ITS assignment, " +
    "compiled centroid subtraction + codegen'd encode) emits EXACTLY " +
    "the expression form's (cell, vec_id, codes) — flat argmax, " +
    "zip_with centroid residual, PqEncode") {
    val centsFlat = SimOps.pqrCentroids(spark, sf0001)
    val cb = SimOps.pqrCodebook(spark, sf0001,
      centsOverride = Some(centsFlat))
    val expr = SimOps.pqrEncoded(spark, sf0001, cb, centsFlat)
      .select(col("cell"), col("vec_id"), col("codes"))
      .orderBy(col("vec_id"))
    val assigned = SimOps.annIvfPqrAssigned(spark, sf0001,
      SimOps.pqrCells, coarseProbes = SimOps.pqrCells)
    val compiled = SimOps.annIvfPqrBuild(spark, assigned, cb,
      SimOps.scaledCents(spark, assigned))
      .orderBy(col("vec_id"))
    assert(rows(compiled) === rows(expr))
  }

  test("residual IVFADC: the scaled store queried at exhaustive probes " +
    "reproduces the registered llm_ann_ivfadc query exactly") {
    val assigned = SimOps.annIvfPqrAssigned(spark, sf0001,
      SimOps.pqrCells, coarseProbes = SimOps.pqrCells)
    val cents = SimOps.scaledCents(spark, assigned)
    val cb = SimOps.pqrCodebook(spark, sf0001,
      centsOverride = Some(cents))
    val store = SimOps.annIvfPqrBuild(spark, assigned, cb, cents)
    val got = rows(SimOps.annIvfPqrScaledQuery(spark, sf0001, store,
      cb, cents, SimOps.pqrCells, probes = SimOps.pqrCells,
      coarseProbes = SimOps.pqrCells))
    assert(got === rows(SimOps.annPqr(spark, sf0001)))
  }

  test("residual IVFADC rerank: exact-cosine re-rank of the exhaustive " +
    "residual-ADC shortlist — dense ranks, recall@5 vs brute at least " +
    "the pure residual-ADC scan's") {
    val assignedRaw = SimOps.annIvfPqrAssigned(spark, sf0001,
      SimOps.pqrCells, coarseProbes = SimOps.pqrCells)
    val cents = SimOps.scaledCents(spark, assignedRaw)
    val cb = SimOps.pqrCodebook(spark, sf0001,
      centsOverride = Some(cents))
    val assigned = SimOps.annIvfPqrBuild(spark, assignedRaw, cb, cents)
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = sets(SimOps.simTopk(spark, sf0001))
    def recall(m: Map[Long, Set[Long]]): Double = brute.keys.toSeq.map {
      q => (brute(q) & m.getOrElse(q, Set.empty)).size.toDouble /
        brute(q).size
    }.sum / brute.size
    val reranked = SimOps.annIvfPqrScaledRerank(spark, sf0001, assigned,
      cb, cents, SimOps.pqrCells, probes = SimOps.pqrCells,
      shortlist = 50, coarseProbes = SimOps.pqrCells)
    val rr = reranked.collect()
    val byQ = rr.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 20L).toSet)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.toSeq === (1 to rs.length))
    }
    assert(recall(sets(reranked)) >=
      recall(sets(SimOps.annPqr(spark, sf0001))))
  }

  test("llm_ann_ivfpq_served: the registered scaled-store serving " +
    "query equals llm_ann_pq8 value-for-value (the exhaustive-probe " +
    "identity its shared oracle rides)") {
    assert(rows(SimOps.annIvfPqServedQuery(spark, sf0001)) ===
      rows(SimOps.annPq8(spark, sf0001)))
  }
}
