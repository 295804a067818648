package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.pqEncode
import graft.operators.SimOps

/** Round-18 additions: typed analysis errors on the user-callable PQ
  * expressions, content-based canonicalization of the encode's codebook
  * constant, the LUT-ships-once scaled-query plan, and the residual
  * IVFADC family (this file grows with the round).
  */
class Round18OpsSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] =
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
    val assigned = SimOps.annIvfPqScaled(spark, sf0001, encoded, cells,
      coarseProbes = cells)
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

  // Test-local references for the residual IVFADC build: the
  // interpreted expression census and zip_with residual, the analyzable
  // definitions the DuckDB oracle mirrors. The compiled build is pinned
  // against them, so the "compiled ≡ expression" tests below compare two
  // independent computations.

  /** The expression census: one posexplode row per (vector, dim), micro-
    * unit `round` (HALF_UP) sums per (cell, dim), one division. */
  private def centroidsOfExpr(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("embedding")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(round(col("col").cast("double") * lit(1000000.0), 0)
          .cast("long")).as("ms"),
        count(lit(1)).as("cnt"))
      .withColumn("v", col("ms").cast("double") /
        (lit(1000000.0) * col("cnt").cast("double")))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("v"))))
        .getField("v").as("centroid"))

  /** r = embedding::double − centroid(cell), element-wise in zip_with. */
  private def residualCol(centsLit: Column): Column =
    zip_with(col("embedding"),
      element_at(centsLit, (col("cell") + lit(1)).cast("int")),
      (x, c) => x.cast("double") - c)

  /** Dense centroid literal for [[residualCol]]: index = cell id. */
  private def centsLiteral(cents: Map[Long, Array[Double]],
      cells: Int): Seq[Seq[Double]] =
    (0 until cells).map(c =>
      cents.get(c.toLong).fold(Seq.fill(64)(0.0))(_.toSeq))

  private def centsMap(df: DataFrame): Map[Long, Array[Double]] =
    df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap

  /** The expression-form residual store over the literal flat argmax
    * (annIndexWith at 32 ≤ ivfLiteralCellBound cells): (cell, vec_id,
    * codes), its centroids and the codebook trained against them. */
  private def expressionStore()
      : (DataFrame, Map[Long, Array[Double]], Seq[Seq[Seq[Double]]]) = {
    val (_, flat) = SimOps.annIndexWith(spark, sf0001, SimOps.pqrCells)
    val cents = centsMap(centroidsOfExpr(flat))
    val cb = SimOps.pqrCodebook(spark, sf0001, cents)
    val store = flat
      .withColumn("codes", pqEncode(
        residualCol(typedlit(centsLiteral(cents, SimOps.pqrCells))), cb))
      .select(col("cell"), col("vec_id"), col("codes"))
    (store, cents, cb)
  }

  private def exhaustiveWalk(): DataFrame =
    SimOps.annIvfPqrAssigned(spark, sf0001, SimOps.pqrCells,
      coarseProbes = SimOps.pqrCells)

  test("compiled centroid census: per-partition long micro-sums + the " +
    "tiny finishing aggregate reproduce the expression census " +
    "BIT-EXACTLY (same HALF_UP quantum, same integer sums, same " +
    "division) over the flat-argmax assignment") {
    val compiled = SimOps.scaledCents(spark, exhaustiveWalk())
    val (_, flat) = SimOps.annIndexWith(spark, sf0001, SimOps.pqrCells)
    val expr = centsMap(centroidsOfExpr(flat))
    assert(compiled.keySet === expr.keySet)
    compiled.foreach { case (c, v) =>
      assert(v.toSeq === expr(c).toSeq, s"cell $c centroid diverged")
    }
    // exact micro-unit halves (±1/128 · 10⁶ = ±7812.5) round away from
    // zero in both censuses — a half-to-even quantum would not
    import spark.implicits._
    val halves = Seq((0L, Array.fill(64)(1f / 128)),
      (0L, Array.fill(64)(3f / 128)), (1L, Array.fill(64)(-1f / 128)))
      .toDF("cell", "embedding")
    def seqs(m: Map[Long, Array[Double]]) = m.view.mapValues(_.toSeq).toMap
    assert(seqs(centsMap(SimOps.centroidsOf(spark, halves))) ===
      seqs(centsMap(centroidsOfExpr(halves))))
    assert(centsMap(centroidsOfExpr(halves))(1L).head === -0.007813)
  }

  test("residual IVFADC: the compiled scaled build (two-level walk at " +
    "exhaustive coarse probes, centroid census over ITS assignment, " +
    "compiled centroid subtraction + codegen'd encode) emits EXACTLY " +
    "the expression form's (cell, vec_id, codes) — flat argmax, " +
    "zip_with centroid residual, PqEncode") {
    val (exprStore, _, cb) = expressionStore()
    val assigned = exhaustiveWalk()
    val compiled = SimOps.annIvfPqrBuild(spark, assigned, cb,
      SimOps.scaledCents(spark, assigned))
    assert(rows(compiled.orderBy(col("vec_id"))) ===
      rows(exprStore.orderBy(col("vec_id"))))
  }

  test("residual IVFADC: the scaled store queried at exhaustive probes " +
    "reproduces the registered llm_ann_ivfadc query exactly") {
    // the store is the expression form's, so the registered query's
    // compiled build is checked end to end, not against itself
    val (store, cents, cb) = expressionStore()
    val got = rows(SimOps.annIvfPqrScaledQuery(spark, sf0001, store,
      cb, cents, SimOps.pqrCells, probes = SimOps.pqrCells,
      coarseProbes = SimOps.pqrCells))
    assert(got === rows(SimOps.annPqr(spark, sf0001)))
  }

  test("residual IVFADC rerank: exact-cosine re-rank of the exhaustive " +
    "residual-ADC shortlist — dense ranks, recall@5 vs brute at least " +
    "the pure residual-ADC scan's") {
    val assignedRaw = exhaustiveWalk()
    val cents = SimOps.scaledCents(spark, assignedRaw)
    val cb = SimOps.pqrCodebook(spark, sf0001, cents)
    val assigned = SimOps.annIvfPqrBuild(spark, assignedRaw, cb, cents)
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val brute = sets(SimOps.simTopk(spark, sf0001))
    def recall(m: Map[Long, Set[Long]]): Double = brute.keys.toSeq.map {
      q => (brute(q) & m.getOrElse(q, Set.empty)).size.toDouble /
        brute(q).size
    }.sum / brute.size
    val reranked = SimOps.exactCosineRerank(spark, sf0001,
      SimOps.annIvfPqrScaledQuery(spark, sf0001, assigned, cb, cents,
        SimOps.pqrCells, probes = SimOps.pqrCells,
        coarseProbes = SimOps.pqrCells, topK = 50))
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
