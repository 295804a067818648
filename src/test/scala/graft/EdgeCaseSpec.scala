package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.streaming.DeliverySemantics

/** Degenerate-input behavior: empty and single-row inputs must flow
  * through the operator library without exceptions and with sane results.
  */
class EdgeCaseSpec extends SparkSpec {

  test("aggregates over an empty filter produce zero groups, not errors") {
    val empty = Tables.lineitem(spark, sf0001)
      .filter(col("l_quantity") < -1)
    assert(empty.groupBy("l_returnflag").count().count() === 0)
    assert(empty.agg(sum("l_quantity")).collect().head.isNullAt(0))
  }

  test("upsert into an empty target is an insert-all") {
    val target = Tables.events(spark, sf0001).filter(lit(false))
      .select("event_id", "ts", "event_type")
    val batch = Tables.events(spark, sf0001).limit(10)
      .select("event_id", "ts", "event_type")
    val merged = DeliverySemantics.upsert(target, batch, "event_id", "ts")
    assert(merged.count() === 10)
  }

  test("windows over single-row partitions behave (lag null, rn=1)") {
    val one = Tables.events(spark, sf0001).limit(1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val r = one
      .withColumn("rn", row_number().over(w))
      .withColumn("prev", lag("ts", 1).over(w))
      .collect().head
    assert(r.getAs[Int]("rn") === 1)
    assert(r.isNullAt(r.fieldIndex("prev")))
  }

  test("round-9 event/ts/graph/text additions on empty inputs return " +
    "empty, not errors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r9e").toString
    Tables.events(spark, sf0001).filter(lit(false))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.documents(spark, sf0001).filter(lit(false))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(EventOps.tsAutocorr(spark, dir).count() === 0)
    assert(EventOps.stickiness(spark, dir).count() === 0)
    assert(EventOps.newVsReturning(spark, dir).count() === 0)
    assert(EventOps.attributionDecay(spark, dir).count() === 0)
    assert(WindowOps.gapsIslands(spark, dir).count() === 0)
    // single-token corpus: zipf's OLS on one rank has zero variance —
    // NULL/NaN slope is acceptable, an exception is not
    assert(TextOps.zipfSlope(spark, dir).count() === 0 ||
      TextOps.zipfSlope(spark, dir).count() === 1)
  }

  test("doc_outlier on a single-vector corpus scores cosine 1 to itself") {
    val dir = java.nio.file.Files.createTempDirectory("graft_r9v").toString
    Tables.embeddings(spark, sf0001).limit(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = SimOps.docOutlier(spark, dir).collect()
    assert(rows.length === 1)
    // centroid of one vector is (a quantized) itself — cosine ≈ 1
    assert(math.abs(rows.head.getAs[Double]("cos_centroid") - 1.0) < 1e-3)
  }

  // Regression for fn_map's collision handling: a props map that carries a
  // minted key ('type'/'uid') must not trip mapKeyDedupPolicy=EXCEPTION —
  // the pipeline filters pm before the concat, kv wins.
  test("fn_map merge pattern survives a props/type key collision") {
    import spark.implicits._
    import org.apache.spark.sql.types.{MapType, StringType}
    val df = Seq(("""{"type":"json-says","k":"7"}""", "click", 42))
      .toDF("props", "event_type", "user_id")
      .withColumn("pm", from_json(col("props"), MapType(StringType, StringType)))
      .withColumn("kv", str_to_map(
        concat(lit("type:"), col("event_type"), lit(",uid:"), col("user_id")),
        lit(","), lit(":")))
      .withColumn("m", map_concat(
        map_filter(col("pm"), (k, _) => !k.isin("type", "uid")), col("kv")))
    val r = df.select(
      size(col("m")).as("n"),
      element_at(col("m"), lit("type")).as("t"),
      element_at(col("m"), lit("k")).as("k")).collect().head
    assert(r.getAs[Int]("n") === 3) // k, type, uid — no duplicate key throw
    assert(r.getAs[String]("t") === "click", "kv must win the collision")
    assert(r.getAs[String]("k") === "7")
  }

  test("dq_drift: same-generator snapshot halves read as stable (|PSI| small)") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.DataQualityOps.drift(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // probabilities are distributions
    assert(math.abs(rows.map(_.getAs[Double]("p_store")).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getAs[Double]("p_batch")).sum - 1.0) < 1e-9)
    // the fixture's store/batch split comes from one generator — PSI must
    // read "stable" (< 0.1); a shifted distribution would break this
    val psi = rows.flatMap(r => Option(r.getAs[java.lang.Double]("psi_term"))
      .map(_.doubleValue.abs)).sum
    assert(psi < 0.1, s"PSI $psi on identically-generated halves")
  }

  test("dedupIncremental cold start (empty store) and empty batch behave") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "ALPHA beta  gamma delta"), // exact dup of 1 (normalized)
      (3L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val none = docs.filter(lit(false))
    // cold start: no store — within-batch dedup only, smallest id wins
    val cold = DedupOps.dedupIncremental(spark, none, docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cold === Map(1L -> "keep", 2L -> "exact", 3L -> "keep"))
    // empty batch: nothing to judge, and no old-vs-old work is triggered
    assert(DedupOps.dedupIncremental(spark, docs, none).count() === 0)
  }

  // Regression: an empty documents table used to NPE on the null max()
  // boundary during query construction; the oracle returns empty rows.
  test("dedupIncrementalQuery on an empty corpus returns empty, not NPE") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    Tables.documents(spark, sf0001).filter(lit(false))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(DedupOps.dedupIncrementalQuery(spark, dir).count() === 0)
  }

  // Regression for the dq_outliers variance guard: a constant-valued
  // group's variance can round one ulp NEGATIVE (Spark sqrt → NaN, which
  // ranks greatest and would flag the whole group; DuckDB sqrt → hard
  // error) and a zero variance divides z by 0 (±Inf vs NULL across
  // engines). With the var > 0 guard, std is NULL and no row of the
  // group is an outlier — identically on both engines.
  test("dq_outliers: constant-valued groups yield zero outliers and NULL " +
    "max_abs_z, not NaN/error") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dqvar").toString
    Tables.events(spark, sf0001).limit(6)
      .withColumn("event_type", lit("const"))
      .withColumn("value", lit(42.0))
      .withColumn("ts", unix_micros(col("ts")) * 1000)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = DataQualityOps.outliers(spark, dir).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_outliers") === 0L)
    assert(r.head.isNullAt(r.head.fieldIndex("max_abs_z")))
  }

  test("round-6 wave ops on empty/single-token corpora: empty results, " +
    "no exceptions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r6edge").toString
    // single-token and empty-text docs: no adjacent pairs exist at all
    Seq((0L, "solo", "en", "s0", 4L), (1L, "", "en", "s0", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(TextOps.bpePairs(spark, dir).count() === 0)
    assert(TextOps.bigramLm(spark, dir).count() === 0)
    // empty events, written with ts back in raw-nanos long form (the
    // loader divides by 1000 — a re-written TIMESTAMP column would not
    // analyze through that path)
    Tables.events(spark, sf0001).filter(lit(false))
      .withColumn("ts", unix_micros(col("ts")) * 1000)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(EventOps.sessionize(spark, dir).count() === 0)
    assert(EventOps.cdcDiff(spark, dir).count() === 0)
    assert(EventOps.funnelWindowed(spark, dir).count() === 0)
    assert(AggOps.heavyHitters(spark, dir).count() === 0)
  }

  test("fifth-wave ops on empty/degenerate inputs: no exceptions, sane " +
    "results") {
    import spark.implicits._
    import graft.operators.{CurationOps, DataQualityOps}
    val dir = java.nio.file.Files.createTempDirectory("graft_r6bedge").toString
    Seq((0L, "solo", "en", "src0", 4L), (1L, "", "en", "src1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // no bigrams exist → perplexity judges nothing (and doesn't throw)
    assert(TextOps.perplexity(spark, dir).count() === 0)
    // every doc still gets a canonical URL row (2 docs → ≤2 groups)
    assert(CurationOps.urlDedup(spark, dir)
      .agg(sum(col("n_variants"))).collect()(0).getLong(0) === 2L)
    // the empty-text doc has no tokens → only the single-token doc scores
    val oov = TextOps.oovRate(spark, dir).collect()
    assert(oov.length === 1 && oov(0).getAs[Long]("n_oov") === 0L)
    // empty events: freshness, co-occurrence, anomaly, interval join all
    // return empty rather than erroring on the empty aggregate
    Tables.events(spark, sf0001).filter(lit(false))
      .withColumn("ts", unix_micros(col("ts")) * 1000)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(DataQualityOps.freshness(spark, dir).count() === 0)
    assert(EventOps.cooccurPmi(spark, dir).count() === 0)
    assert(EventOps.anomalyZscore(spark, dir).count() === 0)
    assert(graft.operators.JoinOps.intervalBin(spark, dir).count() === 0)
  }

  // Degenerate statsMoments groups: a single-row group has no sample
  // variance and a constant-valued column has no correlation — both must
  // come back NULL (the guard both engines share), never NaN/inf/NULL
  // disagreeing across engines.
  test("statsMoments yields NULL variance/corr on degenerate groups") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_moments").toString
    Seq(
      ("S", 5.0, 100.0),          // single-row group
      ("C", 7.0, 100.0), ("C", 7.0, 200.0)) // constant qty → zero variance
      .toDF("l_returnflag", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = AggOps.statsMoments(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("S").isNullAt(3) && rows("S").isNullAt(4) &&
      rows("S").isNullAt(5), "n=1 group must be NULL var/std/corr")
    assert(rows("C").getDouble(3) === 0.0)
    assert(rows("C").isNullAt(5), "zero-variance corr must be NULL")
  }

  // Regression: the narrow argmax must rank a NaN score GREATEST (the
  // semantics of the window ORDER BY score DESC it replaced, in Spark and
  // DuckDB alike), not flip it to the bottom through negation.
  test("clusterAssign ranks NaN affinities first, like the window form") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nan").toString
    val dim = 4
    val rows = (0L until 10L).map { i =>
      (i, Array.tabulate(dim)(d => (i + d + 1).toFloat), 0)
    } :+ ((10L, Array(Float.NaN, 1f, 1f, 1f), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = graft.operators.SimOps.clusterAssign(spark, dir)
      .filter(col("vec_id") === 10L).collect().head
    // every seed scores NaN against the NaN vector → all tie greatest →
    // smallest seed id wins, affinity is NaN (what the window form did)
    assert(r.getAs[Long]("cell") === 0L)
    assert(r.getAs[Double]("affinity").isNaN)
  }

  // Regression: the bounded-heap comparator must stay a strict weak
  // ordering under NaN (NaN greatest, NaN == NaN) — the naive >/== pair
  // made the kept set depend on partition merge order.
  test("TopKPerGroup orders NaN deterministically regardless of arrival order") {
    import spark.implicits._
    val items = Seq((5L, 0.9), (2L, Double.NaN), (7L, 0.9), (1L, 0.1),
      (9L, Double.NaN))
    // two partial heaps: the first partition holds the first 2 arrivals
    def run(order: Seq[(Long, Double)]): Seq[Long] = {
      val df = spark.sparkContext.parallelize(order, 2)
        .toDF("id", "score").withColumn("g", lit(0))
      assert(df.rdd.getNumPartitions == 2)
      graft.plans.TopKPerGroup(df, Seq("g"), "score", descending = true,
        "id", 3).collect().map(_.getAs[Long]("id")).toSeq
    }
    val a = run(items)
    val b = run(items.reverse)
    assert(a === b, s"merge-order sensitivity: $a vs $b")
    // NaN ranks greatest (window ORDER BY score DESC semantics), id ties;
    // the one group's rows come out best-first
    assert(a === Seq(2L, 9L, 5L))
  }

  test("dedupNear on a tiny corpus (3 docs) does not explode or NPE") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tiny").toString
    Seq(
      (0L, "a b c d e f", "en", "s0", 11L),
      (1L, "a b c d e f", "en", "s1", 11L), // exact dup of 0
      (2L, "x y z", "en", "s2", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = DedupOps.dedupNear(spark, dir).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Long]("doc_a") === 0L)
    assert(pairs.head.getAs[Long]("doc_b") === 1L)
    assert(pairs.head.getAs[Double]("jaccard") === 1.0)
  }

  test("simhash of identical texts is identical; of empty token list is 0") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sh").toString
    Seq(
      (0L, "p q r s", "en", "s0", 7L),
      (1L, "p q r s", "en", "s1", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fps = DedupOps.simhash(spark, dir).collect()
    assert(fps(0).getLong(1) === fps(1).getLong(1))
  }
}
