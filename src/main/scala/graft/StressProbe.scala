package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sqrt}

import graft.functions.GraftFunctions.dotProduct

/** One-off measurement main for the √n-cells scale claim, run against the
  * [[StressGen]] fixture with the brute-force reference from
  * `tools/stress_ref.py` (`<dir>/brute_pairs.parquet` — every exact pair,
  * all ~n²/2 cosines computed):
  *
  * times `llm_dedup_embed` at the fixture-default 32 cells vs the
  * corpus-sized √n configuration and scores BOTH against the exact
  * answer, split into the two regimes the module docs describe:
  *
  *  - TRUE near-duplicates (cosine ≥ 0.9 — the planted pairs, what a real
  *    dedup pipeline hunts): required 100% recall in every configuration.
  *    Nearly-colinear pairs land in the same probe cells at any quantizer
  *    size.
  *  - the adversarial tail (0.45 ≤ cosine < 0.9): on THIS fixture these
  *    are borderline-random iid pairs only ~3.6σ above the mean pair
  *    cosine — the documented worst case for any bucketing (no such band
  *    exists on a real corpus thresholded at ≥ 0.85). Tail recall is
  *    REPORTED per configuration, not asserted. Note the fixture-default
  *    calibration is exact on the SHIPPED fixtures (oracle-gated there);
  *    on 10× iid data it, too, has a tail.
  *
  * Every emitted pair is exact in every configuration — the quantizer
  * only PROPOSES candidates; the in-plan cosine filter verifies them — so
  * precision is 1 by construction and only recall varies.
  *
  * Prints one JSON line with timings, counts and per-config tail recall.
  */
object StressProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/stressdata")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ref = spark.read.parquet(s"$dir/brute_pairs.parquet")
      .selectExpr("va", "vb", "CAST(cosine AS DOUBLE) AS cosine")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    require(ref.nonEmpty,
      s"run tools/stress_ref.py first — no brute_pairs.parquet in $dir")
    val trueDups = ref.filter(_._2 >= 0.9).keySet
    val tail = ref.filter(_._2 < 0.9).keySet
    val n = Tables.embeddings(spark, dir).count()
    val sqrtCells = Integer.highestOneBit(math.sqrt(n.toDouble).toInt)
    def timed(cells: Int): (Double, Set[(Long, Long)]) = {
      // warm-up then measure, like Bench
      graft.operators.SimOps.dedupEmbed(spark, dir, cells)
        .write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      val rows = graft.operators.SimOps.dedupEmbed(spark, dir, cells)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    def score(name: String, cells: Int): String = {
      val (t, pairs) = timed(cells)
      val missedTrue = trueDups -- pairs
      require(missedTrue.isEmpty,
        s"$name missed ${missedTrue.size} TRUE near-dup pairs (cos >= 0.9)")
      val tailRecall =
        if (tail.isEmpty) 1.0
        else (tail & pairs).size.toDouble / tail.size
      s""""${name}":{"cells":$cells,"sec":$t,"pairs":${pairs.size},""" +
        s""""tail_recall":$tailRecall}"""
    }
    val defScore = score("default", graft.operators.SimOps.dedupCells)
    val sqrtScore = score("sqrtn", sqrtCells)
    // ANN at 10×: recall@5 of the IVF probe path vs the brute-force scan
    // (llm_sim_topk — the sanctioned exact baseline), plus both timings.
    def topSets(df: org.apache.spark.sql.DataFrame): (Double, Map[Long, Set[Long]]) = {
      df.write.format("noop").mode("overwrite").save() // warm-up
      val t0 = System.nanoTime()
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(2)))
      ((System.nanoTime() - t0) / 1e9,
        rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    }
    val (tBrute, brute) = topSets(graft.operators.SimOps.simTopk(spark, dir))
    val (tAnn, ann) = topSets(graft.operators.SimOps.annIvf(spark, dir))
    def recallOf(m: Map[Long, Set[Long]]): Double = brute.keys.toSeq.map {
      q => (brute(q) & m.getOrElse(q, Set.empty)).size.toDouble / brute(q).size
    }.sum / brute.size
    // the SERVING path: index built + persisted once (the amortized model
    // artifact), query-time = probe + in-cell search only
    val (cDf, aDf) = graft.operators.SimOps.annIndex(spark, dir)
    cDf.write.mode("overwrite").parquet(s"$dir/ann_index/centroids")
    aDf.write.mode("overwrite").parquet(s"$dir/ann_index/assigned")
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        sqrt(dotProduct(col("embedding"), col("embedding"))).as("q_norm"))
    val (tServe, served) = topSets(graft.operators.SimOps.annSearch(spark, q,
      spark.read.parquet(s"$dir/ann_index/centroids"),
      spark.read.parquet(s"$dir/ann_index/assigned")))
    // cell-PARTITIONED store + literal partition pruning: the scan itself
    // shrinks to the probed partitions
    aDf.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$dir/ann_index/assigned_bycell")
    val (tPruned, pruned) = topSets(graft.operators.SimOps.annSearchPruned(
      spark, q,
      spark.read.parquet(s"$dir/ann_index/centroids"),
      spark.read.parquet(s"$dir/ann_index/assigned_bycell")))
    // SRP-LSH at 10×: the scale-adaptivity datapoint. Candidate volume
    // per 20-query batch at the fixture-frozen 4 bits/band vs the
    // corpus-derived srpBitsPerBand(n) — the adaptive sizing must cut
    // the proposal work as n grows past the fixture scale — plus the
    // adaptive path's recall against the brute-force answer.
    val bitsAdaptive = graft.operators.SimOps.srpBitsPerBand(n)
    val candFixed = graft.operators.SimOps.srpCandidateCountMulti(
      spark, dir, 4, graft.operators.SimOps.srpBands, 0)
    val candAdaptive =
      if (bitsAdaptive == 4) candFixed
      else graft.operators.SimOps.srpCandidateCountMulti(spark, dir,
        bitsAdaptive, graft.operators.SimOps.srpBands, 0)
    val (tSrp, srp) = topSets(graft.operators.SimOps.annSrp(spark, dir))
    // PLANTED near-dup recall — the claim the adaptive sizing rests on,
    // measured instead of asserted: every 400th embedding is its
    // predecessor plus tiny noise (cos ≈ 0.999, the StressGen plant), and
    // SRP's per-bit collision probability 1−θ/π ≈ 0.986 at that angle
    // makes an 8-bit band collide with p ≈ 0.89, some-of-4-bands with
    // p ≈ 0.9999. Query side = the planted copies; a pair is RECALLED
    // when its partner appears in the copy's top-5 (at cos ≈ 0.999 the
    // partner outranks every iid candidate, so recall isolates exactly
    // band-collision survival — the half of the adaptive-bits trade the
    // r8 probe didn't measure; iid `recall_srp` above is the other half).
    val plantedQs = (1L until n by 400L).toSeq
    def plantedRecall(bits: Int, bands: Int): Double = {
      val got = graft.operators.SimOps.annSrpMultiProbe(spark, dir, bits,
        bands, 0, org.apache.spark.sql.functions.col("vec_id") % 400 === 1)
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      plantedQs.count(q =>
        got.getOrElse(q, Set.empty).contains(q - 1)).toDouble /
        plantedQs.size
    }
    val plantedFixed = plantedRecall(4, graft.operators.SimOps.srpBands)
    val plantedAdaptive =
      if (bitsAdaptive == 4) plantedFixed
      else plantedRecall(bitsAdaptive, graft.operators.SimOps.srpBands)
    // the band-count KNOB: doubling bands at adaptive bits buys iid
    // recall back (each band is an independent collision chance) at 2×
    // table rows — the recall lever a corpus turns after a bits step-up
    val knobBands = 2 * graft.operators.SimOps.srpBands
    val (tKnob, srpKnob) = topSets(graft.operators.SimOps.annSrpMultiProbe(
      spark, dir, bitsAdaptive, knobBands, 0,
      org.apache.spark.sql.functions.col("vec_id") < 20))
    val candKnob = graft.operators.SimOps.srpCandidateCountMulti(
      spark, dir, bitsAdaptive, knobBands, 0)
    val plantedKnob = plantedRecall(bitsAdaptive, knobBands)
    // full recall-vs-bands CURVE at adaptive bits (4 → 16 bands): each
    // band is an independent collision chance, so planted recall should
    // saturate immediately (per-band p ≈ 0.89 at cos 0.999) while iid
    // recall — the LSH worst case, nearest neighbors of UNSTRUCTURED
    // random vectors barely more angular-close than the population —
    // climbs roughly linearly in bands, paying candidates per band.
    // This is the documented knob table: a corpus whose nearest
    // neighbors are real near-dups runs the default; one hunting
    // marginal iid-like neighbors buys bands.
    val bandsCurve = Seq(4, 8, 12, 16).map { b =>
      val (tB, setsB) = topSets(graft.operators.SimOps.annSrpMultiProbe(
        spark, dir, bitsAdaptive, b, 0,
        org.apache.spark.sql.functions.col("vec_id") < 20))
      val candB = graft.operators.SimOps.srpCandidateCountMulti(
        spark, dir, bitsAdaptive, b, 0)
      s"""{"bands":$b,"bits":$bitsAdaptive,""" +
        s""""recall_iid":${recallOf(setsB)},""" +
        s""""planted_recall":${plantedRecall(bitsAdaptive, b)},""" +
        s""""cand":$candB,"sec":$tB}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"stress_probe","n_vectors":$n,""" +
      s""""pairs_exact":${ref.size},"true_dups":${trueDups.size},""" +
      s"""$defScore,$sqrtScore,""" +
      s""""ann":{"sec_brute":$tBrute,"sec_ivf_build_and_search":$tAnn,""" +
      s""""sec_served":$tServe,"sec_served_pruned":$tPruned,""" +
      s""""recall_at_5":${recallOf(ann)},""" +
      s""""recall_served":${recallOf(served)},""" +
      s""""recall_served_pruned":${recallOf(pruned)}},""" +
      s""""srp":{"bits_fixed":4,"cand_fixed":$candFixed,""" +
      s""""bits_adaptive":$bitsAdaptive,"cand_adaptive":$candAdaptive,""" +
      s""""sec_srp":$tSrp,"recall_srp":${recallOf(srp)},""" +
      s""""planted_pairs":${plantedQs.size},""" +
      s""""planted_recall_fixed":$plantedFixed,""" +
      s""""planted_recall_adaptive":$plantedAdaptive,""" +
      s""""bands_knob":{"bands":$knobBands,"bits":$bitsAdaptive,""" +
      s""""recall_iid":${recallOf(srpKnob)},"sec":$tKnob,""" +
      s""""cand":$candKnob,"planted_recall":$plantedKnob},""" +
      s""""bands_curve":$bandsCurve}}""")
    spark.stop()
  }
}
