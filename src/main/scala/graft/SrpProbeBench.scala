package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SimOps

/** SRP multi-probe recall curve (r13 verdict item 3): ANNSCALE_r13
  * honestly recorded iid top-5 recall collapsing 0.55 → 0.10 → 0.03
  * across 10k → 100k → 1M vectors under single-bucket banding (planted
  * near-dup recall stays 1.0 — the dedup contract — but marginal-
  * neighbor search degrades as buckets shrink relative to n). This
  * probe measures what flip-bit multi-probe buys back: for radius 0 /
  * 1 / 2 it records iid recall@5 vs exact brute force, planted-pair
  * recall, distinct candidate volume (against the per-radius cap), and
  * wall time, on the 20-query batch over a StressGen ANN fixture.
  * REQUIRES radius-2 iid recall ≥ 0.3 and planted recall ≥ 0.98 at
  * every radius, and candidates within cap, before printing the one
  * JSON artifact line.
  *
  * Usage: tools/run_main.sh SrpProbeBench [fixtureDir]
  */
object SrpProbeBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/stressdata_ann1m")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = Tables.vectorCount(spark, dir)
    val bits = SimOps.srpBitsPerBand(n)
    val bands = SimOps.srpBands

    def topSets(df: org.apache.spark.sql.DataFrame)
        : (Double, Map[Long, Set[Long]]) = {
      df.write.format("noop").mode("overwrite").save() // warm-up
      val t0 = System.nanoTime()
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(2)))
      ((System.nanoTime() - t0) / 1e9,
        rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    }
    val (tBrute, brute) = topSets(SimOps.simTopk(spark, dir))
    def recallOf(m: Map[Long, Set[Long]]): Double = brute.keys.toSeq.map {
      q => (brute(q) & m.getOrElse(q, Set.empty)).size.toDouble /
        brute(q).size
    }.sum / brute.size

    val plantedQs = (1L until n by 400L).toSeq
    def plantedRecall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      plantedQs.count(q =>
        got.getOrElse(q, Set.empty).contains(q - 1)).toDouble /
        plantedQs.size
    }

    val tiers = Seq(0, 1, 2).map { radius =>
      val (t, sets) = topSets(SimOps.annSrpMultiProbe(spark, dir, bits,
        bands, radius, col("vec_id") < 20))
      val rec = recallOf(sets)
      val cands = SimOps.srpCandidateCountMulti(spark, dir, bits, bands,
        radius)
      val probeRows = SimOps.probeMasks(bits, radius).size.toLong * bands
      // 20 queries × probed buckets × expected bucket population, with
      // 4× slack for bucket-size variance; never above brute's 20n
      val cap = math.min(20L * n,
        20L * probeRows * ((n >> bits) + 1L) * 4L)
      require(cands <= cap,
        s"radius-$radius candidates $cands exceed cap $cap")
      val pr = plantedRecall(SimOps.annSrpMultiProbe(spark, dir, bits,
        bands, radius, col("vec_id") % 400 === 1))
      require(pr >= 0.98, s"radius-$radius planted recall $pr < 0.98")
      System.err.println(s"[srpprobe] radius=$radius recall=$rec " +
        s"cands=$cands cap=$cap planted=$pr sec=$t")
      (radius, t, rec, cands, cap, pr)
    }
    require(tiers.last._3 >= 0.3,
      s"radius-2 iid recall ${tiers.last._3} < 0.3 — multi-probe did " +
        "not lift recall at this scale")
    // ADAPTIVE policy rows under the r16 QUALITY law (satisfied ⇔ ≥ k
    // verified members AND kth cosine ≥ srpQualityBar(bits, bands, r)).
    // The r15 count-only trigger never fired on this dense table
    // (SRPPROBE_r15: adaptive iid recall 0.03 ≡ radius 0); the bar
    // escalates exactly the starved queries — REQUIRE iid adaptive
    // recall ≈ the radius-2 tier's, and planted near-dup queries (k=1,
    // kth ≈ 0.9997 ≫ τ₀) still stopping at radius 0.
    val bars = (0 to 2).map(SimOps.srpQualityBar(bits, bands, _))
    def adaptiveRun(k: Int, qp: org.apache.spark.sql.Column,
        skipAhead: Boolean = false)
        : (Double, Array[org.apache.spark.sql.Row]) = {
      val t0 = System.nanoTime()
      val rows = SimOps.annSrpAdaptive(spark, dir, bits, bands, k, qp,
        skipAhead = skipAhead).collect()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    def adaptiveJsonOf(k: Int, sec: Double,
        rows: Array[org.apache.spark.sql.Row], extra: String): String = {
      val radiusOf = rows
        .map(r => (r.getLong(0), r.getAs[Int]("probe_radius"))).toMap
      val cands = (0 to 2).map { r =>
        val qs = radiusOf.filter(_._2 == r).keys.toSeq
        if (qs.isEmpty) 0L
        else SimOps.srpCandidateCountMulti(spark, dir, bits, bands, r,
          col("vec_id").isin(qs: _*))
      }.sum
      val hist = (0 to 2).map(r =>
        s""""$r":${radiusOf.values.count(_ == r)}""")
        .mkString("{", ",", "}")
      s"""{"k":$k,"sec":$sec,"candidates":$cands,""" +
        s""""radius_hist":$hist$extra}"""
    }
    val (tAdapt, adRows) = adaptiveRun(5, col("vec_id") < 20)
    val adSets = adRows.map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val adRecall = recallOf(adSets)
    require(adRecall >= tiers.last._3 - 0.05,
      s"adaptive iid recall $adRecall below the radius-2 tier " +
        s"${tiers.last._3} — the quality bar failed to escalate")
    val (tPlant, plRows) = adaptiveRun(1, col("vec_id") % 400 === 1)
    val plRecall = {
      val got = plRows.map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      plantedQs.count(q =>
        got.getOrElse(q, Set.empty).contains(q - 1)).toDouble /
        plantedQs.size
    }
    val plR0 = plRows.count(_.getAs[Int]("probe_radius") == 0)
    require(plRecall >= 0.98 && plR0 == plRows.length,
      s"planted adaptive: recall $plRecall, ${plRows.length - plR0} " +
        "rows escalated past radius 0 — dense queries must stop at 0")
    // skip-ahead arm (r16 verdict item 6's measured knob): the ladder
    // re-probes radii cumulatively, so a batch where every query climbs
    // 0 -> 1 -> 2 pays ~2x the fixed-cap wall (SRPPROBE_r16: 20.0 s vs
    // 10.6 s). With skipAhead, a radius-0 kth below even tau_cap parks
    // the query straight to the cap probe, skipping the middle pass —
    // same final recall REQUIRED (parked queries emit the fixed-cap
    // rows verbatim, Round17OpsSpec), wall recorded next to the ladder's.
    val (tSkip, skRows) = adaptiveRun(5, col("vec_id") < 20,
      skipAhead = true)
    val skSets = skRows.map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val skRecall = recallOf(skSets)
    require(skRecall >= tiers.last._3 - 0.05,
      s"skip-ahead iid recall $skRecall below the radius-2 tier " +
        s"${tiers.last._3} — parking dropped starved queries short")
    // planted under skip-ahead: dense queries stop at radius 0 exactly
    // as the ladder does (kth >= tau_0 >= tau_cap — never parked)
    val (tPlantSkip, plSkipRows) = adaptiveRun(1,
      col("vec_id") % 400 === 1, skipAhead = true)
    require(plSkipRows.count(_.getAs[Int]("probe_radius") == 0) ==
      plSkipRows.length,
      "skip-ahead escalated planted near-dup queries past radius 0")
    val adaptiveJson = Seq(
      adaptiveJsonOf(5, tAdapt, adRows, s""","recall_iid":$adRecall"""),
      adaptiveJsonOf(1, tPlant, plRows,
        s""","planted_recall":$plRecall"""))
      .mkString("[", ",", "]")
    val skipJson = Seq(
      adaptiveJsonOf(5, tSkip, skRows,
        s""","recall_iid":$skRecall,"skip_ahead":true"""),
      adaptiveJsonOf(1, tPlantSkip, plSkipRows,
        s""","skip_ahead":true"""))
      .mkString("[", ",", "]")
    val tiersJson = tiers.map { case (r, t, rec, cands, cap, pr) =>
      s"""{"radius":$r,"sec":$t,"recall_iid":$rec,""" +
        s""""candidates":$cands,"cap":$cap,"planted_recall":$pr}"""
    }.mkString("[", ",", "]")
    println(s"""{"metric":"srp_multiprobe","n_vectors":$n,""" +
      s""""srp_bits":$bits,"bands":$bands,"sec_brute":$tBrute,""" +
      s""""quality_bars":${bars.mkString("[", ",", "]")},""" +
      s""""tiers":$tiersJson,"adaptive":$adaptiveJson,""" +
      s""""adaptive_skip":$skipJson}""")
    spark.stop()
  }
}
