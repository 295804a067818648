package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.dotProduct
import graft.operators.SimOps

/** ANN scaling probe at 5× the standard stress tier (default fixture:
  * 100k vectors) — the datapoint between the 20k stress tier
  * (STRESSPROBE_r11) and a production corpus. Measures, against the
  * exact brute-force baseline on a 20-query sample: IVF index build +
  * persist time, partition-pruned serve time and recall@5, SRP-LSH
  * (corpus-adaptive bits) search time and recall@5 — and, on the ~n/400
  * PLANTED near-dup pairs (cos ≈ 0.999, the dedup workload),
  * partner-in-top-5 recall for BOTH index families. One JSON line;
  * planted recalls are REQUIRED ≥ 0.98 before printing (near-dups are
  * the contract; iid recall is the documented knob trade). The fixture
  * is read-only: the index and the SRP table go under a fresh temporary
  * directory that the main deletes on exit.
  */
object AnnScaleBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/stressdata_ann")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = java.nio.file.Files.createTempDirectory("graft_annscale")
    sys.addShutdownHook(org.apache.commons.io.FileUtils
      .deleteQuietly(out.toFile))
    val n = Tables.vectorCount(spark, dir)

    def topSets(df: org.apache.spark.sql.DataFrame)
        : (Double, Map[Long, Set[Long]]) = {
      df.write.format("noop").mode("overwrite").save() // warm-up
      val t0 = System.nanoTime()
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(2)))
      ((System.nanoTime() - t0) / 1e9,
        rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap)
    }

    val (tBrute, brute) = topSets(SimOps.simTopk(spark, dir))

    // scale path: √n coarse cells (the frozen 10-seed build is the
    // ORACLE configuration — at 1M vectors it would scan 40 % of the
    // corpus per query; scaledCells keeps per-cell population bounded).
    // ≤4096 vectors keeps the historical 10-seed shape so small-tier
    // artifacts stay comparable across rounds.
    val nCells = if (n <= 4096) 10 else SimOps.scaledCells(n)
    // the two-level coarse-grouped assignment; the default coarse probe
    // is exhaustive (the flat argmax), SPARK_GRAFT_ANN_COARSE_PROBES
    // bounds it (O(n^1.25) build flops vs the flat argmax's O(n^1.5));
    // same artifact shapes, same serving path, same recall gates below.
    val coarseProbes = sys.env.get("SPARK_GRAFT_ANN_COARSE_PROBES")
      .map(_.toInt).getOrElse(nCells)
    val tb0 = System.nanoTime()
    val (cDf, aDf) =
      SimOps.annIndexHierarchical(spark, dir, nCells, coarseProbes)
    cDf.write.mode("overwrite").parquet(s"$out/ann_index/centroids")
    // one task per cell -> one file per partition dir, not tasks×cells
    aDf.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$out/ann_index/assigned_bycell")
    val tBuild = (System.nanoTime() - tb0) / 1e9
    val cents = spark.read.parquet(s"$out/ann_index/centroids")
    val store = spark.read.parquet(s"$out/ann_index/assigned_bycell")

    def qFrame(filter: org.apache.spark.sql.Column) =
      Tables.embeddings(spark, dir).filter(filter)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          sqrt(dotProduct(col("embedding"), col("embedding")))
            .as("q_norm"))
    // the serving SHAPE must hold at this scale: dynamic partition
    // pruning live (not degraded to the scan-everything `(true)` form)
    val servedDf = SimOps.annSearchPruned(spark,
      qFrame(col("vec_id") < 20), cents, store)
    servedDf.collect()
    val servePlan = servedDf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    require(servePlan.contains("dynamicpruningexpression("),
      "pruned serve plan lost its DPP partition filter")
    require(!servePlan.contains("dynamicpruningexpression(true)"),
      "DPP degraded to scan-everything at this scale")
    val (tServe, served) = topSets(
      SimOps.annSearchPruned(spark, qFrame(col("vec_id") < 20),
        cents, store))
    def recallOf(m: Map[Long, Set[Long]]): Double = brute.keys.toSeq.map {
      q => (brute(q) & m.getOrElse(q, Set.empty)).size.toDouble /
        brute(q).size
    }.sum / brute.size

    // planted near-dup recall: every 400th vector is its predecessor
    // plus tiny noise; the copy must retrieve its partner in top-5
    val plantedQs = (1L until n by 400L).toSeq
    def plantedRecall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      plantedQs.count(q =>
        got.getOrElse(q, Set.empty).contains(q - 1)).toDouble /
        plantedQs.size
    }
    val plantedIvf = plantedRecall(SimOps.annSearchPruned(spark,
      qFrame(col("vec_id") % 400 === 1), cents, store))

    val bits = SimOps.srpBitsPerBand(n)
    val (tSrp, srp) = topSets(SimOps.annSrpMultiProbe(spark, dir, bits,
      SimOps.srpBands, 0, col("vec_id") < 20))
    val plantedSrp = plantedRecall(SimOps.annSrpMultiProbe(spark, dir,
      bits, SimOps.srpBands, 0, col("vec_id") % 400 === 1))

    // SRP SERVED: persist the bits table once (the corpus-snapshot
    // artifact), then serve the 20-query batch from it — the steady
    // state, where only the query side hashes at query time
    val tsb0 = System.nanoTime()
    SimOps.srpTableArtifact(spark, dir)
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$out/srp_table")
    val tSrpBuild = (System.nanoTime() - tsb0) / 1e9
    val srpStore = spark.read.parquet(s"$out/srp_table")
    val (tSrpServed, srpServed) = topSets(
      SimOps.annSrpFromStore(spark, dir, srpStore))

    require(plantedIvf >= 0.98, s"IVF planted recall $plantedIvf < 0.98")
    require(plantedSrp >= 0.98, s"SRP planted recall $plantedSrp < 0.98")
    println(s"""{"metric":"ann_scale","n_vectors":$n,"ivf_cells":$nCells,""" +
      s""""coarse_probes":$coarseProbes,""" +
      s""""sec_brute":$tBrute,"sec_index_build":$tBuild,""" +
      s""""sec_served_pruned":$tServe,"recall_ivf":${recallOf(served)},""" +
      s""""planted_pairs":${plantedQs.size},""" +
      s""""planted_recall_ivf":$plantedIvf,""" +
      s""""srp_bits":$bits,"sec_srp":$tSrp,""" +
      s""""recall_srp":${recallOf(srp)},""" +
      s""""planted_recall_srp":$plantedSrp,""" +
      s""""sec_srp_table_build":$tSrpBuild,""" +
      s""""sec_srp_served":$tSrpServed,""" +
      s""""recall_srp_served":${recallOf(srpServed)}}""")
    spark.stop()
  }
}
