package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-cost probe for the `llm_ann_pq8` family (round-18/19
  * optimization measurement): times codebook training, the corpus
  * encode, and the join/ADC/top-k stages separately through the noop
  * sink and prints one JSON line — so "where do pq8's seconds go" has
  * a recorded answer instead of a guess.
  *
  * r19 change: stages run INTERLEAVED round-robin (stage1, stage2, …,
  * stage1, stage2, …) instead of in per-stage blocks — this box's
  * run-to-run weather swings a blocked measurement by 1.6× (the two
  * r19 block-mode runs disagreed on full_query 2.0 s vs 3.3 s), while
  * interleaving gives every stage the same weather by construction.
  */
object PqStageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm-up: one full query
    noop(operators.SimOps.annPq8(spark, sfDir))
    val cb = operators.SimOps.pq8Codebook(spark, sfDir)
    val stages: Seq[(String, () => Unit)] = Seq(
      "codebook" -> (() => { operators.SimOps.pq8Codebook(spark, sfDir); () }),
      "encode" -> (() => noop(operators.SimOps.pq8Encoded(spark, sfDir, cb))),
      "join_only" -> (() =>
        noop(operators.SimOps.pq8JoinOnlyProbe(spark, sfDir, cb))),
      "scan_adc" -> (() =>
        noop(operators.SimOps.pq8AdcScanProbe(spark, sfDir, cb))),
      "scan_adc_driver" -> (() =>
        noop(operators.SimOps.pq8AdcScanDriverProbe(spark, sfDir, cb))),
      // join-free ADC against one CONSTANT lut (expression cost alone,
      // 2000 rows) and the same join carrying the lut but reading ONE
      // entry (lut-carriage cost alone) — the two H-discriminators for
      // the 64 µs/row scan_adc_driver mystery
      "adc_const_nojoin" -> (() => {
        val luts = operators.SimOps.pq8LutsLocal(spark, sfDir, cb)
        noop(operators.SimOps.pq8Encoded(spark, sfDir, cb)
          .select(col("vec_id"),
            graft.functions.GraftFunctions.pqAdc(typedlit(luts.head._2),
              col("codes")).as("adc")))
      }),
      "join_lut_one_lookup" -> (() =>
        noop(operators.SimOps.pq8JoinLutOneLookupProbe(spark, sfDir, cb))),
      "full_query" -> (() => noop(operators.SimOps.annPq8(spark, sfDir))))
    val r = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.ArrayBuffer[Double]]()
    stages.foreach { case (tag, _) =>
      r(tag) = scala.collection.mutable.ArrayBuffer.empty[Double] }
    // one un-timed pass to compile/JIT every stage, then interleaved runs
    stages.foreach { case (_, f) => f() }
    (1 to runs).foreach { _ =>
      stages.foreach { case (tag, f) =>
        val t0 = System.nanoTime()
        f()
        r(tag) += (System.nanoTime() - t0) / 1e9
      }
    }
    r.foreach { case (tag, ts) =>
      System.err.println(
        s"[pqstage] $tag: ${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    // the EXECUTED plan (post-AQE, with codegen ids) of the dominant
    // stage — written to a side file for the r19 measurement log
    sys.env.get("SPARK_GRAFT_PLAN_OUT").foreach { out =>
      val df = operators.SimOps.pq8AdcScanDriverProbe(spark, sfDir, cb)
      df.collect() // finalize AQE in THIS QueryExecution
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
        df.queryExecution.executedPlan.toString)
    }
    val js = r.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"pq8_stages","runs":$js,"sf":"$sfDir"}""")
    spark.stop()
  }
}
