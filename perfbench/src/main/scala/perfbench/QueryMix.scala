package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.{PerfbenchSentinel, SparkEntry, Tables}

/** The read side: a fixed list of `SparkEntry.queries`, one query at a
  * time, over the seeded fixture `run.py` writes to `<work>/fixture`. A
  * warm-up pass writes every result to parquet for the DuckDB oracle
  * (checked by `run.py` after the JVM exits); the timed passes time the
  * builder call and a no-op write.
  */
object QueryMix {
  /** The frozen sentinel and the paper's exactly-once batch twin, in a
    * fixed order (`event_retention` is the one that pins).
    */
  def names: Seq[String] =
    PerfbenchSentinel.queries :+ "exactly_once_upsert"

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Bytes held by the block manager for RDDs numbered `from` or later. */
  private def storedBytes(ctx: Ctx, fromRdd: Int): Long =
    ctx.sc.getRDDStorageInfo.filter(_.id >= fromRdd)
      .map(i => i.memSize + i.diskSize).sum

  def run(ctx: Ctx, runSpan: Long): Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val queries = SparkEntry.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val dir = Paths.get(ctx.work, "fixture").toString

    // set-up: resolve every table through the engine's loaders
    val s0 = System.nanoTime()
    val c0 = Main.cpuS()
    Layer.call(ctx.sc, tr, "setup", "setup.tables", runSpan) { _ =>
      tables.foreach(t => Tables.t(spark, dir, t).schema)
      Tables.events(spark, dir).schema
    }
    val resolveS = ctx.secondsSince(s0)
    val resolveCpuS = Main.cpuS() - c0
    val outDir = Paths.get(ctx.work, "outputs")

    // warm-up at the same scale; its results feed the oracle check
    val w0 = System.nanoTime()
    val wc0 = Main.cpuS()
    val warm = tr.span("warmup", runSpan) { id =>
      names.map { q =>
        val ok = try {
          Layer.call(ctx.sc, tr, "warmup", "warmup.query", id,
              Map("query" -> q)) { _ =>
            queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
              .parquet(outDir.resolve(q).toString)
          }
          None
        } catch { case e: Exception => Some(s"$e".take(500)) }
        q -> ok
      }
    }
    val warmupS = ctx.secondsSince(w0)
    val warmupCpuS = Main.cpuS() - wc0
    val oracle = SparkEntry.oracleSql
    Files.writeString(outDir.resolve("oracle_sql.json"),
      Json.write(names.map(q => q -> oracle.get(q)).toMap))

    val passes = mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
    var measured = 0.0
    while (passes.isEmpty || measured < ctx.seconds) {
      val passSpan = tr.newId()
      val p0 = tr.nowUs
      ctx.drain()
      var planSeen = ctx.plans.map(_.planMs).getOrElse(0L)
      val pass = names.map { q =>
        val qSpan = tr.newId()
        val q0 = tr.nowUs
        val firstRdd = ctx.sc.emptyRDD[Int].id
        val cpu0 = Main.cpuS()
        val t0 = System.nanoTime()
        var buildSpan = 0L
        var built = 0L
        val err = try {
          val df = Layer.call(ctx.sc, tr, "checkpoints", "operators.build",
              qSpan) { id =>
            buildSpan = id
            queries(q)(spark, dir)
          }
          built = System.nanoTime()
          Layer.call(ctx.sc, tr, "operators", "operators.exec", qSpan) { _ =>
            df.write.format("noop").mode("overwrite").save()
          }
          None
        } catch { case e: Exception => Some(s"$e".take(500)) }
        val t2 = System.nanoTime()
        val cpuMs = (Main.cpuS() - cpu0) * 1000.0
        tr.record(qSpan, passSpan, "query", q0, tr.nowUs, Map("query" -> q))
        val traced: Map[String, Any] =
          if (!tr.on) Map.empty
          else {
            val pinned = storedBytes(ctx, firstRdd)
            ctx.drain()
            val planMs = ctx.plans.get.planMs - planSeen
            planSeen += planMs
            Map("pinned_bytes" -> pinned,
              "build_jobs" -> ctx.jobs.get.span(buildSpan).jobs,
              "plan_ms" -> planMs)
          }
        Map("query" -> q, "wall_ms" -> (t2 - t0) / 1e6, "cpu_ms" -> cpuMs,
          "build_ms" -> (if (built > 0) (built - t0) / 1e6 else Double.NaN),
          "exec_ms" -> (if (built > 0) (t2 - built) / 1e6 else Double.NaN),
          "error" -> err) ++ traced
      }
      tr.record(passSpan, runSpan, "pass", p0, tr.nowUs,
        Map("pass" -> passes.size))
      passes += pass
      measured += pass.map(_("wall_ms").asInstanceOf[Double]).sum / 1000.0
    }
    val rssMb = Main.vmHwmMb()
    Map(
      "params" -> Map("queries" -> names),
      "resolve_s" -> resolveS,
      "resolve_cpu_s" -> resolveCpuS,
      "warmup_s" -> warmupS,
      "warmup_cpu_s" -> warmupCpuS,
      "warmup_errors" -> warm.collect { case (q, Some(e)) => q -> e }.toMap,
      "fixture_dir" -> dir,
      "outputs_dir" -> outDir.toString,
      "passes" -> passes.toSeq,
      "rss_peak_mb" -> rssMb)
  }
}
