package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Lineage truncation for ITERATIVE operators (connected components, BPE
  * training, pagerank, staged pipelines): each round must cut the
  * otherwise round-over-round growing plan, eagerly.
  *
  * Default is `localCheckpoint()` — eager, no configuration, and the
  * context cleaner reclaims previous rounds with no unpersist
  * bookkeeping. Its known limit is reliability: blocks live on executors
  * and the lineage backing them is DROPPED, so on a real cluster an
  * executor loss mid-iteration fails the job (or, worse for a
  * nondeterministic lineage, could silently recompute differently).
  * Setting `spark.graft.checkpointDir` (or the `GRAFT_CHECKPOINT_DIR`
  * environment variable) switches every iterative round to a RELIABLE
  * `checkpoint()` into that directory — HDFS/S3-backed, survives executor
  * loss, the production configuration for 100 TB runs. Labels are
  * identical either way (asserted in Round9OpsSpec); only the
  * fault-tolerance story changes.
  */
object Checkpoints {
  /** One task's worth of input: the ~8 MB per task that [[sizeTuned]]
    * coalesces pins to, and the [[fitsOneTask]] bar below which
    * `DeliverySemantics.upsert` merges and `graft.plans.OneTaskSort`
    * sorts in a single partition.
    */
  val BytesPerTask: Long = 8L << 20

  /** Whether `plan`'s size estimate (plan statistics, no job) is within
    * one task's worth. */
  def fitsOneTask(plan: LogicalPlan): Boolean =
    plan.stats.sizeInBytes <= BytesPerTask

  /** Plan-evidence hook for [[graft.PlanDump]] (r18 verdict item:
    * checkpointed plans print only the post-materialization scan, so
    * "one pinned pass" was inferred from code, not visible in the
    * dump). When capture is on, every truncate records its CHILD's
    * formatted plan before materializing, and PlanDump appends the
    * drained sections to the query's dump — the pre-pin subtree stays
    * auditable end-to-end. Off (zero-cost) outside PlanDump.
    */
  private val captured =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private var capturing = false
  private[graft] def startCapture(): Unit = {
    captured.clear(); capturing = true
  }
  private[graft] def drainCapture(): Seq[String] = {
    capturing = false
    val out = Vector.newBuilder[String]
    var s = captured.poll()
    while (s != null) { out += s; s = captured.poll() }
    captured.clear()
    out.result()
  }

  def truncate(df: DataFrame): DataFrame = {
    if (capturing)
      captured.add(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    val s = df.sparkSession
    s.conf.getOption("spark.graft.checkpointDir")
      .orElse(sys.env.get("GRAFT_CHECKPOINT_DIR")) match {
      case Some(dir) =>
        // setCheckpointDir is idempotent per context; respect one already
        // configured by the application
        if (s.sparkContext.getCheckpointDir.isEmpty)
          s.sparkContext.setCheckpointDir(dir)
        df.checkpoint() // eager + reliable
      case None => sizeTuned(df.localCheckpoint())
    }
  }

  /** Post-materialization task-width tuning for a local checkpoint: the
    * pin materializes at whatever width its plan ended with (the session
    * shuffle width for most pinned aggregates — AQE's coalescing does
    * not apply inside an eagerly-built checkpoint), so a 500-row pinned
    * frame lands as 32 near-empty blocks and EVERY downstream stage
    * over it pays one task per block (~5 ms dispatch each; the r19
    * JobProbe measured 170–340 ms × 32-task stages across the pin-heavy
    * queries — guide §2.2, fewer larger partitions). The blocks are
    * already materialized, so their MEASURED size is free from the
    * block manager: view the checkpoint through a narrow coalesce
    * targeting ~8 MB of in-memory bytes per task, never below 1, never
    * above the existing width. Fully size-adaptive — a 100 GB pin keeps
    * its width — and rows are untouched (coalesce is a narrow view).
    */
  private def sizeTuned(ck: DataFrame): DataFrame = {
    val rddOpt = ck.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }
    rddOpt match {
      case Some(rdd) if rdd.getNumPartitions > 1 =>
        ck.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == rdd.id) match {
          case Some(info) =>
            val bytes = info.memSize + info.diskSize
            val target = math.max(1L, bytes / BytesPerTask).toInt
            if (target < rdd.getNumPartitions) ck.coalesce(target) else ck
          case None => ck
        }
      case _ => ck
    }
  }
}
