package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Native top-k-per-group: the per-group generalization of Spark's
  * `TakeOrderedAndProject`, built as the full custom-operator stack —
  * logical node → planner [[SparkStrategy]] → partial+final physical
  * [[TopKPerGroupExec]] — the §2b preference-order rung (c) that
  * composition can't reach.
  *
  * Why a custom operator at all: the built-in form
  * (`row_number().over(partitionBy(g).orderBy(o)) <= k`) must shuffle
  * EVERY row to its group's reducer and sort entire groups there, even
  * though all but k rows per group are discarded. This operator runs a
  * bounded k-heap per group BEFORE the exchange (the map-side-combine
  * idea applied to top-k), so the shuffle carries at most
  * k · groups · partitions rows and the reducer never sorts a full
  * group — at 100 TB with hot groups (skewed keys), the difference
  * between shuffling k rows and shuffling the group.
  *
  * Execution contract: score is any ORDERABLE column (compared with the
  * type's own interpreted ordering — double, decimal, long, string, …),
  * tie-break is a UNIQUE integer — (score desc|asc, tie asc) is then a
  * TOTAL order, which makes the kept set deterministic and the partial
  * pass exact (the best k of a union is always a subset of the union of
  * per-part best k). NULL score/tie refuses loudly.
  * Output rows are the child's rows unchanged; within-group emission is
  * best-first.
  *
  * [[TopKPerGroup.apply]] installs the strategy on whatever session it
  * runs on ([[TopKPerGroup.install]], `experimental.extraStrategies`), so
  * operators need no session setup. The two SQL binders built from
  * `GraftFunctions`' one function list install it too:
  * `GraftFunctions.register` calls `install`, and
  * `spark.sql.extensions=graft.functions.GraftExtensions` injects it at
  * session build.
  */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    scoreExpr: Expression,
    descending: Boolean,
    tieExpr: Expression,
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  require(groupExprs.nonEmpty,
    "top-k-per-group needs at least one group column; for a global " +
      "top-k use orderBy(...).limit(k) (TakeOrderedAndProject)")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan)
      : TopKPerGroupNode = copy(child = c)
}

object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(g, o, d, t, k, child) =>
      val partial = TopKPerGroupExec(g, o, d, t, k, partial = true,
        planLater(child))
      TopKPerGroupExec(g, o, d, t, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** Physical bounded-heap pass. `partial = true` runs on whatever
  * partitioning the child has (the map side); `partial = false` demands
  * [[ClusteredDistribution]] on the group keys, so the planner inserts
  * exactly one hash exchange between the two — the HashAggregate
  * partial/final shape, with a k-heap where the aggregation buffer
  * would be. Memory per task is k rows per group resident in that
  * partition, HARD-CAPPED on the partial side: past
  * `spark.graft.topk.maxGroupsPerTask` distinct groups the partial
  * pass flushes its heaps and streams the remaining rows through
  * unabsorbed — always correct for a partial (the final pass trims,
  * exactly as if the partial weren't there), so a near-unique group
  * key degrades to the plain shuffle instead of OOM. The default cap
  * is 100k groups per task: per-group state is heavyweight (a
  * PriorityQueue + k copied rows + a copied key, ~1 KB) so 100k
  * groups ≈ 100 MB/task — safe across 32 concurrent tasks where the
  * original 4M default measured ~700 MB/task and OOM'd the 100×
  * group-per-row tier (BENCH_stress100x_rel_r10 postmortem, PERF.md
  * r10). The final pass holds k·groups-in-partition rows — its own
  * output, which must materialize regardless. The operator's design
  * regime remains few/hot groups with k ≪ group size (PERF.md's
  * 10.5× case); for group-per-row workloads the window form's sort
  * is the right plan.
  */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    scoreExpr: Expression,
    descending: Boolean,
    tieExpr: Expression,
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroupFinal"

  // SQL-UI metrics: output rows says how hard the partial pass squeezed
  // the exchange; groups says how much heap state the task held
  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numGroups" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of groups"),
    "numPassthroughRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "rows passed through on group overflow"))

  override protected def withNewChildInternal(c: SparkPlan)
      : TopKPerGroupExec = copy(child = c)

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val gExprs = groupExprs
    val sExpr = scoreExpr
    val tExpr = tieExpr
    val desc = descending
    val kk = k
    val rowsMetric = longMetric("numOutputRows")
    val groupsMetric = longMetric("numGroups")
    val passMetric = longMetric("numPassthroughRows")
    // Bounded-memory guarantee for the PARTIAL pass: heap state is
    // k rows × groups-in-partition, which explodes when the group key is
    // near-unique. Past this many groups the partial pass STOPS absorbing
    // — it flushes its heaps and streams the remaining rows through
    // untouched, which is always CORRECT for a partial (extra rows just
    // reach the final pass, exactly as if the partial weren't there) and
    // caps its memory at maxGroups·k rows. The final pass never
    // passes through: its state equals its output, which must
    // materialize regardless.
    val maxGroups =
      if (!partial) Long.MaxValue
      else conf.getConfString("spark.graft.topk.maxGroupsPerTask",
        "100000").toLong
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(gExprs, schema)
      // CODEGEN'd (score, tie) evaluation — one compiled projection per
      // partition instead of two interpreted Expression.eval per row
      val scoreTieProj = UnsafeProjection.create(Seq(sExpr, tExpr), schema)
      val scoreType = sExpr.dataType
      // the score's own type ordering (double, decimal, long, string, …)
      val scoreOrd = org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(scoreType)
        .asInstanceOf[Ordering[Any]]
      val tieGetter: UnsafeRow => Long = tExpr.dataType match {
        case org.apache.spark.sql.types.LongType => _.getLong(1)
        case org.apache.spark.sql.types.IntegerType => _.getInt(1).toLong
        case other => sys.error(
          s"top-k tie-break must be an integral column, got $other")
      }
      // positive ⟺ a beats b in the keep-order (total: unique tie)
      final case class Entry(score: Any, tie: Long, row: InternalRow)
      val keepOrder: Ordering[Entry] = new Ordering[Entry] {
        def compare(a: Entry, b: Entry): Int = {
          val s = scoreOrd.compare(a.score, b.score)
          val c = if (desc) s else -s
          if (c != 0) c else -java.lang.Long.compare(a.tie, b.tie)
        }
      }
      // reversed queue ⇒ head/dequeue = the WORST retained entry, so a
      // better arrival replaces it in O(log k)
      val heaps = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.PriorityQueue[Entry]]()
      var overflowed = false
      while (iter.hasNext && !overflowed) {
        val row = iter.next()
        val st = scoreTieProj(row)
        // NULL score or tie has no defined rank — refuse loudly rather
        // than silently dropping or sorting nulls differently per engine
        require(!st.isNullAt(0) && !st.isNullAt(1),
          "top-k score/tie-break must be non-null")
        // st is the projection's reused buffer — rawScore may be a VIEW
        // into it (UTF8String, UnsafeRow struct, UnsafeArrayData, …).
        // It is valid until the next scoreTieProj call, so compare with
        // it for free and only materialize a stable copy
        // (InternalRow.copyValue handles every buffer-backed type) for
        // rows that actually enter the heap. Losing rows — the vast
        // majority in the hot-group regime — allocate nothing.
        val rawScore = st.get(0, scoreType)
        val tie = tieGetter(st)
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = scala.collection.mutable.PriorityQueue
            .empty(keepOrder.reverse)
          heaps.put(key.copy(), heap)
          if (heaps.size() > maxGroups) overflowed = true
        }
        if (heap.size < kk) {
          heap.enqueue(
            Entry(InternalRow.copyValue(rawScore), tie, row.copy()))
        } else {
          val worst = heap.head
          val s = scoreOrd.compare(rawScore, worst.score)
          val c = if (desc) s else -s
          val cmp = if (c != 0) c else -java.lang.Long.compare(tie, worst.tie)
          if (cmp > 0) {
            heap.dequeue()
            heap.enqueue(
              Entry(InternalRow.copyValue(rawScore), tie, row.copy()))
          }
        }
      }
      import scala.jdk.CollectionConverters._
      groupsMetric += heaps.size()
      val buffered = heaps.values().asScala.iterator.flatMap { heap =>
        // dequeueAll drains weakest-first; reverse → best-first emission
        heap.dequeueAll[Entry].reverseIterator.map { e =>
          rowsMetric += 1; e.row
        }
      }
      if (!overflowed) buffered
      else buffered ++ iter.map { r =>
        // group-cardinality overflow (partial only): remaining rows
        // stream through unabsorbed — the final pass trims them
        rowsMetric += 1; passMetric += 1; r
      }
    }
  }
}

object TopKPerGroup {

  /** Idempotent live-session install of the planner strategy (the
    * extension route covers cluster-wide config). */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerGroupStrategy

  /** Top `k` rows per `groupCols` by `scoreCol` (DOUBLE), ties broken by
    * the unique LONG `tieCol`. Returns the child's rows unchanged.
    */
  def apply(df: DataFrame, groupCols: Seq[String], scoreCol: String,
      descending: Boolean, tieCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val analyzed = df.queryExecution.analyzed
    def resolve(n: String): Attribute = analyzed.output
      .find(a => spark.sessionState.conf.resolver(a.name, n))
      .getOrElse(sys.error(
        s"column $n not found in ${analyzed.output.map(_.name)}"))
    GraftSqlShims.ofRows(spark,
      TopKPerGroupNode(groupCols.map(resolve(_)), resolve(scoreCol),
        descending, resolve(tieCol), k, analyzed))
  }
}
