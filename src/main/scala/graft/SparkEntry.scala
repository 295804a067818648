package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Every operator module in the engine; each contributes `queries` (name →
    * DataFrame builder) and `oracle` (name → DuckDB twin SQL).
    */
  private val modules: Seq[OpModule] = Seq(
    IngestOps, RelationalOps, JoinOps, AggOps, WindowOps, SortSetOps,
    ScalarFnOps, StreamTwinOps, UdfOps, TextOps, DedupOps, SimOps,
    MultimodalOps, ComposedOps, PartSuppOps, SubqueryOps, ReshapeOps,
    DataQualityOps, PipelineOps, CurationOps, EventOps, GraphOps)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    IngestOps.exactlyOnceUpsert(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each builder
    * first installs [[graft.plans.OneTaskSort]] on its session, so every
    * caller (Verify, Bench, perfbench, the tests) runs the same plans.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap.map { case (name, build) =>
      name -> { (spark: SparkSession, dir: String) =>
        graft.plans.OneTaskSort.install(spark)
        build(spark, dir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracle).toMap
}
