package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.plans.OneTaskSort

/** [[OneTaskSort]]: a global sort of an input within one task's worth
  * runs as a local sort in one partition, with the rows and their order
  * of the range-partitioned sort it replaces.
  */
class OneTaskSortSpec extends SparkSpec {

  /** Child sessions of the shared one: with the rule, and without. */
  private lazy val ruled: SparkSession = {
    val s = spark.newSession()
    OneTaskSort.install(s)
    s
  }
  private lazy val bare: SparkSession = spark.newSession()

  /** sf0.001 events with a double key carrying nulls and NaNs. */
  private def events(s: SparkSession): DataFrame =
    Tables.events(s, sf0001).withColumn("v",
      when(col("event_id") % 5 === 0, lit(null).cast("double"))
        .when(col("event_id") % 7 === 0, lit(Double.NaN))
        .otherwise(col("value")))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  // each order ends in the unique event_id, so it is total
  private val orders: Seq[(String, Seq[Column])] = Seq(
    "ascending" -> Seq(col("event_id")),
    "descending" -> Seq(col("event_id").desc),
    "multiple keys" ->
      Seq(col("event_type"), col("user_id").desc, col("event_id")),
    "nulls first, NaN" -> Seq(col("v").asc_nulls_first, col("event_id")),
    "nulls last, NaN" -> Seq(col("v").desc_nulls_last, col("event_id")))

  orders.foreach { case (name, keys) =>
    test(s"$name: the one-partition sort returns the bare session's rows " +
      "in its order") {
      val sorted = events(ruled).orderBy(keys: _*)
      val plan = sorted.queryExecution.optimizedPlan
      assert(plan.collect { case s: Sort => s.global } === Seq(false))
      assert(plan.collect { case r: Repartition => r.numPartitions } ===
        Seq(1))
      assert(rows(sorted) === rows(events(bare).orderBy(keys: _*)))
    }
  }

  test("fn_string runs one Spark job and plans no range exchange") {
    val s = spark.newSession()
    val df = SparkEntry.queries("fn_string")(s, sf0001)
    assert(jobs(df.collect()) === 1)
    assert(!finalPlan(df).contains("rangepartitioning"))
    assert(rows(df) ===
      rows(graft.operators.ScalarFnOps.fnString(bare, sf0001)))
  }

  test("an input estimated above one task keeps the range exchange") {
    // a million-row range estimate, 2000 real rows
    def big(s: SparkSession): DataFrame = s.range(1L << 20)
      .withColumn("v", col("id") % 97).filter(col("id") < 2000)
      .orderBy(col("v").desc, col("id"))
    val sorted = big(ruled)
    assert(!Checkpoints.fitsOneTask(
      sorted.queryExecution.optimizedPlan.children.head))
    assert(finalPlan(sorted).contains("rangepartitioning"))
    assert(rows(sorted) === rows(big(bare)))
  }

  test("a sort under a limit stays a TakeOrderedAndProject top-k") {
    val capped: Seq[DataFrame => DataFrame] = Seq(
      _.limit(7),
      _.select("event_id", "v").limit(7),
      _.offset(3).limit(7))
    capped.foreach { cap =>
      def topK(s: SparkSession): DataFrame =
        cap(events(s).orderBy(col("v").desc_nulls_last, col("event_id")))
      val df = topK(ruled)
      assert(df.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"))
      assert(rows(df) === rows(topK(bare)))
    }
  }

  test("a streaming complete-mode sort keeps its range exchange") {
    val base = Files.createTempDirectory("graft_onetask").toString
    Tables.events(spark, sf0001).coalesce(2)
      .write.parquet(s"$base/src")
    val schema = spark.read.parquet(s"$base/src").schema
    def counted(df: DataFrame): DataFrame =
      df.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type"))
    val q = counted(ruled.readStream.schema(schema).parquet(s"$base/src"))
      .writeStream.format("memory").queryName("graft_onetask_sorted")
      .outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val exec = q.asInstanceOf[
      org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution
    assert(exec.optimizedPlan.collect { case s: Sort => s.global } ===
      Seq(true))
    assert(exec.executedPlan.toString.contains("rangepartitioning"))
    assert(rows(ruled.table("graft_onetask_sorted")) ===
      rows(counted(bare.read.parquet(s"$base/src"))))
  }
}
