package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The optimizer rule must rewrite the composed aggregate/zip_with dot
  * product into the native expression WITHOUT changing any semantics —
  * including the null-poisoning and length-mismatch behavior of the
  * higher-order form. (Fixtures go through parquet: a purely local
  * relation would be constant-folded before the plan can be observed.)
  */
class RewriteDotProductSpec extends SparkSpec {
  override lazy val spark = registeredSpark

  private def composedDot(df: DataFrame): DataFrame =
    df.selectExpr("id",
      """aggregate(zip_with(a, b, (x, y) ->
        | CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        | CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS dot""".stripMargin)

  private def viaParquet(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft_dotrw").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("rule fires: optimized plan contains graft_dot, results unchanged") {
    import spark.implicits._
    val src = viaParquet(Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
      (2L, Seq(1.5f, -2.5f), Seq(2.0f, 4.0f))
    ).toDF("id", "a", "b"))
    val df = composedDot(src)
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      df.queryExecution.optimizedPlan.toString)
    val got = df.orderBy("id").collect().map(_.getDouble(1))
    assert(got.toSeq === Seq(1 * 4 + 2 * 5 + 3 * 6.0, 1.5 * 2 + -2.5 * 4.0))
  }

  test("strict semantics: length mismatch and null elements yield NULL") {
    import spark.implicits._
    val src = viaParquet(Seq(
      (1L, Seq[java.lang.Float](1.0f, 2.0f), Seq[java.lang.Float](3.0f)),
      (2L, Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](3.0f, 4.0f)),
      (3L, Seq[java.lang.Float](1.0f, 2.0f), Seq[java.lang.Float](3.0f, 4.0f))
    ).toDF("id", "a", "b"))
    val df = composedDot(src)
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_dot"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).isNullAt(1), "length mismatch must be NULL")
    assert(rows(1).isNullAt(1), "null element must poison the sum")
    assert(rows(2).getDouble(1) === 1 * 3 + 2 * 4.0)
  }

  test("rewritten form equals higher-order form on the real embeddings") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id").as("id"), col("embedding").as("a"),
        col("embedding").as("b"))
    val rewritten = composedDot(emb)
    assert(rewritten.queryExecution.optimizedPlan.toString
      .contains("graft_dot"))
    val direct = emb.selectExpr("id", "graft_dot(a, b) AS dot")
    assert(rewritten.orderBy("id").collect().map(_.getDouble(1)).toSeq ===
      direct.orderBy("id").collect().map(_.getDouble(1)).toSeq)
  }

  // A float×float multiply under an outer double cast rounds each product
  // to float before accumulating — the fused DotProduct multiplies in
  // double, so rewriting would change low-order bits. The guard must keep
  // the higher-order form.
  test("rule does NOT fire when the multiply runs in float precision") {
    import spark.implicits._
    val src = viaParquet(Seq(
      (1L, Seq(1.1f, 2.2f), Seq(3.3f, 4.4f))
    ).toDF("id", "a", "b"))
    val df = src.selectExpr("id",
      """aggregate(zip_with(a, b, (x, y) -> CAST(x * y AS DOUBLE)),
        | CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS dot""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      df.queryExecution.optimizedPlan.toString)
    // and the unrewritten result keeps float-product semantics
    val expected = (1.1f * 3.3f).toDouble + (2.2f * 4.4f).toDouble
    assert(df.collect().head.getDouble(1) === expected)
  }

  test("rule does NOT fire on a different fold (sum of maxes)") {
    import spark.implicits._
    val src = viaParquet(Seq(
      (1L, Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
      (2L, Seq(1.5f, -2.5f), Seq(2.0f, 4.0f))
    ).toDF("id", "a", "b"))
    val df = src.selectExpr("id",
      """aggregate(zip_with(a, b, (x, y) ->
        | greatest(CAST(x AS DOUBLE), CAST(y AS DOUBLE))),
        | CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS m""".stripMargin)
    assert(!df.queryExecution.optimizedPlan.toString.contains("graft_dot"))
    assert(df.orderBy("id").collect().map(_.getDouble(1)).toSeq ===
      Seq(4 + 5 + 6.0, 2 + 4.0))
  }
}
