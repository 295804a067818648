package graft

import org.apache.spark.sql.functions._

/** The native `graft_shingles` expression must be value-identical to the
  * declarative chain it replaced —
  * `array_distinct(transform(sequence(0, n-3), i -> concat_ws(' ', ...)))`
  * wrapped in the `size(toks) >= 3` CASE — including first-occurrence
  * ordering, the empty result for short docs, and the empty (not NULL)
  * result for NULL token arrays (the CASE's ELSE arm fires under
  * `size(NULL) = NULL`). The replacement exists because
  * InferFiltersFromGenerate copies an explode's generator child into an
  * inferred Filter: with the interpreted lambda chain there, every
  * `explode(shingles)` paid 3–4 full shingle-build re-evaluations per row
  * (llm_novelty_rate measured 7.3 s → 1.4 s at sf0.1 from this swap
  * alone). A native one-pass expression makes the duplication harmless.
  */
class ShingleSetSpec extends SparkSpec {
  override lazy val spark = registeredSpark

  private val declarative =
    """array_distinct(
      |  CASE WHEN size(toks) >= 3 THEN
      |    transform(sequence(0, size(toks) - 3),
      |              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      |  ELSE array() END)""".stripMargin

  test("graft_shingles == declarative chain on the whole fixture corpus") {
    val mismatches = Tables.documents(spark, "/root/testdata/sf0.01")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("a", expr(declarative))
      .withColumn("b", expr("graft_shingles(toks)"))
      .filter(not(col("a") <=> col("b")))
      .count()
    assert(mismatches === 0)
  }

  test("edge cases: short, exact-3, repeated, and NULL token arrays") {
    val rows = spark.sql(
      """SELECT
        |  graft_shingles(array('a', 'b')) AS short,
        |  graft_shingles(array('x', 'y', 'z')) AS exact3,
        |  graft_shingles(array('t', 't', 't', 't')) AS repeated,
        |  graft_shingles(CAST(NULL AS ARRAY<STRING>)) AS nullin
        |""".stripMargin).collect().head
    assert(rows.getAs[scala.collection.Seq[String]]("short").isEmpty)
    assert(rows.getAs[scala.collection.Seq[String]]("exact3").toSeq ===
      Seq("x y z"))
    assert(rows.getAs[scala.collection.Seq[String]]("repeated").toSeq ===
      Seq("t t t"))
    // the declarative CASE yields [] (not NULL) on NULL input; so must we
    assert(rows.getAs[scala.collection.Seq[String]]("nullin") !== null)
    assert(rows.getAs[scala.collection.Seq[String]]("nullin").isEmpty)
  }

  test("codegen and interpreted paths agree") {
    val df = Tables.documents(spark, sf0001)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("shg", expr("graft_shingles(toks)"))
    val viaCodegen = df.select(col("doc_id"), col("shg")).collect()
    val viaFilter = df // Filter path evaluates the expression interpreted
      .filter(size(col("shg")) >= 0)
      .select(col("doc_id"), col("shg")).collect()
    assert(viaCodegen.map(_.toString).sorted.toSeq ===
      viaFilter.map(_.toString).sorted.toSeq)
  }
}
