package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SimOps

/** Regression for the r15 verdict's lone codegen fallback: DotProduct's
  * generated code referenced `ev.isNull` even when the expression was
  * NON-nullable (strict = false with two non-nullable array children —
  * e.g. `graft_dot(centroid, centroid)` on a collect_list output), a
  * variable nullSafeCodeGen only declares for nullable expressions.
  * Janino rejected the undeclared name ("isNull_N is not an rvalue") and
  * Spark silently demoted the whole projection to interpreter mode —
  * correct but slow if that shape ever reached a hot path. These tests
  * run under CODEGEN_ONLY, which turns any interpreter fallback into a
  * hard failure.
  */
class CodegenFallbackSpec extends SparkSpec {

  private def withCodegenOnly[A](s: SparkSession)(body: => A): A = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "CODEGEN_ONLY")
    try body
    finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  test("docOutlier's centroid self-dot (non-nullable children) compiles " +
    "under CODEGEN_ONLY — the exact r15 fallback shape") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cgf").toString
    Tables.embeddings(spark, sf0001).limit(3)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    withCodegenOnly(spark) {
      val rows = SimOps.docOutlier(spark, dir).collect()
      assert(rows.length === 3)
    }
  }

  test("graft_dot codegen: non-nullable and nullable children, fast and " +
    "strict paths, all compile under CODEGEN_ONLY with the right value") {
    val spark = registeredSpark
    import spark.implicits._
    val expected = 1.0 * 2.0 + 2.0 * 0.5 + 3.0 * -1.0
    withCodegenOnly(spark) {
      // non-nullable children (array(...) literals): the fast path here
      // is precisely the shape whose generated code used to reference
      // the undeclared isNull local; the strict path is exercised via
      // the higher-order form RewriteDotProduct rewrites to strict=true
      val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(2.0, 0.5, -1.0)))
        .toDF("f", "d")
      val got = df.select(
        call_function("graft_dot",
          array(lit(1.0f), lit(2.0f), lit(3.0f)),
          array(lit(2.0), lit(0.5), lit(-1.0))).as("nn_fast"),
        expr("aggregate(zip_with(array(1.0D, 2.0D, 3.0D), " +
          "array(2.0D, 0.5D, -1.0D), (x, y) -> x * y), 0D, " +
          "(acc, v) -> acc + v)").as("nn_strict"),
        // nullable children (case-class encoder arrays are nullable)
        call_function("graft_dot", col("f"), col("d")).as("n_fast"),
        expr("aggregate(zip_with(transform(f, x -> double(x)), d, " +
          "(x, y) -> x * y), 0D, (acc, v) -> acc + v)").as("n_strict"))
        .collect().head
      (0 until 4).foreach(i =>
        assert(got.getDouble(i) === expected, df.columns.lift(i)))
    }
  }

  test("graft_pq_adc and graft_pq_encode compile under CODEGEN_ONLY " +
    "with the right values, on nullable and non-nullable children") {
    val spark = registeredSpark
    import spark.implicits._
    // 2 subspaces x 2 codes x 2 dims toy book; v = [1, 2, 3, 4]:
    // subspace 0 slice (1,2) is nearer code 1 = (1,2) -> code 1;
    // subspace 1 slice (3,4) nearer code 0 = (3,5) (d=1) than (0,0)
    // (d=25) -> code 0. ADC with lut [[10,20],[30,40]] = 20 + 30.
    val cb = Seq(
      Seq(Seq(9.0, 9.0), Seq(1.0, 2.0)),
      Seq(Seq(3.0, 5.0), Seq(0.0, 0.0)))
    withCodegenOnly(spark) {
      // nullable children (encoder-produced arrays)
      val df = Seq((Array(1.0f, 2.0f, 3.0f, 4.0f),
        Array(Array(10L, 20L), Array(30L, 40L)), Array(1L, 0L)))
        .toDF("v", "lut", "codes")
      val got = df.select(
        call_function("graft_pq_encode", col("v"), typedlit(cb))
          .as("codes_n"),
        call_function("graft_pq_adc", col("lut"), col("codes"))
          .as("adc_n"),
        // non-nullable children (array(...) literals)
        call_function("graft_pq_adc",
          array(array(lit(10L), lit(20L)), array(lit(30L), lit(40L))),
          array(lit(1L), lit(0L))).as("adc_nn"))
        .collect().head
      assert(got.getSeq[Long](0) === Seq(1L, 0L))
      assert(got.getLong(1) === 50L)
      assert(got.getLong(2) === 50L)
    }
  }
}
