package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one SparkSession per suite, UTC, small shuffle.
  * `spark` is never configured with the native SQL functions, so every
  * suite runs the operators on a bare session; tests that call the
  * `graft_*` SQL names use [[registeredSpark]].
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf0001 = "/root/testdata/sf0.001"

  /** A child of the shared session with `GraftFunctions.register` applied
    * (SQL names, dot-product rewrite, top-k strategy). */
  def registeredSpark: SparkSession = SparkSpec.registered

  /** Execute and return the AQE FINAL plan string — collect() finalizes
    * adaptive re-planning, and `toString` appends the pre-AQE "Initial
    * Plan" section, which plan audits must not match against.
    */
  def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }
}

object SparkSpec {
  // One session per JVM (Test / fork := true → per sbt test run), shared
  // across suites to keep `sbt test` fast.
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  lazy val registered: SparkSession = {
    val s = session.newSession()
    graft.functions.GraftFunctions.register(s)
    s
  }
}
