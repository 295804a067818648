package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions
import graft.operators.{DedupOps, TextOps}

/** A session configured ONLY via `spark.sql.extensions` (the cluster-wide
  * installation path — no imperative `register()` call) must expose the
  * full native-function surface: every name in `GraftFunctions`' one
  * function list, the dot-product optimizer rule and the top-k planner
  * strategy — the same set `GraftFunctions.register` binds on a live
  * session. Regression for the round-2 gap where only 3 of 5 were
  * injected.
  */
class GraftExtensionsSpec extends SparkSpec {

  private def withExtensionOnlySession[A](f: SparkSession => A): A = {
    // force SparkSpec.session to exist first so both share one context.
    // `spark.sql.extensions` is a STATIC conf read from the (shared)
    // SparkContext, so the string-config route can't bind on a reused
    // context — Builder.withExtensions drives the identical
    // GraftExtensions.apply installation path.
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      f(s)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  private val names = GraftFunctions.sqlFunctions.map(_._1.funcName)

  test("every name in the function list exists on the extension-only and " +
    "the registered session, and not on the bare shared session") {
    assert(names.size === 10 && names.distinct === names, names)
    withExtensionOnlySession { s =>
      names.foreach(n => assert(s.catalog.functionExists(n), n))
    }
    names.foreach(n => assert(registeredSpark.catalog.functionExists(n), n))
    names.foreach(n => assert(!spark.catalog.functionExists(n), n))
  }

  test("extensions-only session resolves all 10 native functions in SQL") {
    withExtensionOnlySession { s =>
      val row = s.sql(
        """SELECT
          |  graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
          |  graft_minhash(array('ab', 'bc')) AS mh,
          |  graft_simhash(split('hello world graft engine', ' ')) AS sh,
          |  graft_minhash_tokens(split('a b c d e f g h', ' ')) AS mht,
          |  graft_fingerprint(split('rolling fingerprint input text', ' '))
          |    AS fp,
          |  graft_simhash_portable(split('hello world graft engine', ' '))
          |    AS shp,
          |  graft_fingerprint_portable(
          |    split('rolling fingerprint input text', ' ')) AS fpp,
          |  graft_shingles(split('a b a b a b c', ' ')) AS shg,
          |  graft_pq_adc(array(array(10L, 20L), array(30L, 40L)),
          |    array(1L, 0L)) AS adc,
          |  graft_pq_encode(array(1.0D, 2.0D, 3.0D, 4.0D),
          |    array(array(array(9.0D, 9.0D), array(1.0D, 2.0D)),
          |      array(array(3.0D, 5.0D), array(0.0D, 0.0D)))) AS enc
          |""".stripMargin).collect().head
      assert(row.getDouble(0) === 11.0)
      assert(row.getAs[Seq[Long]](1).length === 60)
      assert(row.getAs[Seq[Long]](3).length === 60)
      assert(row.getAs[scala.collection.Seq[String]](7).toSeq ===
        Seq("a b a", "b a b", "a b c"))
      assert(row.getLong(8) === 50L)
      assert(row.getAs[scala.collection.Seq[Long]](9).toSeq === Seq(1L, 0L))
      // values must agree with the imperative-registration path
      val viaRegister = registeredSpark.sql(
        "SELECT graft_simhash(split('hello world graft engine', ' ')), " +
          "graft_fingerprint(split('rolling fingerprint input text', ' ')), " +
          "graft_simhash_portable(split('hello world graft engine', ' ')), " +
          "graft_fingerprint_portable(" +
          "split('rolling fingerprint input text', ' '))")
        .collect().head
      assert(row.getLong(2) === viaRegister.getLong(0))
      assert(row.getAs[scala.collection.Seq[Long]](4).toSeq ===
        viaRegister.getAs[scala.collection.Seq[Long]](1).toSeq)
      assert(row.getLong(5) === viaRegister.getLong(2))
      assert(row.getAs[scala.collection.Seq[Long]](6).toSeq ===
        viaRegister.getAs[scala.collection.Seq[Long]](3).toSeq)
      // the hash modes are genuinely different functions
      assert(row.getLong(2) !== row.getLong(5))
      assert(row.getAs[scala.collection.Seq[Long]](4).toSeq !==
        row.getAs[scala.collection.Seq[Long]](6).toSeq)
    }
  }

  test("extensions-only session runs the dedup + fingerprint pipelines") {
    withExtensionOnlySession { s =>
      assert(DedupOps.dedupNear(s, sf0001).limit(1).count() >= 0)
      assert(TextOps.fingerprint(s, sf0001).limit(5).count() === 5)
    }
  }

  test("extensions-only session fuses the composed dot product (rule injected)") {
    withExtensionOnlySession { s =>
      val df = Tables.embeddings(s, sf0001).selectExpr(
        """aggregate(zip_with(embedding, embedding, (x, y) ->
          | CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          | CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS dot""".stripMargin)
      assert(df.queryExecution.optimizedPlan.toString.contains("graft_dot"))
    }
  }

  test("extensions-only session plans TopKPerGroupNode (strategy injected)") {
    withExtensionOnlySession { s =>
      // build the logical node DIRECTLY — no TopKPerGroup.install call,
      // so only the injected planner strategy can make this executable
      val base = Tables.orders(s, sf0001)
        .select(org.apache.spark.sql.functions.col("o_custkey"),
          org.apache.spark.sql.functions.col("o_orderkey"),
          org.apache.spark.sql.functions.col("o_totalprice"))
      val analyzed = base.queryExecution.analyzed
      def attr(n: String) = analyzed.output.find(_.name == n).get
      val df = org.apache.spark.sql.GraftSqlShims.ofRows(s,
        graft.plans.TopKPerGroupNode(Seq(attr("o_custkey")),
          attr("o_totalprice"), descending = true, attr("o_orderkey"), 3,
          analyzed))
      assert(df.count() > 0)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TopKPerGroupPartial") &&
        p.contains("TopKPerGroupFinal"), p)
    }
  }
}
