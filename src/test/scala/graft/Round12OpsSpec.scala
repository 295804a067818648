package graft

import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Round-12 additions: the doc-array BPE training loop and the
  * fingerprint-keyed artifact store.
  */
class Round12OpsSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"

  private def streamRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("doc_id"), col("pos"), col("tok"))
      .orderBy(col("doc_id"), col("pos"))
      .collect().map(_.toSeq.mkString("|")).toSeq

  /** The doc-array state as the positional (doc_id, pos, tok) stream of
    * [[TextOps.bpeLoopPlain]]'s output. */
  private def bpeArrayStream(
      state: org.apache.spark.sql.Dataset[(Long, Array[String])])
      : org.apache.spark.sql.DataFrame =
    state.toDF("doc_id", "toks")
      .select(col("doc_id"),
        posexplode(col("toks")).as(Seq("pos0", "tok")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("tok"))

  test("doc-array BPE loop is bit-identical to the plain loop: " +
    "same merges (pair, order, count-at-selection), same final stream") {
    for (dir <- Seq(sf0001, sf001)) {
      val (mPlain, sPlain) = TextOps.bpeLoopPlain(spark, dir)
      val (mArr, stArr) = TextOps.bpeLoopArrays(spark, dir)
      assert(mArr === mPlain, s"merge table diverged at $dir")
      assert(streamRows(bpeArrayStream(stArr)) ===
        streamRows(sPlain), s"final token stream diverged at $dir")
      stArr.unpersist()
    }
  }

  test("artifact store invalidates on fixture regeneration: " +
    "llm_bpe_apply_served re-trains instead of serving stale merges") {
    val s2 = spark
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe_regen").toString
    def writeDocs(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // corpus v1: merges favor (x y)
    writeDocs(Seq.fill(8)("x y x y x y q"))
    val v1 = TextOps.bpeApplyServed(spark, dir).collect().toSeq
    assert(v1 === TextOps.bpeApply(spark, dir).collect().toSeq)
    // regenerate the fixture IN PLACE with a different corpus; a
    // dir-keyed cache would keep serving v1's merge table silently
    writeDocs(Seq.fill(8)("p q r p q r p q r s t"))
    val v2 = TextOps.bpeApplyServed(spark, dir).collect().toSeq
    assert(v2 === TextOps.bpeApply(spark, dir).collect().toSeq,
      "served path diverged from retrain after fixture regeneration")
    assert(v2 !== v1)
  }

  test("partsupp guard fires even when the part table is EMPTY " +
    "(< 4 suppliers must never pass silently)") {
    val dir = java.nio.file.Files.createTempDirectory("ps_empty").toString
    val s2 = spark
    import s2.implicits._
    Seq.empty[Long].toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Seq(1L, 2L).toDF("s_suppkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val e = intercept[Exception] {
      graft.operators.PartSuppOps.partsupp(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(messages(e).exists(_.contains("4 suppliers")),
      s"unexpected error: $e")
  }

  test("DSIR selection upweights target-profile documents: a planted " +
    "en-vocab slice dominates the Gumbel top-k") {
    val s2 = spark
    import s2.implicits._
    // 400 docs: the 100 'en' docs draw from a disjoint target vocabulary,
    // so their hashed-gram profile carries a strongly positive importance
    // ratio; the 300 raw-only docs should be resampled away.
    val docs = (0 until 400).map { i =>
      val en = i % 4 == 0
      val vocab =
        if (en) Array("alpha", "beta", "gamma", "delta")
        else Array("noise", "crawl", "boiler", "plate", "spam")
      val text = Array.tabulate(30)(j =>
        vocab((i * 31 + j * 7) % vocab.length)).mkString(" ")
      (i.toLong, text, if (en) "en" else "xx")
    }.toDF("doc_id", "text", "lang")
    val top = graft.operators.CurationOps.dsirSelectFrame(docs).collect()
    assert(top.length === 200)
    assert(top.map(_.getInt(0)).toSeq === (1 to 200), "ranks not dense")
    val selected = top.map(_.getLong(1)).toSet
    val enSelected = selected.count(_ % 4 == 0)
    // all 100 target-vocab docs must survive resampling (their weights
    // sit several nats above the raw-only docs, beyond any Gumbel noise)
    assert(enSelected === 100,
      s"expected all 100 target-profile docs selected, got $enSelected")
  }
}
