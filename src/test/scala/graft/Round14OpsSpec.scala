package graft

import org.apache.spark.sql.functions._

import graft.operators.{CurationOps, DedupOps}

/** Round-14 additions: the spanScrub interval-merge probe (value-neutral
  * rewrite of the per-token start-list scan), the incremental span-scrub
  * twin, and the DSIR served twin.
  */
class Round14OpsSpec extends SparkSpec {

  test("spanScrub interval merge: runs fuse exactly at a spanLen gap " +
    "(c = p + 16 merges, c = p + 17 splits and the seam token survives)") {
    val s2 = spark
    import s2.implicits._
    // docA's shared starts are {0, 16}: contiguous coverage [0,31] — one
    // merged interval, every token removed. docD's are {0, 17}: position
    // 16 is covered by neither run and must survive.
    val a = (0 until 32).map(i => s"a$i")
    val d = (0 until 33).map(i => s"d$i")
    val df = Seq(
      (0L, a.mkString(" ")),
      (1L, a.take(16).mkString(" ")),        // shares docA's span at 0
      (2L, a.drop(16).mkString(" ")),        // shares docA's span at 16
      (3L, d.mkString(" ")),
      (4L, d.take(16).mkString(" ")),        // shares docD's span at 0
      (5L, d.drop(17).mkString(" "))         // shares docD's span at 17
    ).toDF("doc_id", "text")
    val got = DedupOps.spanScrubFrame(df)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(0L) === ((32L, 32L, "")), "adjacent runs must fuse")
    assert(got(3L) === ((33L, 32L, "d16")),
      "a one-token gap between runs must survive the scrub")
    // the sharing partners are themselves fully shared single-span docs
    assert(got(1L) === ((16L, 16L, "")))
    assert(got(2L) === ((16L, 16L, "")))
  }

  test("spanScrub interval probe is value-identical to the legacy " +
    "per-token start-list scan on the full sf0.001 fixture") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val legacy = DedupOps.spanScrubFrame(docs, legacyProbe = true)
      .collect().toSeq
    val interval = DedupOps.spanScrubFrame(docs).collect().toSeq
    assert(interval === legacy)
  }

  test("spanScrubIncremental scrubs store-vs-batch and batch-vs-batch " +
    "sharing, emits only batch docs") {
    val s2 = spark
    import s2.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spanscrubinc").toString
    val b = (1 to 16).map(i => s"b$i").mkString(" ")
    val c = (1 to 16).map(i => s"c$i").mkString(" ")
    val filler = (1 to 6).map(i =>
      (i.toLong, (1 to 20).map(j => s"f${i}w$j").mkString(" ")))
    // max id 9 → boundary 9*4/5 = 7: store = 0..6, batch = 7..9
    (Seq((0L, s"x1 x2 $b x3")) ++ filler ++ Seq(
      (7L, s"y1 $b y2 y3"),   // shares ONLY with store doc 0
      (8L, s"z1 $c"),         // shares with batch doc 9
      (9L, s"$c w1 w2")
    )).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = DedupOps.spanScrubIncremental(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet === Set(7L, 8L, 9L),
      "incremental scrub must emit exactly the batch docs")
    assert(got(7L) === ((19L, 16L, "y1 y2 y3")),
      "store-vs-batch sharing must scrub without any batch partner")
    assert(got(8L) === ((17L, 16L, "z1")))
    assert(got(9L) === ((18L, 16L, "w1 w2")))
  }

  test("spanScrubIncremental equals the full-corpus spanScrub restricted " +
    "to the batch on sf0.001") {
    val k = Tables.snapshotBoundary(spark, sf0001, "documents")
    val full = DedupOps.spanScrub(spark, sf0001)
      .filter(col("doc_id") >= k).collect().toSeq
    val inc = DedupOps.spanScrubIncremental(spark, sf0001).collect().toSeq
    assert(inc === full)
  }

  test("IVF broadcast-variable assignment is bit-identical to the " +
    "typedlit expression form: same cells, same centroids") {
    import graft.operators.SimOps
    for (nSeeds <- Seq(10, 32)) {
      // annIndexWith is the typedlit argmax at these widths; the
      // broadcast form is the two-level walk at exhaustive coarse probes
      val (cLit, aLit) = SimOps.annIndexWith(spark, sf0001, nSeeds)
      val (cBc, aBc) = SimOps.annIndexHierarchical(spark, sf0001, nSeeds,
        coarseProbes = nSeeds)
      val litCells = aLit.select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val bcCells = aBc.select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(bcCells === litCells, s"assignment diverged at $nSeeds seeds")
      val litCents = cLit.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      val bcCents = cBc.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
      assert(bcCents === litCents, s"centroids diverged at $nSeeds seeds")
    }
  }

  test("spanDedupIncremental equals the full-corpus spanDedup census " +
    "restricted to the batch on sf0.001") {
    val k = Tables.snapshotBoundary(spark, sf0001, "documents")
    val full = DedupOps.spanDedup(spark, sf0001)
      .filter(col("doc_id") >= k).collect().toSeq
    val inc = DedupOps.spanDedupIncremental(spark, sf0001)
      .collect().toSeq
    assert(inc === full)
  }

  test("SRP multi-probe: radius 0 reproduces single-probe exactly; " +
    "radius 1 only improves per-query best cosine, within the " +
    "candidate cap") {
    import graft.operators.SimOps
    val n = Tables.vectorCount(spark, sf0001)
    val bits = SimOps.srpBitsPerBand(n)
    val pred = col("vec_id") < 20
    // the single-probe search: llm_ann_srp (same bits, default bands,
    // the same first-20 query batch)
    val single = SimOps.annSrp(spark, sf0001).collect().toSeq
    val r0 = SimOps.annSrpMultiProbe(spark, sf0001, bits, SimOps.srpBands,
      0, pred).collect().toSeq
    assert(r0 === single,
      "radius-0 multi-probe must be the single-probe search")
    def top1(rows: Seq[org.apache.spark.sql.Row]): Map[Long, Double] =
      rows.filter(_.getInt(1) == 1)
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val t0 = top1(r0)
    val t1 = top1(SimOps.annSrpMultiProbe(spark, sf0001, bits,
      SimOps.srpBands, 1, pred).collect().toSeq)
    t0.foreach { case (q, c0) =>
      assert(t1(q) >= c0 - 1e-12,
        s"radius 1 worsened query $q: ${t1(q)} < $c0")
    }
    // DISTINCT (q_id, vec_id) pairs the radius-1 band join proposes
    // before the exact-cosine verify. The query side is the corpus table
    // filtered to the batch (both sides hash through the same planes),
    // each bucket XOR-probed by the radius-1 masks.
    val table = SimOps.srpTableArtifact(spark, sf0001)
    val qs = table.filter(pred)
      .select(col("band"), col("vec_id").as("q_id"),
        explode(transform(typedlit(SimOps.probeMasks(bits, 1)),
          m => col("bucket").bitwiseXOR(m))).as("bucket"))
    val cands = broadcast(qs)
      .join(table.select(col("band"), col("bucket"), col("vec_id")),
        Seq("band", "bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id")).distinct().count()
    val probeRows = SimOps.probeMasks(bits, 1).size.toLong *
      SimOps.srpBands
    val cap = math.min(20L * n, 20L * probeRows * ((n >> bits) + 1L) * 4L)
    assert(cands <= cap, s"candidates $cands exceed cap $cap")
  }

  test("dsirSelectServed (persisted lr table) equals the recompute " +
    "bit-for-bit on sf0.001") {
    val recompute = CurationOps.queries("llm_dsir_select")(spark, sf0001)
      .collect().toSeq
    val served = CurationOps.queries("llm_dsir_select_served")(spark, sf0001)
      .collect().toSeq
    assert(served === recompute)
    // second invocation serves from the per-fixture cache — still equal
    val served2 = CurationOps.dsirSelectServed(spark, sf0001)
      .collect().toSeq
    assert(served2 === recompute)
  }
}
