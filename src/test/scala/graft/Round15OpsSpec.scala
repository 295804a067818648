package graft

import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, SimOps}

/** Round-15 additions: the large-star/small-star connected-components
  * implementation (agreement-spec'd against the shipped min-label +
  * pointer-jump loop and a driver-side union-find), round-count
  * instrumentation for both CC loops, and the two-level coarse IVF
  * assignment.
  */
class Round15OpsSpec extends SparkSpec {

  private def labelMap(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long, Boolean)] =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
        r.getAs[Boolean]("keeper"))).toMap

  test("clustersLargeSmallStar: 15 random graphs agree with min-label " +
    "AND a driver-side union-find (labels, sizes, keepers)") {
    import spark.implicits._
    val rnd = new scala.util.Random(15)
    (1 to 15).foreach { trial =>
      val n = 2 + rnd.nextInt(40)
      val m = 1 + rnd.nextInt(60)
      val ids = rnd.shuffle((0 until 200).toList).take(n)
        .map(_.toLong * 11 + 5)
      val edges = Seq.fill(m) {
        (ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))
      }.filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(ra max rb) = ra min rb
        }
        val members = parent.keys.toSeq
        val expect = members.groupBy(find).flatMap { case (_, ms) =>
          val cid = ms.min
          ms.map(v => v -> (cid, ms.size.toLong, v == cid))
        }
        val df = edges.toDF("doc_a", "doc_b")
        val gotLss = labelMap(DedupOps.clustersLargeSmallStar(df)._1)
        assert(gotLss === expect, s"trial $trial vs union-find")
        val gotMin = labelMap(DedupOps.clustersFromEdges(df))
        assert(gotLss === gotMin, s"trial $trial vs min-label")
      }
    }
  }

  test("clustersLargeSmallStar: long chain converges in O(log d) rounds " +
    "with exact labels") {
    import spark.implicits._
    // 300-node path: diameter 299. Plain propagation would need ~299
    // rounds; the star alternation must close in ~log₂(299) ≈ 9-ish.
    val edges = (0L until 299L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (df, rounds) = DedupOps.clustersLargeSmallStar(edges)
    val got = labelMap(df)
    assert(got.keySet === (0L to 299L).toSet)
    (0L to 299L).foreach { v =>
      assert(got(v) === (0L, 300L, v == 0L), s"v=$v")
    }
    assert(rounds <= 15, s"expected O(log d) rounds, got $rounds")
  }

  test("clustersFromEdgesCounted: pointer-jump is the O(log d) term — " +
    "the no-jump contrast pays ~diameter rounds for identical labels") {
    import spark.implicits._
    val edges = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (jumpDf, jumpRounds) =
      DedupOps.clustersFromEdgesCounted(edges, roundCap = 100)
    val (plainDf, plainRounds) =
      DedupOps.clustersFromEdgesCounted(edges, roundCap = 100, jump = false)
    assert(labelMap(jumpDf) === labelMap(plainDf))
    // 41-node path (diameter 40): propagation alone lowers the min one
    // hop per round from each side, so ~d/1 rounds; the jump form closes
    // in O(log d). The exact counts are implementation facts — the spec
    // pins the ASYMPTOTIC gap, not the constants.
    assert(plainRounds >= 20, s"no-jump should pay ~diameter, " +
      s"got $plainRounds")
    assert(jumpRounds <= 8, s"jump form should pay O(log d), " +
      s"got $jumpRounds")
  }

  test("annIndexHierarchical: exhaustive coarse probes reproduce the " +
    "flat argmax assignment bit-for-bit; bounded probes stay valid") {
    val (cE, aE) = SimOps.annIndexWith(spark, sf0001, 32)
    val exact = aE.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    // probing every pivot group = exhaustive argmax: identical cells
    val (cH, aH) = SimOps.annIndexHierarchical(spark, sf0001, 32,
      coarseProbes = 32)
    val hier = aH.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    assert(hier === exact)
    // identical assignment ⇒ identical fixed-point centroids
    def cents(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("cell") ->
        r.getAs[Seq[Double]]("centroid")).toMap
    assert(cents(cH) === cents(cE))
    // the bounded default probe: every vector still lands in a real
    // seed cell, and most assignments agree with exact on an iid corpus
    val (_, aH2) = SimOps.annIndexHierarchical(spark, sf0001, 32,
      coarseProbes = 2)
    val bounded = aH2.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    assert(bounded.keySet === exact.keySet)
    assert(bounded.values.toSet.subsetOf((0L until 32L).toSet))
    val agree = bounded.count { case (v, c) => exact(v) == c }
    assert(agree.toDouble / bounded.size >= 0.5,
      s"probe-2 agreement ${agree.toDouble / bounded.size} " +
        "collapsed — coarse grouping is broken, not approximate")
  }

  test("clustersLargeSmallStar: two chains + a clique stay separate") {
    import spark.implicits._
    val chainA = (0L until 25L).map(i => (i, i + 1))
    val chainB = (100L until 125L).map(i => (i, i + 1))
    val clique = for {
      a <- 200L until 205L; b <- (a + 1) until 205L
    } yield (a, b)
    val (df, _) = DedupOps.clustersLargeSmallStar(
      (chainA ++ chainB ++ clique).toDF("doc_a", "doc_b"))
    val got = labelMap(df)
    assert(got(13L) === (0L, 26L, false))
    assert(got(100L) === (100L, 26L, true))
    assert(got(204L) === (200L, 5L, false))
  }
}
