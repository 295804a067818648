package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.SimOps

/** The coarse-quantizer walks every IVF build and query shares: the
  * two-level build walk (top-`coarseProbes` pivot groups, then the argmax
  * inside them), the query-side probe walk over the same groups, and the
  * flat argmax they reduce to at exhaustive probes. Pinned at a BOUNDED
  * coarse probe, where the walks are approximate and only agreement with
  * each other (not with the flat argmax) holds.
  */
class CoarseWalkSpec extends SparkSpec {

  private def cells(df: DataFrame): Map[Long, Long] =
    df.select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two-level build walk: at coarseProbes = 2 the IVF, IVF-PQ and " +
    "residual builds assign every vector to the same cell, and the " +
    "bound moves some vector off its flat-argmax cell") {
    val encoded = SimOps.pqEncoded(spark, sf0001)
    val (_, ivf) = SimOps.annIndexHierarchical(spark, sf0001, 32,
      coarseProbes = 2)
    val hier = cells(ivf)
    assert(hier.keySet === (0L until 500L).toSet)
    assert(cells(SimOps.annIvfPqScaled(spark, sf0001, encoded, 32,
      coarseProbes = 2)) === hier)
    assert(cells(SimOps.annIvfPqrAssigned(spark, sf0001, 32,
      coarseProbes = 2)) === hier)
    val (_, flat) = SimOps.annIndexWith(spark, sf0001, 32)
    assert(cells(flat) !== hier,
      "coarseProbes = 2 walked every pivot group")
  }

  test("query-side probe walk: each vector's rank-1 probe is its own " +
    "build cell at coarseProbes = 2 (raw and residual stores)") {
    val all = lit(true)
    // probes = 1 and a top-k deeper than any cell: a query's neighbors
    // are exactly the other members of the one cell it probed
    def assertOwnCell(build: Map[Long, Long], got: DataFrame): Unit = {
      val members = build.groupBy(_._2).view.mapValues(_.keySet).toMap
      val seen = got.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      build.foreach { case (q, c) =>
        assert(seen.getOrElse(q, Set.empty[Long]) === members(c) - q,
          s"query $q did not probe its own cell $c first")
      }
    }
    val cb = SimOps.pqCodebook(spark, sf0001)
    val raw = SimOps.annIvfPqScaled(spark, sf0001,
      SimOps.pqEncoded(spark, sf0001), 32, coarseProbes = 2)
      .localCheckpoint(true)
    assertOwnCell(cells(raw), SimOps.annIvfPqScaledQuery(spark, sf0001,
      raw, cb, 32, probes = 1, coarseProbes = 2, queryPred = all,
      topK = 500))
    val assigned = SimOps.annIvfPqrAssigned(spark, sf0001, 32,
      coarseProbes = 2).localCheckpoint(true)
    val cents = SimOps.scaledCents(spark, assigned)
    val cbR = SimOps.pqrCodebook(spark, sf0001, cents)
    val store = SimOps.annIvfPqrBuild(spark, assigned, cbR, cents)
    assertOwnCell(cells(assigned), SimOps.annIvfPqrScaledQuery(spark,
      sf0001, store, cbR, cents, 32, probes = 1, coarseProbes = 2,
      queryPred = all, topK = 500))
  }

  test("every argmax (literal, broadcast, two-level walk) sends an " +
    "exact score tie across pivot groups to the smaller seed id and " +
    "ranks a NaN score best") {
    import spark.implicits._
    // 4 seeds -> 2 pivots (seeds 0, 1); seed 3 hangs on pivot 0 and
    // seed 2 on pivot 1, so the walk meets the larger tied sid first.
    // coarseProbes = 2 already walks both pivot groups here; 4 is the
    // exhaustive spelling annIndexWith uses above its literal bound
    def vec(xs: Float*): Array[Float] =
      xs.toArray ++ Array.fill(64 - xs.size)(0f)
    val rows = Seq(
      vec(0f, 1f), vec(0f, -1f), vec(1f, -1f), vec(1f, 1f),
      vec(1f, 0f), // scores seeds 2 and 3 equally -> cell 2
      vec(Float.PositiveInfinity, 0f)) // NaN vs seeds 0, 1 -> cell 0
    val dir = java.nio.file.Files.createTempDirectory("graft_walk").toString
    rows.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val expected = Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L,
      5L -> 0L)
    assert(cells(SimOps.annIndexWith(spark, dir, 4)._2) === expected)
    for (cp <- Seq(4, 2))
      assert(cells(SimOps.annIndexHierarchical(spark, dir, 4,
        coarseProbes = cp)._2) === expected, s"coarseProbes=$cp")
    assert(cells(SimOps.annIvfPqrAssigned(spark, dir, 4,
      coarseProbes = 2)) === expected)
  }
}
