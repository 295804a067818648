package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own ingest invariants: seeded inputs repeat exactly,
  * and the exactly-once checks reject a damaged landed table.
  */
class IngestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def files(dir: Path): Seq[(String, Seq[Byte])] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
    finally s.close()
  }

  test("the same seed gives byte-identical deliveries and the same crash point") {
    val a = Ingest.plan(7, files = 5, meanNew = 40)
    val b = Ingest.plan(7, files = 5, meanNew = 40)
    assert(a == b)
    assert(a.crashBatch == b.crashBatch)
    val tmp = Files.createTempDirectory("perfbench-stage")
    Ingest.stage(spark, a, tmp.resolve("x"))
    Ingest.stage(spark, b, tmp.resolve("y"))
    val x = files(tmp.resolve("x"))
    assert(x.size == 5)
    assert(x == files(tmp.resolve("y")))

    val c = Ingest.plan(8, files = 5, meanNew = 40)
    assert(c != a)
    Ingest.stage(spark, c, tmp.resolve("z"))
    assert(files(tmp.resolve("z")) != x)
  }

  test("deliveries redeliver the previous file's tail, about a quarter of rows") {
    val p = Ingest.plan(3)
    assert(p.overlap.head == 0)
    assert(p.overlap.zip(p.newRows).drop(1).forall { case (o, _) => o > 0 })
    val share = p.overlap.sum.toDouble / p.delivered
    assert(share > 0.2 && share < 0.3, share)
    assert(p.crashBatch > 0 && p.crashBatch < p.files - 1)
    val tmp = Files.createTempDirectory("perfbench-stage")
    val small = Ingest.plan(3, files = 3, meanNew = 20)
    Ingest.stage(spark, small, tmp)
    val lines = files(tmp).map { case (_, b) =>
      new String(b.toArray, "UTF-8").split("\n").toSeq.map(_.takeWhile(_ != ','))
    }
    assert(lines(1).take(small.overlap(1)) ==
      lines(0).takeRight(small.overlap(1)))
  }

  test("a correct landed table passes every check") {
    val good = Ingest.expectedRows(spark, 100, 50)
    assert(Ingest.checks(spark, good, 100, 50).forall(_._2))

    // the same rows landed by the lake sink, read back as the check reads
    val lake = Files.createTempDirectory("perfbench-lake").resolve("t")
    graft.streaming.DeliverySemantics.parquetUpsertSink(spark, lake.toString,
      "counter", "counter")(good, -1L)
    assert(Ingest.checks(spark, Ingest.lakeTable(spark, lake.toString), 100,
      50).forall(_._2))
    assert(Ingest.lakeBytes(lake) > 0)
  }

  test("a corrupted landed table fails the checks") {
    val good = Ingest.expectedRows(spark, 100, 50)
    val failed = Ingest.checks(spark, Ingest.corrupt(good, 100), 100, 50)
      .filterNot(_._2).map(_._1).toSet
    assert(failed == Set("lost", "landed_count", "payload_checksum"))

    val duplicated = good.unionByName(good.filter(col("counter") === 120))
    assert(Ingest.checks(spark, duplicated, 100, 50).filterNot(_._2).map(_._1)
      .toSet == Set("duplicated", "landed_count", "payload_checksum"))
  }
}
