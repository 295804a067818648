package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.sources.SensorGenerator
import graft.streaming.DeliverySemantics

/** The reference's Simulate Error experiment (README.md:45–63, 80–82) as a
  * streaming test: arm a fault, let it kill the query mid-stream, restart
  * from the same checkpoint, and assert the exactly-once outcome
  * (README.md:159–164: no loss, no duplicates).
  */
class StreamingRestartSpec extends SparkSpec {

  test("crash mid-stream + restart from checkpoint => exactly-once table") {
    val base = Files.createTempDirectory("graft_restart").toString
    val srcDir = s"$base/src"
    val ckpt = s"$base/ckpt"
    val target = s"$base/target"
    // four source files of 25 contiguous counters each
    (0 until 4).foreach { i =>
      SensorGenerator.batch(spark, 25, i * 25L)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val schema = spark.read.parquet(srcDir).schema
    def start(crashAtBatch: Option[Long]) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
      stream.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          if (crashAtBatch.contains(id))
            sys.error("unexpected value received") // the Simulate Error kill
          DeliverySemantics.parquetUpsertSink(spark, target,
            "counter", "counter")(batch, id)
        }
        .start()
    }
    // run 1: dies on batch 2 (batches 0 and 1 are committed)
    val q1 = start(crashAtBatch = Some(2))
    intercept[Exception] { q1.awaitTermination() }
    val afterCrash = spark.read.parquet(target).count()
    assert(afterCrash === 50L, "two micro-batches landed before the crash")
    // run 2: same checkpoint, fault disarmed → resumes at batch 2
    val q2 = start(crashAtBatch = None)
    q2.awaitTermination()
    val audit = DeliverySemantics
      .auditGaps(spark.read.parquet(target), "counter").collect().head
    assert(audit.getAs[Long]("n") === 100L)
    assert(audit.getAs[Long]("lost") === 0L)
    assert(audit.getAs[Long]("duplicated") === 0L)
  }

  // Kill points INSIDE the lake sink's commit: batch 2 crashes at each
  // step of writing `<target>_tmp` and swapping it in, then the restarted
  // query replays batch 2 and delivers batch 3.
  private def sink(target: String, id: Long): Unit =
    DeliverySemantics.parquetUpsertSink(spark, target, "counter",
      "counter")(SensorGenerator.batch(spark, 25, id * 25L), id)

  private def files(dir: String): Map[Path, Seq[Byte]] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def partFiles(dir: String): Seq[Path] =
    files(dir).keys.toSeq.sorted
      .filter(_.getFileName.toString.startsWith("part-"))

  Seq[(String, String => Unit)](
    "target deleted, temp complete" -> { t =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t)) },
    "target partly deleted, temp complete" -> { t =>
      Files.delete(partFiles(t).head) },
    "target intact, temp complete" -> { _ => () },
    "temp partial, no _SUCCESS" -> { t =>
      Files.delete(Paths.get(s"${t}_tmp/_SUCCESS"))
      partFiles(s"${t}_tmp").drop(1).foreach(Files.delete) }
  ).foreach { case (state, crash) =>
    test(s"lake sink kill point: $state => replay lands exactly once") {
      val target = Files.createTempDirectory("graft_killpt").toString +
        "/target"
      Seq(0L, 1L).foreach(sink(target, _))
      // batch 2 up to its write of the complete temp directory ...
      DeliverySemantics.upsert(spark.read.parquet(target),
          SensorGenerator.batch(spark, 25, 50L), "counter", "counter")
        .repartition(4).write.parquet(s"${target}_tmp")
      crash(target) // ... then the crash
      sink(target, 2L) // replay
      sink(target, 3L)
      val landed = spark.read.parquet(target)
      val audit = DeliverySemantics.auditGaps(landed, "counter")
        .collect().head
      assert(audit.getAs[Long]("n") === 100L)
      assert(audit.getAs[Long]("lost") === 0L)
      assert(audit.getAs[Long]("duplicated") === 0L)
      assert(landed.collect().toSet ===
        SensorGenerator.batch(spark, 100).collect().toSet)
    }
  }

  test("lake sink: an unreadable target throws and is left untouched") {
    val target = Files.createTempDirectory("graft_garbage").toString +
      "/target"
    Seq(0L, 1L).foreach(sink(target, _))
    def assertRefused(): Unit = {
      val before = files(target)
      intercept[Exception](sink(target, 2L))
      assert(files(target) === before)
    }
    // one garbage part file among good ones: fails when the merge runs
    val garbage = "not a parquet file".getBytes
    Files.write(Paths.get(target, "part-99999-garbage.parquet"), garbage)
    assertRefused()
    // no readable footer at all: fails when the table is opened
    partFiles(target).foreach(Files.write(_, garbage))
    assertRefused()
  }

  test("generator is deterministic and stream twin matches batch schema") {
    val a = SensorGenerator.batch(spark, 50).collect()
    val b = SensorGenerator.batch(spark, 50).collect()
    assert(a.sameElements(b))
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType)).toSeq
    assert(shape(SensorGenerator.stream(spark).schema) ===
      shape(SensorGenerator.batch(spark, 1).schema))
    // CSV round trip: body parses back to the same typed row
    val parsed = graft.sources.Envelope.parseBody(
      SensorGenerator.toCsvBody(SensorGenerator.batch(spark, 20)))
    assert(parsed.count() === 20)
    assert(parsed.filter("counter IS NULL").count() === 0)
  }

  test("Kafka-shaped envelope mints the reference's commit token") {
    import org.apache.spark.sql.functions._
    // the built-in Kafka source schema, synthesized from the generator
    val kafkaShaped = SensorGenerator.toCsvBody(
        SensorGenerator.batch(spark, 10))
      .select(
        col("key").cast("string").as("key"),
        col("body").as("value"),
        lit("my_sensors_data").as("topic"),
        (col("key") % 2).cast("int").as("partition"),
        col("key").as("offset"),
        current_timestamp().as("timestamp"))
    val tokens = graft.sources.Envelope.withCommitToken(kafkaShaped)
      .select("commit_token", "partition", "offset").collect()
    tokens.foreach { r =>
      // e.g. "my_sensors_data/0/3" (reference images/wiretapAtMostOnce.png)
      assert(r.getString(0) ===
        s"my_sensors_data/${r.getInt(1)}/${r.getLong(2)}")
    }
    // and the value parses back against the declared sensor schema
    val parsed = graft.sources.Envelope.parseBody(
      kafkaShaped.withColumnRenamed("value", "body"))
    assert(parsed.filter("counter IS NULL").count() === 0)
  }
}
