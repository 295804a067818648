package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
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

  private def newTarget(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/target"

  private def files(dir: String): Map[Path, Seq[Byte]] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private def partFiles(dir: String): Seq[Path] =
    files(dir).keys.toSeq.sorted
      .filter(_.getFileName.toString.startsWith("part-"))

  /** Runs `body` the way a stream runs its batch function: with `id` as
    * the query id Spark keeps in the checkpoint. */
  private def asQuery[T](id: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, id)
    try body finally sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, null)
  }

  /** The Spark jobs `body` starts, counted by a listener. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  private val QueryId = "kill-point-query"

  // batch 2 up to its write of the complete temp directory, as a caller
  // without a query id leaves it before the marker ...
  private def tempWritten(t: String): Unit =
    DeliverySemantics.upsert(spark.read.parquet(t),
        SensorGenerator.batch(spark, 25, 50L), "counter", "counter")
      .repartition(4).write.parquet(s"${t}_tmp")

  // ... or batch 2's whole commit by the stream, marker included, with
  // the swap undone
  private def tempCommitted(t: String): Unit = {
    val before = Paths.get(s"${t}_before")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(t),
      before.toFile)
    asQuery(QueryId)(sink(t, 2L))
    Files.move(Paths.get(t), Paths.get(s"${t}_tmp"))
    Files.move(before, Paths.get(t))
  }

  // (state, query id of every call, crash, jobs the replay must run)
  Seq[(String, Option[String], String => Unit, Option[Int])](
    ("target deleted, temp complete", None, { t =>
      tempWritten(t)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(t))
    }, None),
    ("target partly deleted, temp complete", None, { t =>
      tempWritten(t)
      Files.delete(partFiles(t).head)
    }, None),
    ("target intact, temp complete", None, tempWritten, None),
    ("temp partial, no _SUCCESS", None, { t =>
      tempWritten(t)
      Files.delete(Paths.get(s"${t}_tmp/_SUCCESS"))
      partFiles(s"${t}_tmp").drop(1).foreach(Files.delete)
    }, None),
    // the swap installs a table without a marker: the replay infers its
    // schema (one job) and merges again (one job)
    ("temp complete, no marker", Some(QueryId), { t =>
      tempCommitted(t)
      Files.delete(Paths.get(s"${t}_tmp/_committed"))
      Files.deleteIfExists(Paths.get(s"${t}_tmp/._committed.crc"))
    }, Some(2)),
    // the swap installs batch 2's marker: the replay is skipped
    ("marker written, swap not done", Some(QueryId), tempCommitted, Some(0))
  ).foreach { case (state, queryId, crash, replayJobs) =>
    test(s"lake sink kill point: $state => replay lands exactly once") {
      val target = newTarget("graft_killpt")
      def call(id: Long): Unit =
        queryId.fold(sink(target, id))(asQuery(_)(sink(target, id)))
      Seq(0L, 1L).foreach(call)
      crash(target)
      val ran = jobs(call(2L)) // replay
      replayJobs.foreach(n => assert(ran === n))
      call(3L)
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
    val target = newTarget("graft_garbage")
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
    // no readable footer at all: the table opens with the marker's
    // schema without reading a footer, so this too fails when the merge
    // reads the part files
    partFiles(target).foreach(Files.write(_, garbage))
    assertRefused()
  }

  test("lake sink: a small merge runs one Spark job and no Exchange") {
    val target = newTarget("graft_onejob")
    Seq(0L, 1L).foreach(sink(target, _))
    assert(jobs(sink(target, 2L)) === 1)
    assert(spark.read.parquet(target).count() === 75L)
    val merge = DeliverySemantics.upsert(spark.read.parquet(target),
      SensorGenerator.batch(spark, 25, 75L), "counter", "counter")
    assert(!finalPlan(merge).contains("Exchange"))
  }

  test("upsert: an input estimated above one task keeps the shuffle and " +
    "the window's rows") {
    val target = SensorGenerator.batch(spark, 200).withColumn("v", lit(1))
    // a million-row range estimate, 200 real rows
    val batch = SensorGenerator.batch(spark, 1L << 20)
      .filter(col("counter").between(150, 349)).withColumn("v", lit(2))
    val both = target.unionByName(batch)
    assert(both.queryExecution.optimizedPlan.stats.sizeInBytes >
      Checkpoints.BytesPerTask)
    val merge = DeliverySemantics.upsert(target, batch, "counter", "v")
    assert(finalPlan(merge).contains("Exchange"))
    val reference = both
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("counter")).orderBy(col("v").desc)))
      .filter(col("rn") === 1).drop("rn")
    assert(reference.count() === 350L)
    assert(merge.collect().toSet === reference.collect().toSet)
  }

  test("lake sink: a replayed (query id, batch id) runs no job and leaves " +
    "the files byte-identical") {
    val target = newTarget("graft_replay")
    asQuery("replayed-query")(Seq(0L, 1L).foreach(sink(target, _)))
    val before = files(target)
    assert(jobs(asQuery("replayed-query")(sink(target, 1L))) === 0)
    assert(files(target) === before)
    // a caller without a query id always merges, even its own last batch
    (1 to 2).foreach(_ => assert(jobs(sink(target, 1L)) === 1))
    assert(spark.read.parquet(target).count() === 50L)
  }

  test("lake sink: a new stream's batch 0 into an existing table is " +
    "merged, not skipped") {
    val base = Files.createTempDirectory("graft_newquery").toString
    val target = s"$base/target"
    (0 until 2).foreach { i =>
      SensorGenerator.batch(spark, 25, i * 25L)
        .coalesce(1).write.parquet(s"$base/src$i")
    }
    val schema = spark.read.parquet(s"$base/src0").schema
    // each stream has a fresh checkpoint, so its own query id, and lands
    // its one file as batch 0
    (0 until 2).foreach { i =>
      spark.readStream.schema(schema).parquet(s"$base/src$i")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt$i")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, id: Long) =>
          DeliverySemantics.parquetUpsertSink(spark, target,
            "counter", "counter")(batch, id)
        }
        .start().awaitTermination()
    }
    assert(spark.read.parquet(target).collect().toSet ===
      SensorGenerator.batch(spark, 50).collect().toSet)
  }

  test("lake sink: a batch that adds or retypes a column throws and " +
    "leaves the table untouched") {
    val target = newTarget("graft_schema")
    Seq(0L, 1L).foreach(sink(target, _))
    val next = SensorGenerator.batch(spark, 25, 50L)
    def assertRefused(): Unit = Seq(
      next.withColumn("extra", lit(1)),
      next.withColumn("deviceid", col("deviceid").cast("long"))
    ).foreach { batch =>
      val before = files(target)
      intercept[IllegalArgumentException](DeliverySemantics
        .parquetUpsertSink(spark, target, "counter", "counter")(batch, 2L))
      assert(files(target) === before)
    }
    assertRefused()
    // the same on a table without a marker, whose schema is inferred
    Files.delete(Paths.get(target, "_committed"))
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
