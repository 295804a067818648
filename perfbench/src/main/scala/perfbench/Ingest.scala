package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery,
  StreamingQueryProgress, Trigger}

import graft.sources.{Envelope, SensorGenerator}
import graft.streaming.{DeliverySemantics, JdbcUpsert}

/** The paper's consumer graph as a closed-loop drain: staged CSV sensor
  * deliveries are read one file per trigger (the stand-in for Kafka),
  * parsed by `Envelope.parseBody` and landed by an idempotent keyed sink.
  * One injected crash fires after the sink returns and before the offset
  * commit; the restart from the checkpoint redelivers that batch.
  */
object Ingest {
  /** `warmDrains` full-size drains on other counters run before the
    * measured ones. After a single three-file warm-up drain, each of the
    * next three JDBC drains took up to a quarter less CPU than the one
    * before (late JIT compilation); the lake drain, with far more sink
    * work per batch, spread 8 % in CPU over ten runs after it.
    * `minDrains` keeps the number of measured drains the same from run to
    * run: three JDBC drains, or one lake drain, already exceed the
    * measured time.
    */
  sealed abstract class Sink(val layer: String, val spanName: String,
      val warmDrains: Int, val minDrains: Int)
  case object Jdbc extends Sink("jdbc_upsert", "jdbc_upsert.write", 2, 3)
  case object Lake extends Sink("lake_upsert", "lake_upsert.sink", 1, 1)

  val FileCount = 6
  val MeanNewRows = 400
  val RedeliveryShare = 0.25
  val LakeSeedMultiple = 10
  private val Table = "sensordata"

  /** The deliveries of one drain. File `i` repeats the last `overlap(i)`
    * counters of file `i - 1` (the redelivered tail) and then carries
    * `newRows(i)` new counters; `crashBatch` is the batch whose offset
    * commit the injected crash prevents.
    */
  final case class Plan(start: Int, newRows: Vector[Int],
      overlap: Vector[Int], crashBatch: Int) {
    def files: Int = newRows.size
    def distinct: Int = newRows.sum
    def delivered: Int = newRows.sum + overlap.sum
    def firstNew(i: Int): Int = start + newRows.take(i).sum
    def lines(i: Int): Int = overlap(i) + newRows(i)
    def lakeSeedRows: Int = LakeSeedMultiple * distinct
  }

  def plan(seed: Long, files: Int = FileCount,
      meanNew: Int = MeanNewRows): Plan = {
    val rnd = new java.util.Random(seed * 1000003L + 11L)
    val newRows = Vector.fill(files)(
      meanNew - meanNew / 8 + rnd.nextInt(meanNew / 4 + 1))
    // the first file redelivers nothing, so the others carry its share
    val perNew = RedeliveryShare / (1 - RedeliveryShare) * files /
      math.max(1, files - 1)
    val overlap = Vector.tabulate(files) { i =>
      if (i == 0) 0
      else math.min(newRows(i - 1),
        math.round(newRows(i) * perNew * (0.8 + 0.4 * rnd.nextDouble()))
          .toInt)
    }
    val crash = files / 3 + rnd.nextInt(math.max(1, files / 3))
    // counters stay below Int.MaxValue, with room under `start` for the
    // lake pre-seed
    val start = (1 + rnd.nextInt(1000)) * 1000000
    Plan(start, newRows, overlap, crash)
  }

  /** Target rows in the sink's schema: the DDL of `Envelope.sensorSchema`
    * over the generator's contiguous counters.
    */
  def expectedRows(spark: SparkSession, from: Long, n: Long): DataFrame =
    SensorGenerator.batch(spark, n, from).select(
      Envelope.sensorSchema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)

  /** Writes the plan's delivery files under `dir`, with strictly rising
    * modification times so the file source replays them in order.
    * Returns the byte size of each file.
    */
  def stage(spark: SparkSession, p: Plan, dir: Path): Vector[Long] = {
    val bodies = SensorGenerator.toCsvBody(
        SensorGenerator.batch(spark, p.distinct, p.start))
      .orderBy("key").collect().map(_.getString(1))
    Files.createDirectories(dir)
    val mtime0 = System.currentTimeMillis() - 3600L * 1000L
    Vector.tabulate(p.files) { i =>
      val from = p.firstNew(i) - p.overlap(i)
      val sb = new StringBuilder
      var c = from
      while (c < p.firstNew(i) + p.newRows(i)) {
        sb.append(bodies(c - p.start)).append('\n')
        c += 1
      }
      val f = dir.resolve(f"delivery-$i%05d.csv")
      Files.write(f, sb.toString.getBytes(StandardCharsets.UTF_8))
      f.toFile.setLastModified(mtime0 + i * 1000L)
      Files.size(f)
    }
  }

  /** Order-independent payload checksum over the sensor columns. */
  def checksum(df: DataFrame): java.math.BigDecimal = {
    val cols = Envelope.sensorSchema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType))
    val r = df.select(sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
  }

  /** The exactly-once checks on a landed table that must hold the
    * contiguous counters `[from, from + n)` once each, with the payloads
    * `SensorGenerator.batch` produces for them. Returns (check, passed,
    * detail) triples.
    */
  def checks(spark: SparkSession, landed: DataFrame, from: Long,
      n: Long): Seq[(String, Boolean, String)] = {
    val a = DeliverySemantics.auditGaps(landed, "counter").head()
    def long(c: String): Option[Long] =
      if (a.isNullAt(a.fieldIndex(c))) None
      else Some(a.getAs[Number](c).longValue())
    val got = checksum(landed)
    val want = checksum(expectedRows(spark, from, n))
    Seq(
      ("lost", long("lost").contains(0L), s"lost=${long("lost")}"),
      ("duplicated", long("duplicated").contains(0L),
        s"duplicated=${long("duplicated")}"),
      ("landed_count", long("n").contains(n) &&
        long("min_id").contains(from) && long("max_id").contains(from + n - 1),
        s"n=${long("n")} min=${long("min_id")} max=${long("max_id")} " +
          s"want n=$n from=$from"),
      ("payload_checksum", got == want, s"got=$got want=$want"))
  }

  /** Deliberate damage, for the benchmark's own failure-counting test:
    * one landed row goes missing and another carries a wrong reading.
    */
  def corrupt(landed: DataFrame, from: Long): DataFrame =
    landed.filter(col("counter") =!= from + 5)
      .withColumn("temperature",
        when(col("counter") === from + 7, col("temperature") + 1.0)
          .otherwise(col("temperature")))

  private final class InjectedCrash(batch: Long)
      extends RuntimeException(s"perfbench injected crash after batch $batch")

  private def isInjected(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[InjectedCrash])

  private def dropDerby(url: String): Unit =
    try DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // 08006 means dropped

  private def countRows(url: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $Table")
      rs.next(); rs.getLong(1)
    } finally c.close()
  }

  /** The lake sink's current table, as its reader sees it. This and
    * `lakeBytes` are the only places that know the sink's on-disk layout
    * (today one plain parquet directory, rewritten whole per batch); a
    * sink that keeps versions or a manifest must be read through its own
    * reader here, in a benchmark change of its own.
    */
  def lakeTable(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir)

  /** Bytes the lake table occupies on disk. */
  def lakeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  private def progressMap(p: StreamingQueryProgress,
      run: Int): Map[String, Any] = {
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue()).getOrElse(0L)
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    Map("run" -> run, "batch_id" -> p.batchId,
      "rows_in" -> p.numInputRows, "trigger_ms" -> ms("triggerExecution"),
      "addbatch_ms" -> ms("addBatch"), "plan_ms" -> ms("queryPlanning"),
      "offsets_ms" -> (ms("latestOffset") + ms("getBatch")),
      "commit_ms" -> (ms("walCommit") + ms("commitOffsets")),
      "start_us" -> startUs,
      "end_us" -> (startUs + ms("triggerExecution") * 1000L))
  }

  /** One drain: set up a fresh target, stream every staged delivery
    * through the sink with the injected crash and restart, and check
    * the landed table (outside the timed region).
    */
  private def drain(ctx: Ctx, sink: Sink, p: Plan, tag: String,
      parent: Long, warm: Boolean): Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    // the warm-up drain's jobs stay out of the layer counters
    def group(layer: String) = if (warm) "warmup" else layer
    val base = Paths.get(ctx.work, tag)
    val stageDir = base.resolve("deliveries")
    val ckpt = base.resolve("checkpoint").toString
    val lakeDir = base.resolve("lake").toString
    val url = s"jdbc:derby:memory:pb_$tag;create=true"
    val lakeFrom = p.start.toLong - p.lakeSeedRows

    // set-up: stage the deliveries, create (and for the lake, pre-seed)
    // the target
    val s0 = System.nanoTime()
    val sc0 = Main.cpuS()
    val fileBytes = Layer.call(ctx.sc, tr, group("sources"), "sources.stage",
      parent)(_ => stage(spark, p, stageDir))
    val stageS = ctx.secondsSince(s0)
    Layer.call(ctx.sc, tr, "setup", "setup.target", parent) { _ =>
      sink match {
        case Jdbc =>
          JdbcUpsert.ensureTable(url, Table, Envelope.sensorSchema,
            Seq("counter"))
        case Lake =>
          DeliverySemantics.parquetUpsertSink(spark, lakeDir, "counter",
            "counter")(expectedRows(spark, lakeFrom, p.lakeSeedRows), -1L)
      }
    }
    val setupS = ctx.secondsSince(s0)
    val setupCpuS = Main.cpuS() - sc0

    val drainSpan = tr.newId()
    val batchSpans = mutable.Map.empty[(Int, Long), Long]
    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    @volatile var run = 0
    @volatile var crashed = false

    def onBatch(batch: DataFrame, batchId: Long): Unit = {
      val bid = tr.newId()
      val fbStart = tr.nowUs
      batchSpans((run, batchId)) = bid
      val parsed = Envelope.parseBody(batch)
      val idx = batchId.toInt
      val replay = run == 1 && idx == p.crashBatch
      // rows in the target before this call, from the plan: the replayed
      // batch finds its own rows already landed by the crashed attempt
      val tableBefore = (if (sink == Lake) p.lakeSeedRows else 0) +
        p.newRows.take(idx).sum + (if (replay) p.newRows(idx) else 0)
      val jdbcBefore =
        if (tr.on && sink == Jdbc) countRows(url) else 0L
      val t0 = System.nanoTime()
      var callSpan = 0L
      Layer.call(ctx.sc, tr, group(sink.layer), sink.spanName, bid,
        Map("batch_id" -> batchId, "replay" -> replay)) { id =>
        callSpan = id
        sink match {
          case Jdbc => JdbcUpsert.write(parsed, url, Table, Seq("counter"))
          case Lake => DeliverySemantics.parquetUpsertSink(spark, lakeDir,
            "counter", "counter")(parsed, batchId)
        }
      }
      val callMs = (System.nanoTime() - t0) / 1e6
      val inserted =
        if (tr.on && sink == Jdbc) countRows(url) - jdbcBefore else 0L
      calls += Map("batch_id" -> batchId, "replay" -> replay,
        "ms" -> callMs, "rows" -> p.lines(idx),
        "table_rows_before" -> tableBefore,
        "file_bytes" -> fileBytes(idx), "inserted" -> inserted,
        "span" -> callSpan)
      if (idx == p.crashBatch && !crashed) {
        crashed = true
        tr.record(bid, drainSpan, "streaming.batch", fbStart, tr.nowUs,
          Map("batch_id" -> batchId, "crashed" -> true))
        throw new InjectedCrash(batchId)
      }
    }

    def start(): StreamingQuery =
      spark.readStream.option("maxFilesPerTrigger", 1)
        .text(stageDir.toString).select(col("value").as("body"))
        .writeStream
        .queryName(s"perfbench_$tag")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) => onBatch(b, id) }
        .start()

    val drainStartUs = tr.nowUs
    val cpu0 = Main.cpuS()
    val t0 = System.nanoTime()
    var error: Option[String] = None
    val q1 = start()
    try q1.awaitTermination()
    catch {
      case e: Exception if isInjected(e) => ()
      case e: Exception => error = Some(s"first run: $e")
    }
    if (!crashed && error.isEmpty) error = Some("injected crash never fired")
    val restartUs = tr.nowUs
    run = 1
    val q2 = if (error.isEmpty) Some(start()) else None
    q2.foreach { q =>
      try q.awaitTermination()
      catch { case e: Exception => error = Some(s"restart: $e") }
    }
    val wallS = ctx.secondsSince(t0)
    val cpuS = Main.cpuS() - cpu0
    val drainEndUs = tr.nowUs

    val progress = q1.recentProgress.toSeq.map(progressMap(_, 0)) ++
      q2.toSeq.flatMap(_.recentProgress.toSeq.map(progressMap(_, 1)))
    progress.foreach { pm =>
      val key = (pm("run").asInstanceOf[Int], pm("batch_id").asInstanceOf[Long])
      batchSpans.get(key).foreach { id =>
        tr.record(id, drainSpan, "streaming.batch",
          pm("start_us").asInstanceOf[Long], pm("end_us").asInstanceOf[Long],
          pm -- Seq("start_us", "end_us"))
      }
    }
    tr.record(drainSpan, parent, "streaming.drain", drainStartUs, drainEndUs,
      Map("tag" -> tag))
    val restartMs = progress.find(_("run") == 1).map(pm =>
      (pm("end_us").asInstanceOf[Long] - restartUs) / 1000.0)

    // traced run only: the no-op parse pass over these deliveries, the
    // ceiling of the consumer graph
    val parseS =
      if (!tr.on || warm) 0.0
      else {
        val t = System.nanoTime()
        Layer.call(ctx.sc, tr, "sources", "sources.parse", parent) { _ =>
          Envelope.parseBody(spark.read.text(stageDir.toString)
              .select(col("value").as("body")))
            .write.format("noop").mode("overwrite").save()
        }
        ctx.secondsSince(t)
      }

    // checks, outside the timed region
    val (checkRows, storedBytes) =
      if (warm || error.nonEmpty) (Seq.empty, 0L)
      else Layer.call(ctx.sc, tr, "check", "check", parent) { _ =>
        val (landed, from, n) = sink match {
          case Jdbc =>
            val props = new java.util.Properties()
            (spark.read.jdbc(url, Table, props), p.start.toLong,
              p.distinct.toLong)
          case Lake =>
            (lakeTable(spark, lakeDir), lakeFrom,
              p.lakeSeedRows.toLong + p.distinct)
        }
        (checks(spark, landed, from, n),
          if (sink == Lake) lakeBytes(Paths.get(lakeDir)) else 0L)
      }
    if (sink == Jdbc) dropDerby(url)
    Map("tag" -> tag, "wall_s" -> wallS, "cpu_s" -> cpuS,
      "setup_s" -> setupS, "setup_cpu_s" -> setupCpuS,
      "stage_s" -> stageS, "parse_s" -> parseS, "error" -> error,
      "crash_batch" -> p.crashBatch,
      "progress" -> progress, "calls" -> calls.toSeq,
      "restart_ms" -> restartMs,
      "checks" -> checkRows.map { case (n, ok, d) =>
        Map("check" -> n, "ok" -> ok, "detail" -> d) },
      "stored_bytes" -> storedBytes,
      "landed_rows" -> (p.distinct.toLong +
        (if (sink == Lake) p.lakeSeedRows else 0)),
      "delivery_bytes" -> fileBytes.sum)
  }

  /** Traced lake runs only, after the measured drains: sink calls with
    * the same two deliveries on fresh tables of 1, 10 and 30 times the
    * streamed rows. A drain grows its table by a tenth, too little to
    * read the sink's cost against table rows off its own batches.
    */
  private def probe(ctx: Ctx, p: Plan, parent: Long): Seq[Map[String, Any]] = {
    val spark = ctx.spark
    val deliveries = Paths.get(ctx.work, "drain0", "deliveries")
    for (m <- Seq(1, 10, 30); file <- Seq(1, 2)) yield {
      val lake = Paths.get(ctx.work, s"probe$m", "lake").toString
      val rows = m * p.distinct
      if (file == 1)
        Layer.call(ctx.sc, ctx.tracer, "probe", "probe.seed", parent) { _ =>
          DeliverySemantics.parquetUpsertSink(spark, lake, "counter",
            "counter")(expectedRows(spark, p.start.toLong - rows, rows), -1L)
        }
      val batch = spark.read
        .text(deliveries.resolve(f"delivery-$file%05d.csv").toString)
        .select(col("value").as("body"))
      val before = rows + (if (file == 2) p.newRows(1) else 0)
      val t0 = System.nanoTime()
      Layer.call(ctx.sc, ctx.tracer, "probe", "probe.lake_upsert", parent) {
        _ =>
          DeliverySemantics.parquetUpsertSink(spark, lake, "counter",
            "counter")(Envelope.parseBody(batch), file.toLong)
      }
      Map("table_rows_before" -> before,
        "ms" -> (System.nanoTime() - t0) / 1e6)
    }
  }

  def run(ctx: Ctx, sink: Sink, runSpan: Long): Map[String, Any] = {
    val p = plan(ctx.seed)
    // warm-up: full-size drains over other counters (JIT, codegen, Derby)
    val w0 = System.nanoTime()
    val wc0 = Main.cpuS()
    ctx.tracer.span("warmup", runSpan) { id =>
      (1 to sink.warmDrains).foreach { i =>
        drain(ctx, sink, plan(ctx.seed + i), s"warmup$i", id, warm = true)
      }
    }
    val warmupS = ctx.secondsSince(w0)
    val warmupCpuS = Main.cpuS() - wc0

    val drains = mutable.ArrayBuffer.empty[Map[String, Any]]
    var measured = 0.0
    while (drains.size < sink.minDrains || measured < ctx.seconds) {
      val d = drain(ctx, sink, p, s"drain${drains.size}", runSpan,
        warm = false)
      drains += d
      measured += d("wall_s").asInstanceOf[Double]
    }
    val rssMb = Main.vmHwmMb()
    val probes =
      if (ctx.tracer.on && sink == Lake) probe(ctx, p, runSpan) else Seq.empty
    ctx.drain()
    val spanCounters = ctx.jobs.map { l =>
      drains.flatMap(_("calls").asInstanceOf[Seq[Map[String, Any]]])
        .map(c => c("span").asInstanceOf[Long])
        .map(id => id.toString -> l.span(id).toMap).toMap
    }.getOrElse(Map.empty)
    Map(
      "params" -> Map(
        "files" -> p.files, "mean_new_rows" -> MeanNewRows,
        "redelivery_share_target" -> RedeliveryShare,
        "redelivery_share" -> p.overlap.sum.toDouble / p.delivered,
        "lake_seed_multiple" -> (if (sink == Lake) LakeSeedMultiple else 0),
        "start_counter" -> p.start, "distinct_rows" -> p.distinct,
        "delivered_rows" -> p.delivered, "crash_batch" -> p.crashBatch,
        "warm_drains" -> sink.warmDrains, "min_drains" -> sink.minDrains,
        "sink" -> sink.layer),
      "warmup_s" -> warmupS,
      "warmup_cpu_s" -> warmupCpuS,
      "drains" -> drains.toSeq,
      "lake_probe" -> probes,
      "rss_peak_mb" -> rssMb,
      "span_counters" -> spanCounters)
  }
}
