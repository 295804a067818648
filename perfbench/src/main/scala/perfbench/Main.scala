package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, and (in a traced
  * run) the listeners. Untraced runs register no listener at all.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val work: String, val seed: Long, val seconds: Double) {
  val sc = spark.sparkContext
  val jobs: Option[JobListener] =
    if (tracer.on) Some(new JobListener(tracer)) else None
  val plans: Option[PlanListener] =
    if (tracer.on) Some(new PlanListener) else None
  jobs.foreach(sc.addSparkListener)
  plans.foreach(spark.listenerManager.register)

  /** Makes listener counters current (a no-op when untraced). */
  def drain(): Unit =
    if (tracer.on) org.apache.spark.PerfbenchBus.drain(sc)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** One benchmark run in one JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  * <record file>`. Writes one JSON record (raw samples, per-layer
  * counters, checks, machine state) and, when traced, the spans as JSON
  * lines next to it. `perfbench/run.py` turns the record into metrics.
  */
object Main {
  val workloads = Seq("ingest_jdbc", "ingest_lake", "query_mix")

  def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim)
      .getOrElse("")

  /** CPU time of this JVM, all threads, in seconds. Time the host takes
    * the CPU away is not charged to it, unlike wall time.
    */
  def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  def vmHwmMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:")).get
      .split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6, "usage: perfbench.Main <workload> <seed> " +
      "<seconds> <trace 0|1> <work dir> <record file>")
    val Array(workload, seedS, secondsS, traceS, work, out) = argv
    require(workloads.contains(workload), s"unknown workload $workload")
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadBefore = loadavg()
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(traceS == "1")
    val ctx = new Ctx(spark, tracer, work, seedS.toLong, secondsS.toDouble)
    val runSpan = tracer.newId()
    val runStart = tracer.nowUs
    val body: Map[String, Any] = workload match {
      case "ingest_jdbc" => Ingest.run(ctx, Ingest.Jdbc, runSpan)
      case "ingest_lake" => Ingest.run(ctx, Ingest.Lake, runSpan)
      case "query_mix" => QueryMix.run(ctx, runSpan)
    }
    tracer.record(runSpan, 0L, "run", runStart, tracer.nowUs,
      Map("workload" -> workload))
    ctx.drain()
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val machine = Map[String, Any](
      "nproc" -> nproc,
      "loadavg_before" -> loadBefore,
      "loadavg_after" -> loadavg(),
      "jvm_args" -> rt.getInputArguments.asScala.toSeq,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "spark_master" -> spark.sparkContext.master,
      "shuffle_partitions" -> nproc,
      "processes" -> 1,
      "task_threads" -> nproc,
      "max_concurrent_tasks" ->
        ctx.jobs.map(_.maxConcurrentTasks).getOrElse(-1),
      "session_s" -> sessionS)
    val groups = ctx.jobs.map(l => l.synchronized(
      l.byGroup.toMap.map { case (g, c) => g -> c.toMap })).getOrElse(Map())
    val record = body ++ Map(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> tracer.on, "machine" -> machine,
      "spark_groups" -> groups)
    Files.writeString(Paths.get(out), Json.write(record) + "\n")
    if (tracer.on) {
      val lines = tracer.all.sortBy(s => s("start_us").asInstanceOf[Long])
        .map(Json.write).mkString("", "\n", "\n")
      Files.writeString(Paths.get(out.stripSuffix(".json") + ".spans.jsonl"),
        lines)
    }
    spark.stop()
  }
}

/** Minimal JSON writer for the record's maps, sequences and numbers. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
