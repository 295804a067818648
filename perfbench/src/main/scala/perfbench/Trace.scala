package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is written only when tracing is on;
  * ids are handed out either way so call sites need no branches. Times
  * are epoch microseconds, derived from one monotonic clock so that
  * nested spans never cross.
  */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val epochUs = System.currentTimeMillis() * 1000L
  private val nanos0 = System.nanoTime()

  def nowUs: Long = epochUs + (System.nanoTime() - nanos0) / 1000L
  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, startUs: Long,
      endUs: Long, attrs: Map[String, Any] = Map.empty): Unit =
    if (on) spans.add(Map("id" -> id, "parent" -> parent, "name" -> name,
      "start_us" -> startUs, "end_us" -> endUs, "attrs" -> attrs))

  def span[T](name: String, parent: Long,
      attrs: Map[String, Any] = Map.empty)(body: Long => T): T = {
    val id = newId()
    val t0 = nowUs
    try body(id) finally record(id, parent, name, t0, nowUs, attrs)
  }

  def all: Seq[Map[String, Any]] = spans.asScala.toSeq
}

/** Labels the Spark jobs of one call into an engine layer, in a traced
  * run: the job group is the layer's name and the `perfbench.span` local
  * property names the calling span, so job spans and task metrics land
  * under the right parent; `body` receives the call's span id. The
  * caller's local properties are restored afterwards (the streaming
  * thread keeps its own job group). Untraced runs have no listener to
  * read the labels, so they set none.
  */
object Layer {
  val SpanKey = "perfbench.span"
  val Layers = Seq("sources", "streaming", "jdbc_upsert", "lake_upsert",
    "checkpoints", "operators")
  /** Job groups of the benchmark's own work, kept out of the layers. */
  val Harness = Seq("setup", "warmup", "check", "probe")
  private val keys = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", SpanKey)

  def call[T](sc: SparkContext, tracer: Tracer, layer: String,
      spanName: String, parent: Long, attrs: Map[String, Any] = Map.empty)(
      body: Long => T): T = if (!tracer.on) body(tracer.newId()) else {
    val saved = keys.map(k => k -> sc.getLocalProperty(k))
    tracer.span(spanName, parent, attrs) { id =>
      sc.setJobGroup(layer, spanName, interruptOnCancel = false)
      sc.setLocalProperty(SpanKey, id.toString)
      try body(id)
      finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }
}

/** Task and job counters of one job group or one calling span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var schedDelayMs = 0L
  var runMs = 0L
  var cpuMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "sched_delay_ms" -> schedDelayMs,
    "executor_run_ms" -> runMs, "executor_cpu_ms" -> cpuMs,
    "gc_ms" -> gcMs, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes)
}

/** Public-listener view of the scheduler: per job group and per calling
  * span counters, one `spark.job` span per job, and the most tasks seen
  * running at once (the check that a run stayed within `nproc` threads).
  * Jobs of the benchmark's own set-up, warm-up and checks count as
  * `other`; jobs the streaming engine runs outside a layer call count as
  * `streaming`.
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  val byGroup = mutable.Map.empty[String, Counters]
  val bySpan = mutable.Map.empty[Long, Counters]
  private val stageOwner = mutable.Map.empty[Int, (String, Long)]
  private val jobs = mutable.Map.empty[Int, (Long, String, Long, Int)]
  private val taskTimes = mutable.ArrayBuffer.empty[(Long, Long)]

  private def owner(p: java.util.Properties): (String, Long) =
    if (p == null) ("other", 0L)
    else {
      val g = p.getProperty("spark.jobGroup.id")
      val group =
        if (g != null && Layer.Layers.contains(g)) g
        else if (g != null && Layer.Harness.contains(g)) "other"
        else if (p.getProperty("sql.streaming.queryId") != null) "streaming"
        else "other"
      (group, Option(p.getProperty(Layer.SpanKey)).map(_.toLong).getOrElse(0L))
    }

  private def both(o: (String, Long))(f: Counters => Unit): Unit =
    synchronized {
      f(byGroup.getOrElseUpdate(o._1, new Counters))
      if (o._2 != 0L) f(bySpan.getOrElseUpdate(o._2, new Counters))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val o = owner(e.properties)
    synchronized {
      e.stageIds.foreach(stageOwner(_) = o)
      jobs(e.jobId) = (e.time, o._1, o._2, e.stageIds.size)
    }
    both(o)(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = synchronized(jobs.remove(e.jobId))
    j.foreach { case (start, group, parent, nStages) =>
      tracer.record(tracer.newId(), parent, "spark.job", start * 1000L,
        e.time * 1000L, Map("group" -> group, "job_id" -> e.jobId,
          "stages" -> nStages,
          "ok" -> (e.jobResult == JobSucceeded)))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val o = synchronized(stageOwner.getOrElse(e.stageInfo.stageId,
      owner(e.properties)))
    both(o)(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    // the slot's busy interval as the executor saw it: the driver marks a
    // task finished only after it has handled the result, by which time
    // the slot may already run the next task
    val end =
      if (m == null) info.finishTime
      else info.launchTime + m.executorDeserializeTime + m.executorRunTime +
        m.resultSerializationTime
    val o = synchronized {
      taskTimes += ((info.launchTime, end))
      stageOwner.getOrElse(e.stageId, ("other", 0L))
    }
    both(o) { c =>
      c.tasks += 1
      if (e.reason != Success) c.failedTasks += 1
      if (m != null) {
        val gettingResult =
          if (info.gettingResultTime > 0)
            info.finishTime - info.gettingResultTime
          else 0L
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        c.runMs += m.executorRunTime
        c.cpuMs += m.executorCpuTime / 1000000L
        c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** The most tasks that ran at once, from their launch and finish times. */
  def maxConcurrentTasks: Int = synchronized {
    val edges = taskTimes.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) } // a finish before a launch at t
    edges.scanLeft(0)(_ + _._2).max
  }

  def span(id: Long): Counters =
    synchronized(bySpan.getOrElse(id, new Counters))
}

/** Analysis, optimization and planning time of every SQL execution, read
  * from each execution's `QueryPlanningTracker`.
  */
final class PlanListener extends QueryExecutionListener {
  private val total = new AtomicLong(0)
  private val phases = Set("analysis", "optimization", "planning")

  private def add(qe: QueryExecution): Unit =
    total.addAndGet(qe.tracker.phases.collect {
      case (k, p) if phases(k) => p.durationMs
    }.sum)

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = add(qe)

  def planMs: Long = total.get()
}
