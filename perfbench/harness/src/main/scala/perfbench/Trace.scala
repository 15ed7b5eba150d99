package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span. Times are epoch microseconds, so harness spans
  * (System.nanoTime) and listener spans (epoch ms) share one axis.
  * `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startUs: Long, endUs: Long)

/** In-memory tracer for the traced benchmark run.
  *
  * Harness code opens `run`/`setup`/`pass`/`query`/`build`/`action`/
  * `kern.*` spans with [[span]]; the id of the innermost open span is
  * published as a Spark local property, so every job the harness thread
  * submits carries its parent span, and the listener side records
  * `job` and `stage` spans under it. Alongside the spans it sums the
  * per-layer counters (scheduler, shuffle and storage I/O, planner
  * phases) while [[active]]; [[takeCounters]] reads and resets them.
  *
  * Nothing is recorded while inactive: the untimed and untraced passes
  * run with the listener attached but idle, so a traced and an
  * untraced pass differ only by the recording itself.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var active = false

  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private var nextId = 0L
  private def newId(): Long = synchronized { nextId += 1; nextId }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private def record(s: Span): Unit = synchronized { spans += s }
  def allSpans: Seq[Span] = synchronized(spans.toList)

  // harness-thread span stack: (id, layer)
  private var stack: List[(Long, String)] = Nil

  /** Run `body` inside a span; a plain call when inactive. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!active) body
    else {
      val id = newId()
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val start = nowUs
      stack = (id, layer) :: stack
      publish()
      try body
      finally {
        stack = stack.tail
        publish()
        record(Span(id, parent, layer, name, start, nowUs))
      }
    }

  private def publish(): Unit =
    spark.sparkContext.setLocalProperty(SpanProp,
      stack.headOption.map { case (id, layer) => s"$layer:$id" }.orNull)

  // ---- counters ---------------------------------------------------------
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counters.synchronized { counters(k) += v }
  private def max(k: String, v: Double): Unit =
    counters.synchronized { if (v > counters(k)) counters(k) = v }

  /** Counters summed since the last call; resets them. */
  def takeCounters(): Map[String, Double] = counters.synchronized {
    val out = counters.toMap; counters.clear(); out
  }

  // ---- Spark listener: jobs, stages, tasks -------------------------------
  private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span id, parent, startUs)
  private val stageJob = mutable.Map.empty[Int, Long]              // stage -> job span id
  private val stageRuns = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
    val (parentLayer, parent) = tag.map { t =>
      val i = t.indexOf(':'); (t.substring(0, i), t.substring(i + 1).toLong)
    }.getOrElse(("", 0L))
    val id = newId()
    synchronized {
      jobSpan(e.jobId) = (id, parent, e.time * 1000L)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, id))
    }
    add("sched.jobs", 1)
    if (parentLayer == "build") add("build.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      record(Span(id, parent, "job", s"job ${e.jobId}", start, e.time * 1000L))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
    val info = e.stageInfo
    val key = (info.stageId, info.attemptNumber())
    val runs = synchronized(stageRuns.remove(key)).getOrElse(mutable.ArrayBuffer.empty[Long])
    for (s <- info.submissionTime; c <- info.completionTime) {
      val parent = synchronized(stageJob.getOrElse(info.stageId, 0L))
      record(Span(newId(), parent, "stage", s"stage ${info.stageId}", s * 1000L, c * 1000L))
    }
    add("sched.stages", 1)
    if (runs.size >= 2) {
      val sorted = runs.sorted
      val median = sorted(sorted.size / 2).max(1L)
      max("sched.stage_skew_max", sorted.last.toDouble / median)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
    val m = e.taskMetrics
    if (m != null) {
      val run = m.executorRunTime
      synchronized {
        stageRuns.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) += run
      }
      val delay = e.taskInfo.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      add("sched.tasks", 1)
      add("sched.task_run_s", run / 1e3)
      add("sched.task_cpu_s", m.executorCpuTime / 1e9)
      add("sched.delay_s", math.max(0L, delay) / 1e3)
      if (run < TinyTaskMs) add("sched.tiny_tasks", 1)
      add("io.input_mb", m.inputMetrics.bytesRead / MB)
      add("io.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("io.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add("io.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add("io.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      add("io.output_mb", m.outputMetrics.bytesWritten / MB)
      max("io.peak_task_mem_mb", m.peakExecutionMemory / MB)
    }
  }

  // ---- QueryExecutionListener: planner phases -----------------------------
  private def phases(qe: QueryExecution): Unit = if (active) {
    val p = qe.tracker.phases
    for ((phase, key) <- PlanPhases; s <- p.get(phase))
      add(key, s.durationMs / 1e3)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}

object Tracer {
  val SpanProp = "perfbench.span"
  val MB = 1048576.0
  /** A task whose executor run time is under this is "tiny": the fixed
    * cost of launching it dominates the work it does. */
  val TinyTaskMs = 10L
  val PlanPhases = Seq(
    "analysis" -> "plan.analysis_s",
    "optimization" -> "plan.optimization_s",
    "planning" -> "plan.planning_s")

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
