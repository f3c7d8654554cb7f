package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `parent` is 0 for a root span. Times are epoch ms. */
final case class Span(
    id: Int, parent: Int, name: String, startMs: Double, endMs: Double,
    tags: Map[String, String] = Map.empty) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "tags" -> tags)
}

/** In-memory span recorder. Spans are kept only while `enabled`, and are
  * written out once, when the run ends.
  */
final class Tracer {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  @volatile var enabled = false

  /** Epoch ms at ns resolution, on the same clock as Spark's event times. */
  def nowMs: Double = epochMs + (System.nanoTime() - nano0) / 1e6

  def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  def record(s: Span): Unit = if (enabled) synchronized { spans += s }

  def span[T](name: String, parent: Int, tags: Map[String, String] = Map.empty)(f: Int => T): T = {
    val id = newId()
    val t0 = nowMs
    try f(id) finally record(Span(id, parent, name, t0, nowMs, tags))
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Per-operation counters, filled from Spark listener events. */
final class OpCounters {
  var jobs = 0L
  var buildJobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var peakExecMem = 0L
  var recordsRead = 0L
  var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "build_jobs" -> buildJobs, "stages" -> stages, "tasks" -> tasks,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "peak_exec_mem" -> peakExecMem,
    "records_read" -> recordsRead, "output_bytes" -> outputBytes)
}

/** Attributes every job, stage and task to the benchmark operation that
  * started it, through the job's local properties (`OpKey`, `PhaseKey`,
  * `SpanKey`). Jobs outside an operation are ignored.
  */
final class BenchListener(tracer: Tracer) extends SparkListener {
  import BenchListener._

  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobOpen = new ConcurrentHashMap[Int, (String, String, Int, Long)]()
  private val counters = new ConcurrentHashMap[String, OpCounters]()

  private def of(op: String): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = e.properties
    val op = if (props == null) null else props.getProperty(OpKey)
    if (op != null) {
      val phase = Option(props.getProperty(PhaseKey)).getOrElse("action")
      val parent = Option(props.getProperty(SpanKey)).map(_.toInt).getOrElse(0)
      synchronized {
        val c = of(op)
        c.jobs += 1
        if (phase == "build") c.buildJobs += 1
      }
      e.stageInfos.foreach(si => stageOp.put(si.stageId, op))
      jobOpen.put(e.jobId, (op, phase, parent, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val open = jobOpen.remove(e.jobId)
    if (open != null) {
      val (op, phase, parent, start) = open
      tracer.record(Span(tracer.newId(), parent, "job", start.toDouble, e.time.toDouble,
        Map("op" -> op, "phase" -> phase, "job_id" -> e.jobId.toString)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val op = stageOp.get(e.stageInfo.stageId)
    if (op != null) synchronized { of(op).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    val m = e.taskMetrics
    if (op != null && m != null) synchronized {
      val c = of(op)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
      c.recordsRead += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(op: String): Map[String, Any] = synchronized {
    Option(counters.get(op)).map(_.toMap).getOrElse(new OpCounters().toMap)
  }
}

object BenchListener {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  val SpanKey = "perfbench.span"
}

/** Catalyst phase times (analysis, optimization, physical planning) of every
  * action that completes while `active`, as recorded by each query's
  * `QueryPlanningTracker`.
  */
final class PhaseListener extends QueryExecutionListener {
  @volatile var active = false
  private val totals = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) synchronized {
      qe.tracker.phases.foreach { case (phase, s) => totals(phase) += s.durationMs }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def snapshot: Map[String, Any] = synchronized {
    Map("analysis_ms" -> totals("analysis"),
      "optimization_ms" -> totals("optimization"),
      "planning_ms" -> totals("planning"))
  }
}
