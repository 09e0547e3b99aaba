package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of the benchmark's own code around a call into an
  * engine module. `module` is the engine package the call enters
  * (sources, model, functions, index, operators, plans) or "bench" for
  * the per-op root span. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, op: Int, module: String, name: String,
                      start: Long, var end: Long = 0L) {
  def durNs: Long = end - start
}

/** Spark's own counters for the jobs started inside one span (or summed
  * over several). Sizes in bytes, times in ms unless named otherwise. */
final class SparkCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedWaitMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var result = 0L

  def +=(o: SparkCounters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskFailures += o.taskFailures
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedWaitMs += o.schedWaitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    result += o.result
  }
}

/** In-memory span recorder plus the Spark listeners that attribute job,
  * stage and task metrics to spans. While `enabled` is false, `span`
  * only evaluates its body and the listeners ignore every event, so an
  * untraced op pays for nothing but two boolean tests per call.
  *
  * Attribution: `span` stores the innermost open span's id as a Spark
  * local property, which every job submitted from this thread carries
  * in its JobStart properties. Query planning time arrives through the
  * QueryExecutionListener without properties and is attributed by time
  * to the op whose root span was open when planning started. */
final class Tracer(sc: SparkContext) {
  import Tracer.SpanKey

  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var curOp = -1

  // epoch-ms <-> nanoTime, for events stamped in wall-clock ms
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def toNs(epochMs: Long): Long = baseNs + (epochMs - baseMs) * 1000000L

  /** Runs `body` as the root span of op `i` (traced or not). */
  def op[T](i: Int, name: String)(body: => T): T = {
    curOp = i
    try span("bench", name)(body) finally curOp = -1
  }

  /** Runs `body` with its spans attributed to op `i` but outside the op's
    * root span: checks and probes, which are not part of the op's time. */
  def within[T](i: Int)(body: => T): T = {
    curOp = i
    try body finally curOp = -1
  }

  def span[T](module: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), curOp, module, name,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s"${s.id}:$module")
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(p => s"${p.id}:${p.module}").orNull)
      }
    }

  // ---- listener state (written on the listener-bus thread) -----------

  final case class JobRec(id: Int, span: Int, module: String, start: Long, var end: Long = 0L)
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val stageRunMs = mutable.Map.empty[(Int, Int), Long]
  /** Counters per span id. */
  val bySpan = mutable.Map.empty[Int, SparkCounters]
  /** Executor run ms per engine module, taken from the innermost engine
    * frame of each stage's call site ("graft.operators.TileOps$.chipper"
    * -> operators); stages started by the benchmark itself count under
    * the module of the span that started them. */
  val execMsByCallSite = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val planEvents = mutable.ArrayBuffer.empty[(Long, Long)] // (startNs, ms)

  private def counters(span: Int) = bySpan.getOrElseUpdate(span, new SparkCounters)
  private def jobOfStage(stageId: Int): Option[JobRec] =
    stageJob.get(stageId).flatMap(jobs.get)
  private def spanOfStage(stageId: Int): Option[Int] = jobOfStage(stageId).map(_.span)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      sp.foreach { v =>
        val (id, module) = v.span(_ != ':')
        jobs(e.jobId) = JobRec(e.jobId, id.toInt, module.drop(1), toNs(e.time))
        e.stageIds.foreach(stageJob(_) = e.jobId)
        counters(id.toInt).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = toNs(e.time))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      stageSubmitMs((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val key = (si.stageId, si.attemptNumber())
      jobOfStage(si.stageId).foreach { j =>
        counters(j.span).stages += 1
        val module = Tracer.engineModule(si.details).getOrElse(j.module)
        execMsByCallSite(module) += stageRunMs.getOrElse(key, 0L)
      }
      stageSubmitMs.remove(key); stageRunMs.remove(key)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      spanOfStage(e.stageId).foreach { s =>
        val c = counters(s)
        c.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) c.taskFailures += 1
        stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { sub =>
          c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
        }
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.result += m.resultSize
          val key = (e.stageId, e.stageAttemptId)
          stageRunMs(key) = stageRunMs.getOrElse(key, 0L) + m.executorRunTime
        }
      }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val phases = qe.tracker.phases
        if (phases.nonEmpty) {
          val start = phases.values.map(_.startTimeMs).min
          planEvents += ((toNs(start), phases.values.map(_.durationMs).sum))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Job intervals (ns) of the jobs started inside op `i`'s spans. */
  def jobIntervals(opSpans: Set[Int]): Seq[(Long, Long)] =
    jobs.values.filter(j => opSpans.contains(j.span) && j.end > 0).map(j => (j.start, j.end)).toSeq

  /** Planning ms of the queries whose planning started inside [start, end). */
  def planMsWithin(start: Long, end: Long): Long =
    planEvents.collect { case (t, ms) if t >= start && t < end => ms }.sum
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Modules: Seq[String] = Seq("sources", "model", "functions", "index", "operators", "plans")

  /** The engine module of the innermost engine frame in a Spark call-site
    * string, e.g. "graft.plans.Manifest$.checkpoint(Manifest.scala:151)"
    * -> Some("plans"). The benchmark's own frames are skipped. */
  def engineModule(callSite: String): Option[String] =
    callSite.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") && !l.startsWith("graft.perfbench.") &&
        Modules.exists(m => l.startsWith(s"graft.$m.")) =>
        l.stripPrefix("graft.").takeWhile(_ != '.')
    }

  /** Length of the union of possibly overlapping intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
