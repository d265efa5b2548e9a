package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Epoch microseconds from the monotonic clock, so spans recorded
  * here line up with Spark's epoch-millisecond listener timestamps.
  */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One interval at a layer boundary. `kind` fixes how spans nest (see
  * [[Trace.rank]]); `layer` is the module its self time is charged to.
  */
final case class Span(kind: String, layer: String, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Trace {

  /** Nesting order of span kinds: a span's parent is the innermost span
    * of a lower rank whose interval holds the span's start.
    */
  val rank: Map[String, Int] = Map(
    "run" -> 0, "query" -> 1, "drain" -> 1,
    "construct" -> 2, "action" -> 2, "trigger" -> 2,
    "phase" -> 3, "job" -> 3, "post" -> 4)

  /** Listener timestamps are whole milliseconds: allow that much slack. */
  private val slackUs = 1000L

  /** Index of each span's parent in `spans`, or -1 for a root. */
  def parents(spans: IndexedSeq[Span]): IndexedSeq[Int] = spans.map { s =>
    val r = rank(s.kind)
    val enclosing = spans.indices.filter { i =>
      val p = spans(i)
      rank(p.kind) < r && p.startUs - slackUs <= s.startUs && s.startUs <= p.endUs + slackUs
    }
    if (enclosing.isEmpty) -1
    else enclosing.maxBy(i => (rank(spans(i).kind), spans(i).startUs))
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def coveredUs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover.
    */
  def selfUs(spans: IndexedSeq[Span]): IndexedSeq[Long] = {
    val par = parents(spans)
    val kids = spans.indices.groupBy(par)
    spans.indices.map { i =>
      val s = spans(i)
      val cs = kids.getOrElse(i, Seq.empty).map(c => (spans(c).startUs, spans(c).endUs))
      s.durUs - coveredUs(cs, s.startUs, s.endUs)
    }
  }

  /** One JSON line per span, with its parent's index and its self time. */
  def write(spans: IndexedSeq[Span], path: String): Unit = {
    val par = parents(spans)
    val self = selfUs(spans)
    val lines = spans.indices.map { i =>
      val s = spans(i)
      s"""{"i": $i, "parent": ${par(i)}, "kind": ${Json.str(s.kind)}, "layer": ${Json.str(s.layer)}, """ +
        s""""name": ${Json.str(s.name)}, "start_us": ${s.startUs}, "end_us": ${s.endUs}, "self_us": ${self(i)}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), lines.mkString("", "\n", "\n"))
  }

  /** Self time summed per layer, in milliseconds. */
  def selfByLayerMs(spans: IndexedSeq[Span]): Map[String, Double] =
    spans.zip(selfUs(spans)).groupMapReduce(_._1.layer)(_._2 / 1000.0)(_ + _)
}

/** In-memory span store for one run; written out when the run ends. */
final class Tracer {
  private val buf = new ConcurrentLinkedQueue[Span]()
  def add(s: Span): Unit = buf.add(s)
  def spans: IndexedSeq[Span] = buf.asScala.toIndexedSeq.sortBy(_.startUs)
}

/** Jobs, stages and tasks from Spark's scheduler events. */
final class SchedulerTrace(tracer: Tracer) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  val jobs, stages, tasks, failedTasks, retriedTasks = new AtomicLong()
  val schedulerDelayMs, taskBusyMs, taskCpuNs, gcMs = new AtomicLong()
  val shuffleWriteBytes, shuffleReadBytes, spillBytes = new AtomicLong()
  private val lastJobEnd = new AtomicReference[String]("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("")
    jobStart.put(e.jobId, (e.time, site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (t0, site) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, ""))
    // a job launched by table resolution (parquet schema inference) is
    // charged to the tables layer, every other job to exec
    val layer = if (site.contains("Tables.scala")) "tables" else "exec"
    tracer.add(Span("job", layer, site, t0 * 1000L, e.time * 1000L))
    jobs.incrementAndGet()
    lastJobEnd.set(site)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) failedTasks.incrementAndGet()
    if (e.taskInfo.attemptNumber > 0) retriedTasks.incrementAndGet()
    val m = e.taskMetrics
    val dur = e.taskInfo.duration
    taskBusyMs.addAndGet(dur)
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      // the Spark UI's scheduler delay: task wall not spent running,
      // deserializing or serializing the result
      schedulerDelayMs.addAndGet(math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
    }
  }

  /** The call site of the last job that ended (used as a barrier). */
  def lastSite: String = lastJobEnd.get
}

/** Catalyst phases and exchange counts of every executed plan. */
final class PlanTrace(tracer: Tracer) extends QueryExecutionListener {
  val exchanges = new AtomicLong()
  private object helper extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    qe.tracker.phases.foreach { case (phase, ph) =>
      if (phase != "parsing")
        tracer.add(Span("phase", "plan", phase, ph.startTimeMs * 1000L, ph.endTimeMs * 1000L))
    }
    exchanges.addAndGet(helper.collectWithSubqueries(qe.executedPlan) {
      case x: ShuffleExchangeLike => x
    }.size.toLong)
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Per-trigger progress of streaming queries. */
final class StreamTrace(tracer: Tracer) extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()
  val terminated = new AtomicLong()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val t0 = Instant.parse(p.timestamp).toEpochMilli * 1000L
    tracer.add(Span("trigger", "stream", s"batch ${p.batchId}", t0,
      t0 + d.getOrElse("triggerExecution", 0L) * 1000L))
    progress.add((p.numInputRows, d))
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.incrementAndGet()
}
