package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder
import graft.streaming.Transport
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Counters of the HTTP sink, fed by [[TimedTransport]]. One JVM-wide
  * instance: in local mode the executors' transports run in this JVM. */
object SinkProbe {
  val posts, failures, bytes, records = new LongAdder
  val postUs = new ConcurrentLinkedQueue[java.lang.Long]
  val errors = new ConcurrentLinkedQueue[String]

  def reset(): Unit = {
    Seq(posts, failures, bytes, records).foreach(_.reset())
    postUs.clear(); errors.clear()
  }
}

/** Times every `Transport.send` of the engine's sink from outside. */
final class TimedTransport(inner: Transport, countRecords: Boolean) extends Transport {
  override def send(payload: String): Unit = Trace.span("streaming.sink", "transport.send") {
    val t0 = System.nanoTime()
    try inner.send(payload)
    catch {
      case e: Throwable =>
        SinkProbe.failures.increment()
        if (SinkProbe.errors.size < 5) SinkProbe.errors.add(e.toString.take(300))
        throw e
    }
    if (countRecords) {
      SinkProbe.posts.increment()
      SinkProbe.bytes.add(payload.length)
      var n = 0; var i = payload.indexOf('\n')
      while (i >= 0) { n += 1; i = payload.indexOf('\n', i + 1) }
      SinkProbe.records.add(n)
      SinkProbe.postUs.add((System.nanoTime() - t0) / 1000L)
    }
  }
  override def close(): Unit = inner.close()
}

/** Execution-layer counters and spans from Spark's public listener API. */
final class ExecListener extends SparkListener {
  val jobs, stages, tasks, failedTasks = new LongAdder
  val runMs, cpuNs, gcMs, schedMs, shufW, shufR, spill = new LongAdder
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]
  private val markerJobs, markerStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val markersSent, markersSeen = new java.util.concurrent.atomic.AtomicLong

  /** Returns once every event posted to the shared listener queue before
    * the call has been delivered. It runs a one-task marker job and waits
    * for the marker's end event, which that queue delivers after all
    * earlier ones. [[PlanListener]] sits on the same queue. The marker's
    * own events are not counted. */
  def drain(sc: org.apache.spark.SparkContext, timeoutMs: Long = 30000L): Unit = {
    val want = markersSent.incrementAndGet()
    sc.setLocalProperty(ExecListener.MarkerProp, "1")
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(ExecListener.MarkerProp, null)
    val end = System.currentTimeMillis() + timeoutMs
    while (markersSeen.get < want) {
      if (System.currentTimeMillis() > end) sys.error("the listener bus did not deliver the marker job")
      Thread.sleep(1)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(ExecListener.MarkerProp) != null)) {
      markerJobs.add(e.jobId)
      e.stageIds.foreach(markerStages.add)
      return
    }
    jobs.increment()
    def prop(k: String): Long =
      props.flatMap(p => Option(p.getProperty(k))).map(_.toLong).getOrElse(0L)
    val id = Trace.newId()
    jobSpan.put(e.jobId, id)
    jobInfo.put(e.jobId, (prop(Trace.SpanProp), prop(Trace.TraceProp), e.time * 1000L))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId)) markersSeen.incrementAndGet()
    else Option(jobInfo.remove(e.jobId)).foreach { case (parent, trace, startUs) =>
      Trace.add(Span(jobSpan.get(e.jobId), parent, trace, "operators", s"job ${e.jobId}",
        startUs, e.time * 1000L))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    if (markerStages.contains(si.stageId)) return
    stages.increment()
    val job = stageJob.getOrDefault(si.stageId, -1)
    val parent = Option(jobSpan.get(job)).map(_.longValue).getOrElse(0L)
    val id = Option(stageSpan.get((si.stageId, si.attemptNumber()))).map(_.longValue)
      .getOrElse(Trace.newId())
    for (s <- si.submissionTime; c <- si.completionTime)
      Trace.add(Span(id, parent, 0L, "operators", s"stage ${si.stageId}", s * 1000L, c * 1000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (markerStages.contains(e.stageId)) return
    tasks.increment()
    val info = e.taskInfo
    if (!info.successful) failedTasks.increment()
    Option(e.taskMetrics).foreach { m =>
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      val dur = info.finishTime - info.launchTime
      schedMs.add(math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime))
      shufW.add(m.shuffleWriteMetrics.bytesWritten)
      shufR.add(m.shuffleReadMetrics.totalBytesRead)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    if (Trace.on) {
      val key = (e.stageId, e.stageAttemptId)
      val parent = stageSpan.computeIfAbsent(key, _ => Trace.newId()).longValue
      Trace.add(Span(Trace.newId(), parent, 0L, "operators", s"task ${info.taskId}",
        info.launchTime * 1000L, info.finishTime * 1000L))
    }
  }

  def reset(): Unit =
    Seq(jobs, stages, tasks, failedTasks, runMs, cpuNs, gcMs, schedMs, shufW, shufR, spill)
      .foreach(_.reset())
}

object ExecListener {
  /** Local property that marks [[ExecListener.drain]]'s marker job. */
  val MarkerProp = "perfbench.marker"
}

/** Catalyst phase times of every executed command, as child spans. */
final class PlanListener extends QueryExecutionListener {
  val optimizeMs, physicalMs, analysisMs = new LongAdder

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def add(phase: String, into: LongAdder, name: String): Unit =
      phases.get(phase).foreach { p =>
        into.add(p.durationMs)
        Trace.add(Span(Trace.newId(), 0L, 0L, "plans", name, p.startTimeMs * 1000L,
          p.endTimeMs * 1000L))
      }
    add("analysis", analysisMs, "analysis")
    add("optimization", optimizeMs, "optimization")
    add("planning", physicalMs, "planning")
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def reset(): Unit = Seq(optimizeMs, physicalMs, analysisMs).foreach(_.reset())
}

object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  def resetPeak(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Progress-derived layer numbers of one streaming run. */
object ProgressStats {
  private val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  def phaseMs(ps: Seq[StreamingQueryProgress], k: String): Double =
    ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble)).sum

  def triggerMs(ps: Seq[StreamingQueryProgress]): Array[Double] =
    ps.filter(_.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble)).toArray.sorted

  /** Trigger spans with their phases laid end to end from the trigger's
    * start (progress reports durations, not start times). */
  def spans(ps: Seq[StreamingQueryProgress], tracePrefix: Long): Unit = ps.foreach { p =>
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val root = Trace.newId()
    val trace = tracePrefix + p.batchId
    Trace.add(Span(root, 0L, trace, "streaming", "trigger", start, start + total * 1000L))
    var t = start
    Phases.foreach { k =>
      Option(p.durationMs.get(k)).map(_.longValue).filter(_ > 0).foreach { ms =>
        val layer = k match {
          case "latestOffset" | "getBatch" | "commitOffsets" => "sources"
          case "queryPlanning" => "plans"
          case _ => "streaming"
        }
        Trace.add(Span(Trace.newId(), root, trace, layer, k, t, t + ms * 1000L))
        t += ms * 1000L
      }
    }
  }
}

/** A metric line: name, value, unit, sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Long, note: String = "")

object Metric {
  def fmt(m: Metric): String =
    f"[perfbench] ${m.name}%-28s ${m.value}%14.4f ${m.unit}%-6s n=${m.n}" +
      (if (m.note.nonEmpty) s"  (${m.note})" else "")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString("{", ", ", "}")
}
