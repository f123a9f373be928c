package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.TaskContext
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `parent` is 0 for a root; spans of one query or micro-batch share `trace`. */
final case class Span(id: Long, parent: Long, trace: Long, layer: String, name: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span recorder. Spans come only from the benchmark's own code:
  * wrappers around the engine's public entry points, and Spark listener
  * events converted after the fact. Off unless the run is traced. */
object Trace {
  @volatile var on = false
  val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong(1)
  def newId(): Long = ids.getAndIncrement()

  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  /** Epoch microseconds on a monotone clock. */
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  /** Local property carrying the enclosing span into jobs and tasks. */
  val SpanProp = "perfbench.span"
  val TraceProp = "perfbench.trace"

  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue: List[(Long, Long)] = Nil
  }

  /** (span, trace) enclosing the caller: this thread's innermost span, else
    * the span the submitting thread attached to the running task's job. */
  private def enclosing: (Long, Long) = stack.get() match {
    case top :: _ => top
    case Nil =>
      Option(TaskContext.get()).flatMap { tc =>
        Option(tc.getLocalProperty(SpanProp)).map(s =>
          s.toLong -> Option(tc.getLocalProperty(TraceProp)).map(_.toLong).getOrElse(0L))
      }.getOrElse(0L -> 0L)
  }

  /** Run `body` inside a span; `trace` < 0 inherits the enclosing trace. */
  def span[T](layer: String, name: String, trace: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val (parent, parentTrace) = enclosing
      val t = if (trace >= 0) trace else parentTrace
      val id = newId()
      val start = nowUs()
      stack.set((id, t) :: stack.get())
      try body
      finally {
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, t, layer, name, start, nowUs()))
      }
    }

  /** Like [[span]], and also tags Spark jobs submitted from this thread
    * with the span so listener job spans hang under it. */
  def jobSpan[T](sc: org.apache.spark.SparkContext, layer: String, name: String,
      trace: Long = -1L)(body: => T): T =
    if (!on) body
    else span(layer, name, trace) {
      val (id, t) = stack.get().head
      val (oldS, oldT) = (sc.getLocalProperty(SpanProp), sc.getLocalProperty(TraceProp))
      sc.setLocalProperty(SpanProp, id.toString)
      sc.setLocalProperty(TraceProp, t.toString)
      try body
      finally { sc.setLocalProperty(SpanProp, oldS); sc.setLocalProperty(TraceProp, oldT) }
    }

  def add(s: Span): Unit = if (on) spans.add(s)

  def reset(): Unit = spans.clear()

  def all: Vector[Span] = spans.asScala.toVector

  /** Give every root span accepted by `orphanOk` that lies inside a span
    * accepted by `host` the innermost such host as parent. Listener-derived
    * spans (streaming phases, plan phases, jobs) are recorded on other
    * threads and only know their interval. */
  def linkByContainment(ss: Vector[Span], orphanOk: Span => Boolean,
      host: Span => Boolean): Vector[Span] = {
    val hosts = ss.filter(host).sortBy(_.durUs)
    ss.map { s =>
      if (s.parent != 0 || !orphanOk(s)) s
      else hosts.find(h => h.id != s.id && h.startUs <= s.startUs && s.endUs <= h.endUs &&
          h.durUs > s.durUs) match {
        case Some(h) => s.copy(parent = h.id, trace = if (s.trace != 0) s.trace else h.trace)
        case None => s
      }
    }
  }

  /** Exclusive wall-time attribution over `[fromUs, toUs)`: every instant
    * goes to the innermost spans active then (spans with no active child),
    * split evenly when several run at once. Returns layer -> microseconds
    * and the uncovered residual. The layer totals plus the residual equal
    * the window exactly, which is what lets the per-layer table account
    * for end-to-end wall time. */
  def attribute(ss: Vector[Span], fromUs: Long, toUs: Long): (Map[String, Double], Double) = {
    val clipped = ss.flatMap { s =>
      val a = math.max(s.startUs, fromUs); val b = math.min(s.endUs, toUs)
      if (b > a) Some(s.copy(startUs = a, endUs = b)) else None
    }
    val byId = clipped.map(s => s.id -> s).toMap
    // events: (time, isStart=false first so an end at t frees before a start at t)
    val evs = clipped.flatMap(s => Seq((s.startUs, 1, s), (s.endUs, 0, s)))
      .sortBy(e => (e._1, e._2))
    val activeKids = mutable.Map.empty[Long, Int].withDefaultValue(0)
    val active = mutable.Set.empty[Long]
    val leaves = mutable.LinkedHashSet.empty[Long]
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var covered = 0.0
    var last = fromUs
    def parentOf(s: Span): Option[Long] =
      if (s.parent != 0 && active.contains(s.parent) && byId.contains(s.parent)) Some(s.parent) else None
    evs.foreach { case (t, kind, s) =>
      if (t > last && leaves.nonEmpty) {
        val dt = (t - last).toDouble
        val share = dt / leaves.size
        leaves.foreach(id => out(byId(id).layer) += share)
        covered += dt
      }
      last = math.max(last, t)
      if (kind == 1) {
        parentOf(s).foreach { p =>
          if (activeKids(p) == 0) leaves -= p
          activeKids(p) += 1
        }
        active += s.id
        if (activeKids(s.id) == 0) leaves += s.id
      } else {
        active -= s.id
        leaves -= s.id
        val p = s.parent
        if (p != 0 && active.contains(p)) {
          activeKids(p) -= 1
          if (activeKids(p) == 0) leaves += p
        }
      }
    }
    (out.toMap, (toUs - fromUs) - covered)
  }
}
