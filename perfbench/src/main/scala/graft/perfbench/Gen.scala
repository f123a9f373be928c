package graft.perfbench

import java.util.SplittableRandom
import graft.operators.MsgCodec
import scala.collection.mutable

/** The reference's fixed-width wire format, producer side. */
object Wire {
  def msg(module: String, sendTs: Long, tail: String): String = {
    val sb = new java.lang.StringBuilder(MsgCodec.HeaderLen + tail.length)
    sb.append(module); while (sb.length < MsgCodec.FieldLen) sb.append(' ')
    sb.append(sendTs); while (sb.length < 2 * MsgCodec.FieldLen) sb.append(' ')
    while (sb.length < MsgCodec.HeaderLen) sb.append(' ')
    sb.append(tail).toString
  }

  /** Seeded alphanumeric filler, sliced for record padding. */
  def pool(rnd: SplittableRandom, n: Int = 8192): String = {
    val cs = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    val sb = new java.lang.StringBuilder(n)
    (0 until n).foreach(_ => sb.append(cs.charAt(rnd.nextInt(cs.length))))
    sb.toString
  }
}

/** Messages of the reference job: about a fifth are `session` messages
  * whose tail is a CTSDB bulk record of a few hundred bytes carrying its
  * session `seq` and the generator's due time; the rest are other modules
  * with the short `events.props`-style tail the pipeline routes away. */
final class EtlGen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val pad = Wire.pool(rnd)
  private val others = Array("heartbeat", "click", "view", "error")
  var nextSeq = 0

  /** The next message, due at `dueMs`; `seq` is -1 for a non-session. */
  def next(dueMs: Long): (String, Int) =
    if (rnd.nextInt(100) < EtlGen.SessionPct) {
      val seq = nextSeq; nextSeq += 1
      val len = 160 + rnd.nextInt(200)
      val off = rnd.nextInt(pad.length - len)
      val tail = s"""{"seq":$seq,"due":$dueMs,"metric":"msg_delay","host":"h${rnd.nextInt(64)}",""" +
        s""""svc":"svc${rnd.nextInt(8)}","v":${rnd.nextInt(100000)},"pad":"${pad.substring(off, off + len)}"}""" + "\n"
      Wire.msg("session", dueMs, tail) -> seq
    } else Wire.msg(others(rnd.nextInt(others.length)), dueMs, s"""{"k": ${rnd.nextInt(100)}}""") -> -1
}

object EtlGen { val SessionPct = 20 }

/** One closed 10-second window as the stateful query should report it. */
final case class WindowTruth(n: Long, sumTs: Long, minTs: Long, maxTs: Long)

/** Shares of the `window_state` traffic, in messages per thousand:
  * re-published redeliveries the dedup must drop, messages out of order
  * inside the watermark, and messages late beyond it. None has a source:
  * the reference publishes no redelivery or disorder rates, and the
  * engine's sf0.1 `events` table is in time order. README records how
  * little the end-to-end figures move when the shares change. */
final case class WinMix(redeliverPm: Int, outOfOrderPm: Int, latePm: Int) {
  require(Seq(redeliverPm, outOfOrderPm, latePm).forall(_ >= 0) && outOfOrderPm + latePm <= 1000,
    s"bad traffic mix $this")
}

object WinMix {
  val Default = WinMix(50, 30, 5)

  /** `"r,o,l"` as given on the command line. */
  def parse(s: String): WinMix = s.split(",").map(_.trim.toInt) match {
    case Array(r, o, l) => WinMix(r, o, l)
    case _ => throw new IllegalArgumentException(s"--win-mix wants r,o,l per mille, got $s")
  }
}

/** A backlog for the stateful query, with its ground truth. Every message
  * is a session message keyed by a unique tail. Event time advances
  * `StepNum/StepDen` ms per message, so about 10^5 keys are live within the
  * dedup horizon (watermark 1 min + dedup delay 1 min). Per [[WinMix]], a
  * seeded share is re-published 50-2050 messages later (0.06-2.5 s of event
  * time, so every copy stays inside the watermark), a share arrives up to
  * 30 s out of order inside the watermark, and a share arrives ten minutes
  * late, beyond it, once the watermark has had time to advance; the last
  * message jumps event time ahead so every real window closes. */
final class WinGen(seed: Long, n: Int, lateAfter: Int, mix: WinMix = WinMix.Default) {
  import WinGen._
  private val rnd = new SplittableRandom(seed ^ 0x5eed)
  private val pad = Wire.pool(rnd)
  val msgs = new mutable.ArrayBuffer[String](n + n / 10)
  val truth = mutable.Map.empty[Long, WindowTruth]
  var late, dups, outOfOrder = 0

  private val pending = mutable.PriorityQueue.empty[(Int, String)](Ordering.by[(Int, String), Int](-_._1))
  private var maxTs = Base

  (0 until n).foreach { i =>
    while (pending.nonEmpty && pending.head._1 <= i) { msgs += pending.dequeue()._2; dups += 1 }
    val inOrder = Base + i.toLong * StepNum / StepDen
    val r = rnd.nextInt(1000)
    val isLate = i > lateAfter && r < mix.latePm
    val ts =
      if (isLate) inOrder - 600000L
      else if (r >= mix.latePm && r < mix.latePm + mix.outOfOrderPm) {
        outOfOrder += 1; inOrder - 1000L - rnd.nextInt(29000)
      }
      else inOrder
    val len = 24 + rnd.nextInt(40)
    val off = rnd.nextInt(pad.length - len)
    val m = Wire.msg("session", ts, s"""{"key":"k$i","pad":"${pad.substring(off, off + len)}"}""")
    msgs += m
    maxTs = math.max(maxTs, ts)
    if (isLate) late += 1
    else {
      val w = Math.floorDiv(ts, WindowMs) * WindowMs
      val t = truth.getOrElse(w, WindowTruth(0, 0, Long.MaxValue, Long.MinValue))
      truth(w) = WindowTruth(t.n + 1, t.sumTs + ts, math.min(t.minTs, ts), math.max(t.maxTs, ts))
      if (rnd.nextInt(1000) < mix.redeliverPm) pending.enqueue((i + 50 + rnd.nextInt(2000), m))
    }
  }
  while (pending.nonEmpty) { msgs += pending.dequeue()._2; dups += 1 }
  /** Window start of the closing message, never emitted, never checked. */
  val flushWindow: Long = Math.floorDiv(maxTs + 600000L, WindowMs) * WindowMs
  msgs += Wire.msg("session", maxTs + 600000L, """{"key":"flush"}""")
}

object WinGen {
  val Base = 1735689600000L
  val StepNum = 6L
  val StepDen = 5L
  val WindowMs = 10000L
  /** Fixed reference instant for the delay metric, so windows are exact. */
  val NowRef: Long = Base + 86400000L
}

/** Open-loop pacing at a fixed `rate` (msgs/s): message `i` is due
  * `i / rate` seconds after the start whatever the system under test is
  * doing. A message sent late keeps its due time, so a stall is charged to
  * every message it delays, and how late each one went out is recorded. */
final class OpenLoop(rate: Double, nowNs: () => Long = () => System.nanoTime(),
    idle: () => Unit = () => java.util.concurrent.locks.LockSupport.parkNanos(200000L)) {

  def dueOffsetMs(i: Long): Double = i * 1000.0 / rate

  /** Send `total` messages, calling `send(from, until)` for each run of
    * messages that has come due; returns each message's lateness in ms,
    * taken when its `send` call returned. */
  def run(total: Int)(send: (Int, Int) => Unit): Array[Double] = {
    val start = nowNs()
    val late = new Array[Double](total)
    var i = 0
    while (i < total) {
      val elapsedMs = (nowNs() - start) / 1e6
      val due = math.min(total.toLong, (elapsedMs * rate / 1000).toLong + 1).toInt
      if (due > i) {
        send(i, due)
        val sentMs = (nowNs() - start) / 1e6
        while (i < due) { late(i) = sentMs - dueOffsetMs(i); i += 1 }
      } else idle()
    }
    late
  }
}
