package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  private def sample(n: Int): Array[Double] = (1 to n).map(_.toDouble).toArray

  test("tail is the highest percentile with at least ten samples beyond it") {
    assert(Stats.tail(sample(1000)) == Some(0.99 -> 990.0))
    // 999 samples leave only 9 past p99, so p95 is the highest supported
    assert(Stats.tail(sample(999)).map(_._1) == Some(0.95))
    assert(Stats.tail(sample(200)).map(_._1) == Some(0.95))
    assert(Stats.tail(sample(100)) == Some(0.9 -> 90.0))
    assert(Stats.tail(sample(40)).map(_._1) == Some(0.75))
    assert(Stats.tail(sample(20)) == Some(0.5 -> 10.0))
    assert(Stats.tail(sample(19)).isEmpty)
    assert(Stats.beyond(1000, 0.99) == 10 && Stats.beyond(999, 0.99) == 9)
  }

  test("nearest-rank quantiles and labels") {
    assert(Stats.quantile(sample(4), 0.5) == 2.0)
    assert(Stats.quantile(sample(1), 0.99) == 1.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(math.abs(Stats.geoMean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    assert(Stats.label(0.99) == "p99" && Stats.label(0.5) == "p50" && Stats.label(0.999) == "p99.9")
  }

  test("open loop: a stall delays sends but not due times, and lateness is reported") {
    var now = 0L
    var stalled = false
    val loop = new OpenLoop(rate = 1000.0, nowNs = () => now, idle = () => now += 100000L)
    val sent = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val late = loop.run(100) { (from, until) =>
      sent += ((from, until, now))
      // the system stalls 50 ms once, while message 10 is being sent
      if (!stalled && until > 10) { stalled = true; now += 50000000L }
    }
    assert(sent.map(s => s._2 - s._1).sum == 100)
    assert(loop.dueOffsetMs(42) == 42.0)
    // messages sent before the stall are on time
    assert(late.take(10).forall(_ < 1.0))
    // the stalled one and those that came due meanwhile went out late,
    // each charged from its own due time
    assert(late(10) >= 49.0)
    assert(late(30) > 25.0 && late(30) < late(10))
    // afterwards the loop catches up in one burst, then runs on time again
    assert(late.drop(70).forall(_ < 1.0))
  }

  test("CTSDB receiver times each record from its due time and counts duplicates") {
    val gen = new EtlGen(7)
    val tails = Iterator.continually(gen.next(1000L)).filter(_._2 >= 0).take(3).toSeq
      .map { case (m, _) => m.substring(graft.operators.MsgCodec.HeaderLen) }
    val body = tails.mkString
    val log = new CtsdbLog(10)
    log.accept(body, 1250L)
    log.accept(tails(1), 1900L) // a redelivered record
    assert(log.records.get == 4 && log.distinct.get == 3 && log.dups.get == 1)
    assert(log.malformed.get == 0)
    // the duplicate does not move the first arrival
    assert(log.latencies(0, 3).toSeq == Seq(250.0, 250.0, 250.0))
    assert(log.missing(0, 5) == 2)
    log.accept("""{"seq":"x"}""" + "\n", 2000L)
    assert(log.malformed.get == 1)
  }

  test("ZhiYan receiver counts a re-delivered batch once") {
    val z = new ZhiyanLog
    z.accept("""{"batch":3,"n":10,"avg_ms":1.0,"max_ms":2}""")
    z.accept("""{"batch":4,"n":5,"avg_ms":1.0,"max_ms":2}""")
    z.accept("""{"batch":3,"n":10,"avg_ms":1.0,"max_ms":2}""")
    assert(z.count == 15 && z.dupBatches.sum == 1)
  }

  test("window ground truth excludes late rows and redeliveries") {
    val g = new WinGen(1, 5000, 1000)
    assert(g.truth.values.map(_.n).sum == 5000 - g.late)
    assert(g.msgs.size == 5000 + g.dups + 1)
    assert(g.late > 0 && g.dups > 0 && g.outOfOrder > 0)
    assert(!g.truth.contains(g.flushWindow))
  }

  test("window traffic shares are set per thousand, and zero turns a kind off") {
    assert(WinMix.parse("50, 30,5") == WinMix.Default)
    val plain = new WinGen(1, 5000, 1000, WinMix(0, 0, 0))
    assert(plain.late == 0 && plain.dups == 0 && plain.outOfOrder == 0)
    assert(plain.msgs.size == 5001 && plain.truth.values.map(_.n).sum == 5000)
    val heavy = new WinGen(1, 5000, 1000, WinMix(200, 120, 20))
    val base = new WinGen(1, 5000, 1000)
    assert(heavy.dups > 2 * base.dups && heavy.outOfOrder > 2 * base.outOfOrder && heavy.late > 2 * base.late)
    assert(scala.util.Try(WinMix.parse("1,2")).isFailure)
  }

  test("exclusive attribution splits wall time among the innermost open spans") {
    def s(id: Long, parent: Long, layer: String, a: Long, b: Long) = Span(id, parent, 0, layer, "x", a, b)
    val spans = Vector(
      s(1, 0, "api", 0, 100),
      s(2, 1, "plans", 10, 30),
      s(3, 1, "operators", 40, 90),
      s(4, 3, "operators", 50, 70),
      s(5, 3, "sources", 60, 80))
    val (by, residual) = Trace.attribute(spans, 0, 120)
    // api: 0-10, 30-40, 90-100; plans 10-30; operators 40-50, 50-60, 60-70 half, 80-90
    assert(by("api") == 30.0)
    assert(by("plans") == 20.0)
    assert(by("operators") == 35.0)
    assert(by("sources") == 15.0)
    assert(residual == 20.0)
    assert(by.values.sum + residual == 120.0)
  }
}
