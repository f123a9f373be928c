package graft.perfbench

import graft.operators.MsgCodec
import graft.sources.{MessageSource, MsgBroker}
import graft.streaming.{BatchedSink, HttpTransport, MsgPipeline, StatefulOps}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** What one measurement produced. `headline` holds the four metrics
  * of the last output line; `detail` every named end-to-end metric of the workload. */
final case class Outcome(headline: Seq[Metric], detail: Seq[Metric], layer: Seq[Metric],
    attempted: Long, failed: Long, fromUs: Long, toUs: Long, notes: Seq[String] = Nil)

trait Workload {
  /** Build the inputs of `measures` measurements. Untimed: generating
    * inputs is the benchmark's work, not the engine's. */
  def prepare(measures: Int): Unit = ()
  /** The engine work `measures` measurements need before they start, on a
    * fresh session: loading the prepared inputs and starting a first
    * query. The caller times each call as one set-up. */
  def setup(spark: SparkSession, rep: Int, measures: Int): Unit
  /** Untimed run of the workload's code paths after the last set-up, so
    * measurements start on a compiled, warm engine. */
  def warmUp(): Unit
  def measure(k: Int): Outcome
}

object Streams {
  val Topics = 3

  def publishAll(brokers: Seq[MsgBroker], msgs: Iterator[String]): Unit = {
    var i = 0
    msgs.foreach { m => brokers(i % brokers.length).publish(m); i += 1 }
  }

  def removeAll(brokers: Iterable[MsgBroker]): Unit = brokers.foreach(b => MsgBroker.remove(b.name))

  /** Starts a query, waits for its first micro-batch with input and stops
    * it: the query start a set-up times. */
  def firstBatch(start: => StreamingQuery): Unit = {
    val q = start
    try {
      if (!awaitUntil(q, 60000)(Option(q.lastProgress).exists(_.numInputRows > 0)))
        sys.error("the set-up query ran no batch in 60 s")
    } finally q.stop()
  }

  /** Every progress of a query whose inputs are all delivered, once its
    * last batch has committed. The session keeps every progress
    * (`spark.sql.streaming.numRecentProgressUpdates`), and the query's own
    * list does not wait for the listener bus. */
  def allProgress(q: StreamingQuery): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    q.processAllAvailable()
    q.recentProgress.toSeq
  }

  /** Poll until `done`, the timeout, or the query's failure (rethrown). */
  def awaitUntil(q: StreamingQuery, timeoutMs: Long)(done: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!done && System.currentTimeMillis() < end) {
      q.exception.foreach(e => throw e)
      Thread.sleep(2)
    }
    done
  }

  def progressLayer(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
      wallMs: Double): Seq[Metric] = {
    val data = ps.filter(_.numInputRows > 0)
    val trig = ProgressStats.triggerMs(ps)
    val rows = data.map(_.numInputRows.toDouble).toArray.sorted
    val (tq, tv) = if (trig.isEmpty) (0.99, 0.0) else Stats.tail(trig).getOrElse(0.5 -> Stats.quantile(trig, 0.5))
    val allTrig = ps.flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toDouble)).sum
    val ops = ps.flatMap(_.stateOperators)
    val last = ps.lastOption.toSeq.flatMap(_.stateOperators)
    def ph(k: String) = ProgressStats.phaseMs(ps, k)
    Seq(
      Metric("sources.latest_offset_ms", ph("latestOffset"), "ms", ps.size),
      Metric("sources.get_batch_ms", ph("getBatch"), "ms", ps.size),
      Metric("sources.commit_offsets_ms", ph("commitOffsets"), "ms", ps.size),
      Metric("streaming.batches", data.size, "count", data.size),
      Metric("streaming.rows_per_batch_p50", if (rows.isEmpty) 0 else Stats.quantile(rows, 0.5), "count", rows.length),
      Metric("streaming.trigger_ms_p50", if (trig.isEmpty) 0 else Stats.quantile(trig, 0.5), "ms", trig.length),
      Metric("streaming.trigger_ms_p99", tv, "ms", trig.length, s"${Stats.label(tq)}, the highest the sample supports"),
      Metric("streaming.planning_ms", ph("queryPlanning"), "ms", ps.size),
      Metric("streaming.wal_commit_ms", ph("walCommit"), "ms", ps.size),
      Metric("streaming.add_batch_ms", ph("addBatch"), "ms", ps.size),
      Metric("streaming.idle_ms", math.max(0.0, wallMs - allTrig), "ms", ps.size),
      Metric("state.rows_total", last.map(_.numRowsTotal).sum.toDouble, "count", last.size),
      Metric("state.mem_bytes", last.map(_.memoryUsedBytes).sum.toDouble, "bytes", last.size),
      Metric("state.rows_updated", ops.map(_.numRowsUpdated).sum.toDouble, "count", ops.size),
      Metric("state.commit_ms", ops.map(_.commitTimeMs).sum.toDouble, "ms", ops.size),
      Metric("state.update_ms", ops.map(_.allUpdatesTimeMs).sum.toDouble, "ms", ops.size),
      Metric("state.removal_ms", ops.map(_.allRemovalsTimeMs).sum.toDouble, "ms", ops.size),
      Metric("state.rows_dropped_watermark", ops.map(_.numRowsDroppedByWatermark).sum.toDouble, "count", ops.size),
      Metric("state.stores", last.map(_.numStateStoreInstances.toLong).sum.toDouble, "count", last.size))
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }
}

/** `etl_http`: the reference job. Three broker topics fan in to
  * `MessageSource.brokerStream`; `MsgPipeline.runFanOut` sends session
  * tails through `BatchedSink` over a real `HttpTransport` to the CTSDB
  * stand-in and posts each batch's delay aggregate to the ZhiYan stand-in.
  * Phase 1 drains a pre-published backlog; phase 2 is an open loop over a
  * fixed ladder of rates. No state store runs. */
final class EtlHttp(seed: Long, seconds: Int, cores: Int, runDir: String, recv: Receivers)
    extends Workload {
  import EtlHttp._

  private var spark: SparkSession = _
  private var rep = 0
  private val gens = mutable.Map.empty[Int, EtlGen]
  private val backlogs = mutable.Map.empty[Int, Array[String]]
  private val backlogSessions = mutable.Map.empty[Int, Int]
  private val brokers = mutable.Map.empty[Int, Seq[MsgBroker]]
  private var probe: Array[String] = Array.empty
  private var probeSessions = 0

  private def topics(k: Int): Seq[String] = (0 until Streams.Topics).map(t => s"etl-r$rep-m$k-t$t")

  private def newBrokers(names: Seq[String]): Seq[MsgBroker] =
    names.map(n => MsgBroker.create(n, numPartitions = cores))

  private def sessionSink: (Dataset[String], Long) => Unit = {
    val url = recv.url("/ctsdb/_bulk")
    val sink = new BatchedSink(() => new TimedTransport(new HttpTransport(url, "bench", "bench"), true),
      batchNum = 1000, batchTimeSec = 5)
    (ds, id) => Trace.jobSpan(ds.sparkSession.sparkContext, "streaming.sink", "ctsdb sink")(sink.write(ds, id))
  }

  private def metricSink: (DataFrame, Long) => Unit = {
    val zhiyan = new TimedTransport(new HttpTransport(recv.url("/zhiyan"), "bench", "bench"), false)
    (df, id) => Trace.jobSpan(df.sparkSession.sparkContext, "streaming.sink", "zhiyan sink") {
      val r = df.agg(count(lit(1)), avg(col("delay_ms")), max(col("delay_ms"))).head()
      val n = r.getLong(0)
      if (n > 0) zhiyan.send(s"""{"batch":$id,"n":$n,"avg_ms":${r.getDouble(1)},"max_ms":${r.getLong(2)}}""")
    }
  }

  private def start(k: Int, tag: String): StreamingQuery =
    MsgPipeline.runFanOut(MessageSource.brokerStream(spark, topics(k).mkString(",")),
      s"$runDir/rep$rep/ckpt-$tag-$k", () => System.currentTimeMillis(), sessionSink, metricSink)

  override def prepare(measures: Int): Unit = {
    (0 until measures).foreach { k =>
      val g = new EtlGen(seed * 31 + k)
      val now = System.currentTimeMillis()
      backlogs(k) = Array.fill(BacklogMsgs)(g.next(now)._1)
      gens(k) = g; backlogSessions(k) = g.nextSeq
    }
    val pg = new EtlGen(seed + 5555)
    probe = Array.fill(ProbeMsgs)(pg.next(System.currentTimeMillis())._1)
    probeSessions = pg.nextSeq
  }

  def setup(s: SparkSession, r: Int, measures: Int): Unit = {
    Streams.removeAll(brokers.values.flatten)
    brokers.clear()
    spark = s; rep = r
    val pb = newBrokers(topics(-2))
    Streams.publishAll(pb, probe.iterator)
    recv.reset(probeSessions)
    try Streams.firstBatch(start(-2, "setup")) finally Streams.removeAll(pb)
    (0 until measures).foreach { k =>
      val bs = newBrokers(topics(k))
      Streams.publishAll(bs, backlogs(k).iterator)
      brokers(k) = bs
    }
  }

  def warmUp(): Unit = {
    val warm = new EtlGen(seed + 7777)
    val wb = newBrokers(topics(-1))
    recv.reset(WarmMsgs)
    Streams.publishAll(wb, Iterator.continually(warm.next(System.currentTimeMillis())._1).take(WarmMsgs))
    val q = start(-1, "warm")
    Streams.awaitUntil(q, 60000)(recv.ctsdb.distinct.get >= warm.nextSeq && recv.zhiyan.count >= warm.nextSeq)
    q.stop()
    Streams.removeAll(wb)
  }

  def measure(k: Int): Outcome = {
    val g = gens(k); val bs = brokers(k)
    backlogs.remove(k)
    val ladderMsgs = Ladder.map { case (r, share) => (r * rungSec(share)).toLong }.sum
    recv.reset(g.nextSeq + ladderMsgs.toInt + 1)
    SinkProbe.reset()
    val redeliveredBefore = bs.map(_.redelivered).sum
    val fromUs = Trace.nowUs()
    val t0 = System.nanoTime()
    val q = start(k, "run")
    val nb = backlogSessions(k)
    val drained = Streams.awaitUntil(q, DrainTimeoutMs)(recv.ctsdb.distinct.get >= nb && recv.zhiyan.count >= nb)
    val drainS = (System.nanoTime() - t0) / 1e9
    val notes = mutable.Buffer.empty[String]
    if (!drained) notes += s"backlog not drained in ${DrainTimeoutMs / 1000} s"

    // the drain's garbage is collected before the ladder, not during its
    // first rung
    System.gc()
    Thread.sleep(SettleMs)
    var backlogMax = 0L
    val lateMs = mutable.ArrayBuffer.empty[Double]
    case class Rung(rate: Double, p50: Double, tailQ: Double, tail: Double, n: Int, missing: Int,
        backlogEnd: Long, achieved: Double, lateP99: Double)
    val rungs = Ladder.map { case (rate, share) =>
      val startSeq = g.nextSeq
      val total = (rate * rungSec(share)).toInt
      var lastSample = 0L
      val loop = new OpenLoop(rate)
      val startNs = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val late = loop.run(total) { (from, until) =>
        Trace.span("sources", "publish") {
          var i = from
          while (i < until) {
            val m = g.next(startMs + loop.dueOffsetMs(i).toLong)._1
            bs(i % bs.length).publish(m)
            i += 1
          }
        }
        if (System.nanoTime() - lastSample > 50000000L) {
          lastSample = System.nanoTime()
          backlogMax = math.max(backlogMax, bs.map(_.retainedTotal).sum)
        }
      }
      val elapsedS = (System.nanoTime() - startNs) / 1e9
      val backlogEnd = bs.map(_.retainedTotal).sum
      val endSeq = g.nextSeq
      Streams.awaitUntil(q, RungDrainMs)(recv.ctsdb.distinct.get >= endSeq)
      // the first part of a rung carries the previous rung's batches
      val lat = recv.ctsdb.latencies(startSeq + ((endSeq - startSeq) * TransientShare).toInt, endSeq)
      val (tq, tv) = Stats.tail(lat).getOrElse(0.5 -> (if (lat.isEmpty) Double.NaN else Stats.quantile(lat, 0.5)))
      lateMs ++= late
      val ls = late.sorted
      Rung(rate, if (lat.isEmpty) Double.NaN else Stats.quantile(lat, 0.5), tq, tv, lat.length,
        recv.ctsdb.missing(startSeq, endSeq), backlogEnd, total / elapsedS,
        if (ls.isEmpty) 0.0 else Stats.quantile(ls, 0.99))
    }
    val sessions = g.nextSeq
    Streams.awaitUntil(q, RungDrainMs)(recv.zhiyan.count >= sessions)
    val toUs = Trace.nowUs()
    val wallMs = (toUs - fromUs) / 1000.0
    val ps = Streams.allProgress(q)
    // stopping interrupts a send in flight; that is not a failed delivery
    val failedPosts = SinkProbe.failures.sum
    val postErrors = SinkProbe.errors.toArray.toSeq
    q.stop()
    val redelivered = bs.map(_.redelivered).sum - redeliveredBefore
    val backlogEnd = bs.map(_.retainedTotal).sum
    Streams.removeAll(bs)
    brokers.remove(k)

    val ctsdb = recv.ctsdb
    val missing = ctsdb.missing(0, sessions)
    val metricGap = math.abs(recv.zhiyan.count - sessions)
    val failed = missing + metricGap + failedPosts + ctsdb.malformed.get + recv.zhiyan.malformed.sum
    if (missing > 0) notes += s"$missing of $sessions session records never reached the CTSDB receiver"
    postErrors.foreach(e => notes += s"POST failed: $e")
    if (metricGap > 0) notes += s"ZhiYan saw ${recv.zhiyan.count} delays for $sessions sessions"
    if (recv.zhiyan.dupBatches.sum > 0) notes += s"ZhiYan saw ${recv.zhiyan.dupBatches.sum} batches twice"

    val sustained = rungs.filter(r => r.tail <= LatencyLimitMs && r.missing == 0 &&
      r.backlogEnd <= r.rate * LatencyLimitMs / 1000).lastOption
    val low = rungs.head; val high = rungs.last
    val detail = Seq(
      Metric("drain_msgs_per_s", BacklogMsgs / drainS, "1/s", BacklogMsgs, f"$BacklogMsgs msgs in $drainS%.3f s"),
      Metric("lat_p50_ms_low", low.p50, "ms", low.n, f"${low.rate}%.0f msgs/s"),
      Metric("lat_p99_ms_low", low.tail, "ms", low.n, s"${Stats.label(low.tailQ)}"),
      Metric("lat_p50_ms_high", high.p50, "ms", high.n, f"${high.rate}%.0f msgs/s"),
      Metric("lat_p99_ms_high", high.tail, "ms", high.n, s"${Stats.label(high.tailQ)}"),
      Metric("sustained_msgs_per_s", sustained.map(_.achieved).getOrElse(0.0), "1/s",
        sustained.map(_.n.toLong).getOrElse(0L),
        sustained.map(r => f"rung ${r.rate}%.0f msgs/s, ${Stats.label(r.tailQ)} ${r.tail}%.1f ms <= $LatencyLimitMs%.0f ms")
          .getOrElse("no rung met the limit")),
      Metric("failed_frac", failed.toDouble / math.max(1, sessions), "ratio", sessions)) ++
      rungs.map(r => Metric(f"rung_${r.rate}%.0f_p50_ms", r.p50, "ms", r.n,
        f"${Stats.label(r.tailQ)} ${r.tail}%.1f ms, achieved ${r.achieved}%.0f msgs/s, backlog at end ${r.backlogEnd}, gen late p99 ${r.lateP99}%.1f ms"))
    val lat = lateMs.toArray.sorted
    val posts = SinkProbe.postUs.toArray.map(_.asInstanceOf[java.lang.Long].toDouble / 1000.0).sorted
    val postTail = Stats.tail(posts).getOrElse(0.5 -> (if (posts.isEmpty) 0.0 else Stats.quantile(posts, 0.5)))
    val layer = Seq(
      Metric("sources.backlog_msgs_max", backlogMax.toDouble, "count", 1),
      Metric("sources.backlog_msgs_end", backlogEnd.toDouble, "count", 1),
      Metric("sources.redelivered", redelivered.toDouble, "count", 1),
      Metric("gen.late_ms_p99", if (lat.isEmpty) 0.0 else Stats.quantile(lat, 0.99), "ms", lat.length),
      Metric("sink.posts", SinkProbe.posts.sum.toDouble, "count", 1),
      Metric("sink.records", SinkProbe.records.sum.toDouble, "count", 1),
      Metric("sink.bytes", SinkProbe.bytes.sum.toDouble, "bytes", 1),
      Metric("sink.records_per_post", SinkProbe.records.sum.toDouble / math.max(1L, SinkProbe.posts.sum), "count",
        SinkProbe.posts.sum),
      Metric("sink.post_ms_p50", if (posts.isEmpty) 0.0 else Stats.quantile(posts, 0.5), "ms", posts.length),
      Metric("sink.post_ms_p99", postTail._2, "ms", posts.length, Stats.label(postTail._1)),
      Metric("sink.post_failures", failedPosts.toDouble, "count", 1),
      Metric("sink.dup_records", ctsdb.dups.get.toDouble, "count", 1)) ++
      Streams.progressLayer(ps, wallMs)
    if (Trace.on) ProgressStats.spans(ps, (k + 1) * 1000000L)
    val headline = Seq(
      Metric("throughput_per_s", BacklogMsgs / drainS, "1/s", BacklogMsgs),
      Metric("latency_ms", low.p50, "ms", low.n),
      Metric("latency_tail_ms", high.tail, "ms", high.n))
    Outcome(headline, detail, layer, sessions.toLong, failed, fromUs, toUs, notes.toSeq)
  }

  private def rungSec(share: Double): Double = math.max(1.0, seconds * share)
}

object EtlHttp {
  /** Pre-published backlog: about four seconds of drain on a 4-core host
    * (105-145k msgs/s), so that a slow second of a shared host does not
    * decide the drain rate. */
  val BacklogMsgs = 450000
  val WarmMsgs = 60000
  /** Messages of the set-up query's first batch. */
  val ProbeMsgs = 5000
  /** Open-loop ladder: rate (msgs/s) and the share of `--seconds` the rung
    * runs. The reference publishes no rates; these are set against the
    * drain rate measured on a 4-core host (105-145k msgs/s): the first near
    * 10% of it (per-batch cost dominates), the last near a third (per-row
    * cost shows). Nearer half, at 54k, a slow stretch of a shared host
    * nearly doubled the micro-batch time and the p99 with it. The last
    * rung runs longest: its p99 is the workload's tail, and a p99 over
    * more micro-batches varies less from run to run. */
  val Ladder: Seq[(Double, Double)] = Seq(12000.0 -> 0.25, 30000.0 -> 0.15, 40000.0 -> 0.6)
  /** Leading share of a rung's sessions left out of its latency figures. */
  val TransientShare = 0.2
  val SettleMs = 500L
  val LatencyLimitMs = 2000.0
  val DrainTimeoutMs = 120000L
  val RungDrainMs = 20000L
}

/** `window_state`: the same source and parse feeding RocksDB state. The
  * session stream is de-duplicated on its key within the watermark
  * (`StatefulOps.dedupWithinWatermark`) and aggregated into the 10 s delay
  * windows of `MetricSink.windowedAvg` while a fixed backlog drains. */
final class WindowState(seed: Long, cores: Int, runDir: String, mix: WinMix) extends Workload {
  import WindowState._

  private var spark: SparkSession = _
  private var rep = 0
  private val gens = mutable.Map.empty[Int, WinGen]
  private val brokers = mutable.Map.empty[Int, Seq[MsgBroker]]
  private var probe: WinGen = _

  private def topics(k: Int): Seq[String] = (0 until Streams.Topics).map(t => s"win-r$rep-m$k-t$t")

  /** Closed windows as the sink saw them: start -> (n, avg, min, max), and
    * windows emitted twice. */
  private val seen = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Double, Long, Long)]
  private val reEmitted = new java.util.concurrent.atomic.AtomicLong

  private def start(k: Int, tag: String): StreamingQuery = {
    val src = MessageSource.brokerStream(spark, topics(k).mkString(","), Some(PerTrigger.toLong))
    val rows = MsgPipeline.parse(src)
      .where(MsgCodec.isSession(col("module")) && col("send_ts").isNotNull)
      .select(col("tail").as("payload"), timestamp_millis(col("send_ts")).as("event_time"),
        MsgCodec.delayMs(col("send_ts"), lit(WinGen.NowRef)).as("delay_ms"))
    // MetricSink.windowedAvg declares its own 1-minute watermark on
    // `event_time`, and Spark 4 refuses to redefine the one the dedup
    // declared, so the two engine functions do not compose. The window
    // aggregate below is windowedAvg's, applied under the dedup's watermark.
    StatefulOps.dedupWithinWatermark(rows)
      .groupBy(window(col("event_time"), "10 seconds"))
      .agg(count(lit(1)).as("n"), avg(col("delay_ms")).as("avg_delay_ms"),
        min(col("delay_ms")).as("min_delay_ms"), max(col("delay_ms")).as("max_delay_ms"))
      .select(col("window.start").as("win_start"), col("n"), col("avg_delay_ms"), col("min_delay_ms"),
        col("max_delay_ms"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint(k, tag))
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach { r =>
          val w = r.getTimestamp(0).getTime
          val v = (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))
          if (seen.putIfAbsent(w, v) != null) reEmitted.incrementAndGet()
        }
      }
      .start()
  }

  private def checkpoint(k: Int, tag: String) = s"$runDir/rep$rep/ckpt-$tag-$k"

  private def newBrokers(k: Int): Seq[MsgBroker] = topics(k).map(t => MsgBroker.create(t, numPartitions = cores))

  override def prepare(measures: Int): Unit = {
    (0 until measures).foreach(k => gens(k) = new WinGen(seed * 31 + k, BacklogMsgs, LateAfter, mix))
    probe = new WinGen(seed + 5555, ProbeMsgs, ProbeMsgs, mix)
  }

  def setup(s: SparkSession, r: Int, measures: Int): Unit = {
    Streams.removeAll(brokers.values.flatten)
    brokers.clear()
    spark = s; rep = r
    StatefulOps.useRocksDbStateStore(s)
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    val pb = newBrokers(-2)
    Streams.publishAll(pb, probe.msgs.iterator)
    try Streams.firstBatch(start(-2, "setup")) finally Streams.removeAll(pb)
    (0 until measures).foreach { k =>
      val bs = newBrokers(k)
      Streams.publishAll(bs, gens(k).msgs.iterator)
      brokers(k) = bs
    }
  }

  def warmUp(): Unit = {
    val warm = new WinGen(seed + 7777, WarmMsgs, WarmMsgs / 2, mix)
    val wb = newBrokers(-1)
    Streams.publishAll(wb, warm.msgs.iterator)
    seen.clear()
    val q = start(-1, "warm")
    Streams.awaitUntil(q, 60000)(warm.truth.keys.forall(seen.containsKey))
    q.stop()
    Streams.removeAll(wb)
  }

  def measure(k: Int): Outcome = {
    val g = gens(k)
    seen.clear(); reEmitted.set(0)
    val fromUs = Trace.nowUs()
    val t0 = System.nanoTime()
    val q = start(k, "run")
    val done = Streams.awaitUntil(q, DrainTimeoutMs)(g.truth.keys.forall(seen.containsKey))
    val drainS = (System.nanoTime() - t0) / 1e9
    val toUs = Trace.nowUs()
    val ps = Streams.allProgress(q)
    q.stop()
    brokers.remove(k).foreach(Streams.removeAll)
    val notes = mutable.Buffer.empty[String]
    if (!done) notes += s"windows not all closed in ${DrainTimeoutMs / 1000} s"

    val wrong = g.truth.toSeq.count { case (w, t) =>
      Option(seen.get(w)) match {
        case None => true
        case Some((n, avgD, minD, maxD)) =>
          val expAvg = WinGen.NowRef - t.sumTs.toDouble / t.n
          val ok = n == t.n && minD == WinGen.NowRef - t.maxTs && maxD == WinGen.NowRef - t.minTs &&
            math.abs(avgD - expAvg) <= 1e-6 * math.max(1.0, math.abs(expAvg))
          if (!ok) notes += s"window $w: got ($n, $avgD, $minD, $maxD), expected (${t.n}, $expAvg)"
          !ok
      }
    }
    val extra = seen.keySet.toArray.count(w => !g.truth.contains(w.asInstanceOf[Long]) &&
      w.asInstanceOf[Long] != g.flushWindow)
    val layer = Streams.progressLayer(ps, (toUs - fromUs) / 1000.0) :+
      Metric("state.checkpoint_bytes", Streams.dirBytes(checkpoint(k, "run")).toDouble, "bytes", 1)
    val dropped = layer.find(_.name == "state.rows_dropped_watermark").map(_.value.toLong).getOrElse(0L)
    val dropGap = if (dropped == g.late) 0 else 1
    if (dropGap > 0) notes += s"watermark dropped $dropped rows, the generator sent ${g.late} late"
    if (extra > 0) notes += s"$extra windows emitted that hold no expected rows"
    val failed = wrong + extra + dropGap + reEmitted.get
    if (Trace.on) ProgressStats.spans(ps, (k + 1) * 1000000L)
    val trig = ProgressStats.triggerMs(ps)
    val (tq, tv) = Stats.tail(trig).getOrElse {
      notes += s"latency_tail_ms: ${trig.length} batches leave fewer than ten beyond the median, " +
        "so the median stands in"
      0.5 -> (if (trig.isEmpty) Double.NaN else Stats.quantile(trig, 0.5))
    }
    val n = g.msgs.size
    val p50 = if (trig.isEmpty) Double.NaN else Stats.quantile(trig, 0.5)
    val detail = Seq(
      Metric("drain_msgs_per_s", n / drainS, "1/s", n,
        f"$n msgs ($BacklogMsgs keys, ${g.dups} redeliveries, ${g.outOfOrder} out of order, ${g.late} late) in $drainS%.3f s"),
      Metric("batch_ms_p50", p50, "ms", trig.length),
      Metric("batch_ms_tail", tv, "ms", trig.length, Stats.label(tq)),
      Metric("failed_frac", failed.toDouble / g.truth.size, "ratio", g.truth.size))
    val headline = Seq(
      Metric("throughput_per_s", n / drainS, "1/s", n),
      Metric("latency_ms", p50, "ms", trig.length),
      Metric("latency_tail_ms", tv, "ms", trig.length))
    Outcome(headline, detail, layer, g.truth.size.toLong, failed, fromUs, toUs, notes.toSeq)
  }
}

object WindowState {
  val BacklogMsgs = 150000
  val PerTrigger = 30000
  val LateAfter = 3 * PerTrigger
  /** Warm-up backlog: one trigger's worth. The set-ups have already run
    * the stateful query's first batch three times; a longer warm-up only
    * lengthens the run. */
  val WarmMsgs = PerTrigger
  /** Messages of the set-up query's first batch. */
  val ProbeMsgs = 5000
  val DrainTimeoutMs = 120000L
}
