package graft

import graft.sources.{MessageSource, MsgBroker, MsgOffset}
import graft.streaming.{BatchedSink, MsgPipeline, Transport}
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The DSv2 `graft-msgs` connector (reference R1, `PulsarSource.java`):
  * parallel partitioned consume, checkpoint-coupled ack with retries,
  * ack-timeout redelivery, earliest-position start.
  *
  * Ack timing note: Spark delivers `commit(end)` for batch N while
  * constructing batch N+1 — one batch of lag, mirroring the reference's
  * ack-on-checkpoint-complete notification. Tests that assert "everything
  * acked" publish one sentinel `flush` message to force that next batch;
  * the sentinel itself then sits unacked (retained == 1). The sentinel's
  * module is "flush", so the session fan-out drops it and it never
  * pollutes delivered-payload assertions. */
class BrokerSourceSpec extends SparkSpec {

  private def mk(module: String, sendTs: Long, tail: String): String =
    module.padTo(16, ' ') + sendTs.toString.padTo(16, ' ') + (" " * 32) + tail

  private val flushMsg = mk("flush", 1L, "flush\n")

  private def ckpt(tag: String): String =
    Files.createTempDirectory(s"ckpt-$tag").toString

  /** Drain all data, then force one more batch so the tail batch acks. */
  private def drainAndAck(b: MsgBroker,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.processAllAvailable()
    b.publish(flushMsg)
    q.processAllAvailable()
    q.stop()
  }

  test("offset json round-trips (topic-named, order-independent)") {
    val o = MsgOffset(Map(
      "tB" -> Map(0 -> 12L, 3 -> 0L, 1 -> 7L),
      "tA" -> Map(2 -> 5L)))
    assert(MsgOffset.parse(o.json()) == o)
    assert(o.json() == """{"tA":{"2":5},"tB":{"0":12,"1":7,"3":0}}""", "sorted, canonical")
    assert(MsgOffset.parse("{}") == MsgOffset(Map.empty))
    assert(MsgOffset.parse("""{"t":{}}""") == MsgOffset(Map("t" -> Map.empty[Int, Long])))
  }

  test("checkpoint survives topic-list reorder; removal and flat offsets fail loudly") {
    import graft.sources.{MsgInputPartition, MsgMicroBatchStream}
    val a = MsgBroker.create("ord_a", numPartitions = 1)
    val b = MsgBroker.create("ord_b", numPartitions = 1)
    (1 to 4).foreach(i => a.publish(s"a$i"))
    (1 to 4).foreach(i => b.publish(s"b$i"))
    def stream(ts: Seq[String]) =
      new MsgMicroBatchStream(ts, ackRetries = 0, ackBackoffMs = 0L, maxPerTrigger = None)

    // a checkpoint written under (ord_a, ord_b)...
    val ckptJson = MsgOffset(Map("ord_a" -> Map(0 -> 3L), "ord_b" -> Map(0 -> 1L))).json()
    // ...restarted with the list REVERSED: offsets must follow the names
    val rev = stream(Seq("ord_b", "ord_a"))
    val start = rev.deserializeOffset(ckptJson).asInstanceOf[MsgOffset]
    assert(start.seqsOf("ord_a") == Map(0 -> 3L) && start.seqsOf("ord_b") == Map(0 -> 1L))
    val parts = rev.planInputPartitions(start,
      rev.latestOffset(start, org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()))
      .map(_.asInstanceOf[MsgInputPartition])
    assert(parts.map(p => (p.broker, p.from, p.until)).toSet ==
      Set(("ord_a", 3L, 4L), ("ord_b", 1L, 4L)),
      "reordered restart resumes each topic from ITS committed position")

    // a topic removed from the list: refuse to restart rather than drop it
    val narrowed = stream(Seq("ord_a"))
    val err = intercept[IllegalArgumentException] {
      narrowed.latestOffset(narrowed.deserializeOffset(ckptJson),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    }
    assert(err.getMessage.contains("ord_b"))

    // a flat (index-keyed) offset from before offsets carried topic names
    // is refused, never remapped onto the current topic order
    val flat = intercept[IllegalArgumentException] {
      stream(Seq("ord_a", "ord_b")).deserializeOffset(s"""{"0":2,"${1 << 20}":1}""")
    }
    assert(flat.getMessage.contains("malformed"), flat.getMessage)
  }

  test("fan-out end-to-end; commit acks the broker (checkpoint-coupled)") {
    val b = MsgBroker.create("e2e", numPartitions = 3)
    (1 to 30).foreach(i => b.publish(mk("session", 1000000L + i, s"t$i\n")))
    b.publish(mk("heartbeat", 1000000L, "hb\n"))
    b.publish("short")

    val tails = new ConcurrentHashMap[Long, Seq[String]]
    drainAndAck(b, MsgPipeline.runFanOut(
      MessageSource.brokerStream(spark, "e2e"), ckpt("e2e"), () => 2000000L,
      (ds, id) => tails.put(id, ds.collect().toSeq),
      (_, _) => ()))

    assert(tails.values.asScala.flatten.toSet == (1 to 30).map(i => s"t$i\n").toSet)
    // every data message acked exactly because its batch committed
    // (PulsarSource.java:79-118 coupling); only the sentinel is in flight
    assert(b.retainedTotal == 1, "committed batches must ack and truncate the broker")
    assert(b.acks >= 3, "each partition acked at least once")
  }

  test("kill mid-stream, restart from checkpoint: no loss, no dupes") {
    val b = MsgBroker.create("rec", numPartitions = 4)
    b.publishAll((1 to 100).map(i => mk("session", 1000000L + i, s"p$i\n")))

    val dir = ckpt("rec")
    val seen = new ConcurrentHashMap[Long, Seq[String]] // batchId-keyed: replays overwrite
    def start() = MsgPipeline.runFanOut(
      MessageSource.brokerStream(spark, "rec", maxPerTrigger = Some(8L)),
      dir, () => 2000000L,
      (ds, id) => seen.put(id, ds.collect().toSeq),
      (_, _) => ())

    val q1 = start()
    var waited = 0
    while (seen.size < 2 && waited < 300) { Thread.sleep(100); waited += 1 }
    q1.stop()
    val afterFirst = seen.values.asScala.flatten.size
    assert(afterFirst < 100, "first run should have stopped mid-stream")

    drainAndAck(b, start())

    val delivered = seen.values.asScala.flatten.toSeq
    assert(delivered.size == 100, "exactly-once per batchId: no loss, no dupes")
    assert(delivered.toSet == (1 to 100).map(i => s"p$i\n").toSet)
    assert(b.retainedTotal == 1, "restart run must ack the remainder (sentinel in flight)")
  }

  test("uncommitted batch is redelivered after ack timeout (no loss)") {
    val b = MsgBroker.create("redeliver", numPartitions = 2, ackTimeoutMs = 1L)
    (1 to 6).foreach(i => b.publish(mk("session", 1000000L + i, s"r$i\n")))

    val dir = ckpt("redeliver")
    val seen = new ConcurrentHashMap[Long, Seq[String]]
    @volatile var failFirst = true
    def start() = MsgPipeline.runFanOut(
      MessageSource.brokerStream(spark, "redeliver"), dir, () => 2000000L,
      (ds, id) => {
        val rows = ds.collect().toSeq
        if (failFirst) { failFirst = false; throw new RuntimeException("sink down") }
        seen.put(id, rows)
      },
      (_, _) => ())

    val q1 = start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination(5000)
    }
    assert(seen.isEmpty, "failed batch must not count as delivered")
    assert(b.retainedTotal == 6, "unacked messages stay retained in the broker")

    Thread.sleep(5) // exceed the 1 ms ack timeout
    drainAndAck(b, start()) // offset WAL re-plans the same ranges -> broker redelivery
    assert(seen.values.asScala.flatten.toSet == (1 to 6).map(i => s"r$i\n").toSet)
    assert(b.redelivered == 6, "broker observed ack-timeout redelivery of the whole batch")
    assert(b.retainedTotal == 1)
  }

  test("transient ack failures are retried with backoff, then succeed") {
    val b = MsgBroker.create("ackretry", numPartitions = 1)
    b.failNextAcks.set(2) // two transient failures, third attempt lands
    (1 to 5).foreach(i => b.publish(mk("session", 1000000L + i, s"a$i\n")))

    val rows = new ConcurrentHashMap[Long, Long]
    drainAndAck(b, spark.readStream.format("graft-msgs")
      .option("broker", "ackretry")
      .option("ackBackoffMs", "1") // keep the 3-retry loop fast in tests
      .load()
      .writeStream
      .option("checkpointLocation", ckpt("ackretry"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        rows.put(id, df.count()); ()
      }
      .start())

    assert(rows.values.asScala.map(l => l: Long).sum == 6) // 5 data + 1 sentinel
    assert(b.ackAttempts >= 3, "two failures + one success")
    assert(b.retainedTotal == 1, "ack landed after retries (PulsarSource.java:105-117)")
  }

  test("fresh query starts at the earliest retained position (acked skipped)") {
    val b = MsgBroker.create("earliest", numPartitions = 2)
    (1 to 4).foreach(i => b.publish(mk("session", 1000000L + i, s"old$i\n")))

    drainAndAck(b, spark.readStream.format("graft-msgs").option("broker", "earliest").load()
      .writeStream.option("checkpointLocation", ckpt("earliest1"))
      .format("memory").queryName("earliest_run1").start())
    assert(b.retainedTotal == 1) // old1..4 acked, sentinel retained

    (5 to 6).foreach(i => b.publish(mk("session", 1000000L + i, s"new$i\n")))
    val q2 = spark.readStream.format("graft-msgs").option("broker", "earliest").load()
      .writeStream.option("checkpointLocation", ckpt("earliest2"))
      .format("memory").queryName("earliest_run2").start()
    q2.processAllAvailable()
    q2.stop()

    import spark.implicits._
    val got = spark.table("earliest_run2").select("value").as[String].collect().toSet
    assert(got.map(_.substring(64)) == Set("flush\n", "new5\n", "new6\n"),
      "Earliest position = acked watermark (old1..4 trimmed), like PulsarSource.java:146")
  }

  test("maxPerTrigger caps each micro-batch but starves no partition") {
    val b = MsgBroker.create("cap", numPartitions = 4)
    (1 to 40).foreach(i => b.publishTo(i % 4, mk("session", 1000000L + i, s"c$i\n")))

    val batchSizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = MessageSource.brokerStream(spark, "cap", maxPerTrigger = Some(10L))
      .writeStream
      .option("checkpointLocation", ckpt("cap"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()

    assert(batchSizes.sum == 40)
    assert(batchSizes.size >= 4, s"cap of 10 over 40 msgs needs >= 4 batches, got $batchSizes")
    assert(batchSizes.forall(_ <= 10), s"the cap is a hard bound per batch: $batchSizes")
  }

  test("partition appearing mid-stream is discovered; offsets/acks stay exactly-once") {
    // the reference rediscovers topic partitions every 30 s
    // (PulsarSource.java:147-148); here the source re-polls endOffsets every
    // micro-batch, so a partition added while the query runs must be picked
    // up from its earliest offset without disturbing existing partitions
    val b = MsgBroker.create("grow", numPartitions = 2)
    (1 to 10).foreach(i => b.publish(mk("session", 1000000L + i, s"g$i\n")))

    val dir = ckpt("grow")
    val seen = new ConcurrentHashMap[Long, Seq[String]]
    val q = MsgPipeline.runFanOut(
      MessageSource.brokerStream(spark, "grow"), dir, () => 2000000L,
      (ds, id) => seen.put(id, ds.collect().toSeq),
      (_, _) => ())
    q.processAllAvailable()
    assert(seen.values.asScala.flatten.size == 10, "pre-growth data drained")

    b.addPartitions(1) // topic grows 2 -> 3 while the query is running
    assert(b.numPartitions == 3)
    (11 to 16).foreach(i => b.publishTo(2, mk("session", 1000000L + i, s"g$i\n")))
    (17 to 18).foreach(i => b.publishTo(0, mk("session", 1000000L + i, s"g$i\n")))
    drainAndAck(b, q)

    val delivered = seen.values.asScala.flatten.toSeq
    assert(delivered.size == 18, s"exactly-once across growth: $delivered")
    assert(delivered.toSet == (1 to 18).map(i => s"g$i\n").toSet)
    assert(b.retained(2) == 0, "new partition's batches committed and acked")
    assert(b.retainedTotal == 1, "only the flush sentinel remains in flight")

    // restart from the same checkpoint: the WAL's last offset covers the
    // new partition; nothing replays, nothing is lost
    (19 to 20).foreach(i => b.publishTo(2, mk("session", 1000000L + i, s"g$i\n")))
    drainAndAck(b, MsgPipeline.runFanOut(
      MessageSource.brokerStream(spark, "grow"), dir, () => 2000000L,
      (ds, id) => seen.put(id, ds.collect().toSeq),
      (_, _) => ()))
    assert(seen.values.asScala.flatten.toSet == (1 to 20).map(i => s"g$i\n").toSet,
      "restart resumes the grown topic exactly-once")
  }

  test("admission control never exceeds the cap and is overflow-safe") {
    import graft.sources.MsgMicroBatchStream
    import org.apache.spark.sql.connector.read.streaming.ReadLimit

    // cap smaller than the number of backlogged partitions: the old
    // max(1, share)-per-partition scheme would take 6 rows for cap=4
    val b = MsgBroker.create("adm", numPartitions = 6)
    (0 until 30).foreach(i => b.publishTo(i % 6, mk("session", 1L + i, s"a$i\n")))
    val stream = new MsgMicroBatchStream(Seq("adm"), ackRetries = 0, ackBackoffMs = 0L,
      maxPerTrigger = Some(4L))
    val start = MsgOffset.single("adm", b.earliestOffsets)
    val end = stream.latestOffset(start, ReadLimit.maxRows(4L))
      .asInstanceOf[MsgOffset]
    val takes = end.seqsOf("adm").map { case (p, s) => s - start.seqsOf("adm")(p) }
    assert(takes.forall(_ >= 0L), s"no negative take: $takes")
    assert(takes.sum == 4L, s"cap is a hard bound (and fully used): $takes")

    // overflow guard: a checkpointed start offset far behind the end (deep
    // backlog) times a large cap overflows Long in `avail * cap`; the
    // BigInt share must keep every take non-negative and within the cap
    val deep = MsgOffset.single("adm",
      Map(0 -> -(1L << 60), 1 -> 0L, 2 -> 0L, 3 -> 0L, 4 -> 0L, 5 -> 0L))
    val cap = 1L << 40
    val end2 = stream.latestOffset(deep, ReadLimit.maxRows(cap)).asInstanceOf[MsgOffset]
    val takes2 = end2.seqsOf("adm").map { case (p, s) => s - deep.seqsOf("adm")(p) }
    assert(takes2.forall(_ >= 0L), s"overflow produced a negative take: $takes2")
    assert(takes2.sum <= cap, s"overflow broke the cap: $takes2")
  }

  test("multi-topic fan-in: 3 topics one stream, restart exactly-once, per-topic acks") {
    // the reference job consumes three topics into one routed stream
    // (run_datastream_job.sh:17,25); here the same fan-in rides topic-named
    // offsets ({"topic":{"partition":seq}}) with a `topic` column
    val names = Seq("mt1", "mt2", "mt3")
    val brokers = names.map(n => MsgBroker.create(n, numPartitions = 2))
    def wire(ti: Int, i: Int): String = mk("session", 1000000L + i, s"m${ti}_$i\n")
    for ((b, ti) <- brokers.zipWithIndex; i <- 1 to 20) b.publish(wire(ti, i))

    val dir = ckpt("multitopic")
    val seen = new ConcurrentHashMap[Long, Seq[(String, String)]]
    def start() = {
      val df = spark.readStream.format("graft-msgs")
        .option("broker", "mt1, mt2 ,mt3") // whitespace-tolerant list
        .option("maxPerTrigger", "7")
        .load()
      assert(df.columns.toSeq == Seq("value", "topic", "partition", "seq"))
      df.writeStream.option("checkpointLocation", dir)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.put(id, b.select("topic", "value").collect().toSeq
            .map(r => (r.getString(0), r.getString(1))))
          ()
        }.start()
    }

    val q1 = start()
    var waited = 0
    while (seen.size < 2 && waited < 300) { Thread.sleep(100); waited += 1 }
    q1.stop()
    assert(seen.values.asScala.flatten.size < 60, "first run stopped mid-stream")

    val q2 = start()
    q2.processAllAvailable()
    brokers.foreach(_.publish(flushMsg)) // force the tail batch's ack
    q2.processAllAvailable()
    q2.stop()

    val delivered = seen.values.asScala.flatten.toSeq.filterNot(_._2 == flushMsg)
    assert(delivered.size == 60, "exactly-once across 3 topics: no loss, no dupes")
    for ((n, ti) <- names.zipWithIndex) {
      val vals = delivered.filter(_._1 == n).map(_._2).toSet
      assert(vals == (1 to 20).map(i => wire(ti, i)).toSet,
        s"topic $n complete and correctly attributed")
    }
    // commit routed each global partition's ack to its own broker; only the
    // one-batch-lag sentinels can still be in flight
    brokers.foreach(b => assert(b.retainedTotal <= 1, s"${b.name} not truncated"))
  }

  test("fan-out over 3 topics x 4 partitions: one wave of sink tasks per batch, each record once") {
    val names = Seq("slot1", "slot2", "slot3")
    val brokers = names.map(n => MsgBroker.create(n, numPartitions = 4))
    def wire(ti: Int, i: Int): String =
      mk(if (i % 5 == 4) "heartbeat" else "session", 1000000L + i, s"s${ti}_$i\n")
    for ((b, ti) <- brokers.zipWithIndex; i <- 0 until 400) b.publishTo(i % 4, wire(ti, i))
    val sessions = for (ti <- 0 until 3; i <- 0 until 400 if i % 5 != 4) yield s"s${ti}_$i\n"

    val batchNum = 50
    val sink = new BatchedSink(() => new CountingTransport, batchNum, batchTimeSec = 3600)
    val transportsPerBatch = new ConcurrentHashMap[Long, Long]
    CountingTransport.reset()
    // a cap of 600 of the 1,200 msgs spreads every batch over all 12 partitions
    val q = MsgPipeline.runFanOut(
      MessageSource.brokerStream(spark, names.mkString(","), maxPerTrigger = Some(600L)),
      ckpt("slots"), () => 2000000L,
      (ds, id) => {
        val before = CountingTransport.created.get
        sink.write(ds, id)
        transportsPerBatch.put(id, CountingTransport.created.get - before)
      },
      (_, _) => ())
    q.processAllAvailable()
    q.stop()
    names.foreach(MsgBroker.remove)

    val slots = spark.sparkContext.defaultParallelism
    val perBatch = transportsPerBatch.asScala.toMap
    assert(perBatch.size >= 2, s"the cap splits the backlog: $perBatch")
    assert(perBatch.values.forall(_ <= slots), s"transports per batch, $slots slots: $perBatch")
    val posts = CountingTransport.posts.asScala.toSeq
    assert(posts.flatMap(_.linesIterator.map(_ + "\n")).sorted == sessions.sorted,
      "every session record arrives exactly once")
    assert(posts.forall(_.linesIterator.size <= batchNum), "no POST exceeds batchNum records")
  }

  test("live publish: the delay metric meters every session message exactly once") {
    import org.apache.spark.sql.functions.{count, lit, min}
    val b = MsgBroker.create("live", numPartitions = 2)
    val metered = new ConcurrentHashMap[Long, (Long, Long)] // batchId-keyed: replays overwrite
    val q = MsgPipeline.runFanOut(
      MessageSource.brokerStream(spark, "live"), ckpt("live"), () => System.currentTimeMillis(),
      (_, _) => (),
      (df, id) => {
        val r = df.agg(count(lit(1)), min("delay_ms")).collect()(0)
        if (r.getLong(0) > 0) metered.put(id, (r.getLong(0), r.getLong(1)))
      })
    // paced waves stamped with wall-clock send_ts while the query runs
    for (w <- 0 until 5) {
      (0 until 200).foreach(i =>
        b.publish(mk("session", System.currentTimeMillis(), s"w${w}_$i\n")))
      b.publish(mk("heartbeat", System.currentTimeMillis(), "hb\n"))
      Thread.sleep(200)
    }
    q.processAllAvailable()
    q.stop()
    val batches = metered.values.asScala
    assert(batches.map(_._1).sum == 1000, "every session message metered once, no loss")
    assert(batches.forall(_._2 >= 0), "delay is measured after publish, never negative")
  }

  test("broker fan-in to RocksDB delay windows: each window's final count is exact") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    graft.streaming.StatefulOps.useRocksDbStateStore(spark)
    try {
      val names = Seq("win1", "win2", "win3")
      val brokers = names.map(n => MsgBroker.create(n, numPartitions = 2))
      // 1,500 msgs 100 ms apart: 150 s of monotone event time, fifteen 10 s
      // windows of 100 msgs each, every fifth a heartbeat the route drops
      val t0 = 1700000000000L
      for (i <- 0 until 1500)
        brokers(i % 3).publish(mk(if (i % 5 == 4) "heartbeat" else "session",
          t0 + i * 100L, s"s$i\n"))
      val last = new ConcurrentHashMap[Long, Long] // win_start -> latest n
      val win = graft.streaming.MetricSink.windowedAvg(MsgPipeline.delayStream(
        MsgPipeline.parse(MessageSource.brokerStream(spark, names.mkString(","),
          maxPerTrigger = Some(300L))), nowMs = t0 + 150000L))
      val q = win.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt("win"))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("win_start", "n").collect()
            .foreach(r => last.put(r.getTimestamp(0).getTime, r.getLong(1)))
          ()
        }.start()
      q.processAllAvailable()
      val stateRows = stateRowsNow(q)
      q.stop()
      assert(last.asScala.toMap == (0 until 15).map(k => (t0 + k * 10000L) -> 80L).toMap,
        "no window lost a row to the watermark or counted one twice")
      assert(stateRows < 15, s"windows behind the watermark are evicted ($stateRows rows)")
      names.foreach(MsgBroker.remove)
    } finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }
}

/** The one-wave case's transport: counts instances and keeps payloads in
  * static state, so every copy that a task deserializes reports to one
  * place. */
private final class CountingTransport extends Transport {
  CountingTransport.created.incrementAndGet()
  override def send(payload: String): Unit = CountingTransport.posts.add(payload)
}

private object CountingTransport {
  val created = new AtomicLong
  val posts = new ConcurrentLinkedQueue[String]
  def reset(): Unit = { created.set(0L); posts.clear() }
}
