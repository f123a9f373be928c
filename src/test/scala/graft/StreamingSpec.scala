package graft

import graft.streaming._
import graft.sources.MessageSource
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Streaming semantics (SURVEY.md §5.4): single-pass fan-out, windowed
  * metric agg, watermark dedup, session assembly, checkpoint recovery. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mk(module: String, sendTs: Long, tail: String): String =
    module.padTo(16, ' ') + sendTs.toString.padTo(16, ' ') + (" " * 32) + tail

  /** Total state-store rows after the query's last completed batch —
    * the metric pin behind every "state bounded by watermark, not
    * history" claim in SURVEY §2.C. Output parity cannot see an
    * accidental unbounded-state regression (evicted entries influence
    * nothing); the row count can. stateRowsNow lives in SparkSpec
    * (shared with StateScaleSpec's flatness-under-growth pins). */
  private def assertStateBound(q: org.apache.spark.sql.streaming.StreamingQuery,
      bound: Long, label: String): Unit = {
    val rows = stateRowsNow(q)
    info(s"$label: state rows = $rows (bound $bound)")
    assert(rows <= bound, s"$label: state rows $rows exceed documented bound $bound")
  }

  test("fan-out: both sinks fed from one pass, same batch ids") {
    val input = MemoryStream[String](spark)
    val sessions = new ConcurrentLinkedQueue[(Long, String)]
    val metricBatches = new ConcurrentLinkedQueue[(Long, Long)]
    val ckpt = Files.createTempDirectory("ckpt-fanout").toString

    val q = MsgPipeline.runFanOut(
      input.toDF(), ckpt, () => 2000000L,
      (ds, id) => ds.collect().foreach(t => sessions.add(id -> t)),
      (df, id) => metricBatches.add(id -> df.count()))

    input.addData(
      mk("session", 1000000L, "t1\n"),
      mk("session", 1500000L, "t2\n"),
      mk("heartbeat", 1000000L, "hb\n"),
      "short")
    q.processAllAvailable()
    input.addData(mk("session", 1600000L, "t3\n"))
    q.processAllAvailable()
    q.stop()

    val sessByBatch = sessions.asScala.groupMap(_._1)(_._2)
    assert(sessByBatch.values.flatten.toSet == Set("t1\n", "t2\n", "t3\n"))
    // metric sink saw exactly the same batch ids as the session sink
    assert(metricBatches.asScala.map(_._1).toSet == sessByBatch.keySet)
    // per-batch delay rows == session rows (all session msgs had valid ts)
    assert(metricBatches.asScala.map(_._2).sum == 3)
  }

  test("windowed avg delay with watermark drops late rows") {
    val input = MemoryStream[(java.sql.Timestamp, Long)](spark)
    val delays = input.toDF().toDF("event_time", "delay_ms")
    val agg = MetricSink.windowedAvg(delays, "10 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("winavg").start()

    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    input.addData((ts(100), 10L), (ts(105), 20L))
    q.processAllAvailable()
    input.addData((ts(500), 30L)) // advances watermark to 500s - 1min
    q.processAllAvailable()
    input.addData((ts(101), 999L)) // late beyond watermark -> dropped
    q.processAllAvailable()
    input.addData((ts(1000), 1L)) // closes the 500s window
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("winavg")
      .select("win_start", "n", "avg_delay_ms").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1), r.getDouble(2)))
      .toSet
    assert(rows.contains((100L, 2L, 15.0))) // late 999 never joined this window
    assert(rows.contains((500L, 1L, 30.0)))
  }

  test("dropDuplicatesWithinWatermark dedups redelivered payloads") {
    val input = MemoryStream[(java.sql.Timestamp, String)](spark)
    val msgs = input.toDF().toDF("event_time", "payload")
    val q = StatefulOps.dedupWithinWatermark(msgs, "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()

    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    input.addData((ts(10), "a"), (ts(11), "a"), (ts(12), "b"))
    q.processAllAvailable()
    input.addData((ts(13), "a")) // still within watermark -> dup
    q.processAllAvailable()
    q.stop()
    assert(spark.table("dedup").select("payload").as[String].collect().sorted.toSeq == Seq("a", "b"))
  }

  test("windowedAvg consumes dedupWithinWatermark output under the one watermark") {
    val input = MemoryStream[(java.sql.Timestamp, String, Long)](spark)
    val msgs = input.toDF().toDF("event_time", "payload", "delay_ms")
    val agg = MetricSink.windowedAvg(
      StatefulOps.dedupWithinWatermark(msgs, "1 minute"), "10 seconds")
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("dedupwinavg").start()

    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    input.addData((ts(100), "a", 10L), (ts(101), "a", 10L), (ts(105), "b", 20L))
    q.processAllAvailable()
    input.addData((ts(500), "c", 30L)) // advances the watermark past 100 s
    q.processAllAvailable()
    input.addData((ts(101), "late", 999L)) // late beyond the watermark
    q.processAllAvailable()
    input.addData((ts(1000), "d", 1L)) // closes the 500 s window
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("dedupwinavg")
      .select("win_start", "n", "avg_delay_ms").collect()
      .map(r => (r.getTimestamp(0).getTime / 1000, r.getLong(1), r.getDouble(2)))
      .toSet
    // the redelivered "a" counts once; the late row joins no window
    assert(rows == Set((100L, 2L, 15.0), (500L, 1L, 30.0)), s"got $rows")
  }

  test("stream-stream interval join matches in-window rows, bounded state") {
    val orders = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val ships = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val l = orders.toDF().toDF("lts", "k", "order_v")
    val r = ships.toDF().toDF("rts", "k2", "ship_v")
    val joined = StatefulOps.intervalJoin(
        l, "lts", r, "rts", org.apache.spark.sql.functions.col("k") ===
          org.apache.spark.sql.functions.col("k2"),
        within = "5 seconds", watermark = "10 seconds")
      .select("k", "order_v", "ship_v")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin").start()

    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    orders.addData((ts(100), 1L, "o1"), (ts(200), 2L, "o2"))
    ships.addData(
      (ts(103), 1L, "s1"),  // within [100, 105] → match
      (ts(108), 1L, "s1b"), // past the 5s interval → no match
      (ts(199), 2L, "s2"))  // before the order   → no match
    q.processAllAvailable()
    // advance both watermarks so in-window results emit and state evicts
    // (distinct keys — the sentinels must not join each other)
    orders.addData((ts(1000), 8L, "late"))
    ships.addData((ts(1000), 9L, "late"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ssjoin")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows == Set((1L, "o1", "s1")),
      s"interval join matched the wrong rows: $rows")
  }

  test("left-outer interval join emits unmatched rows once the watermark proves no match") {
    val orders = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val ships = MemoryStream[(java.sql.Timestamp, Long, String)](spark)
    val joined = StatefulOps.intervalJoin(
        orders.toDF().toDF("lts", "k", "order_v"), "lts",
        ships.toDF().toDF("rts", "k2", "ship_v"), "rts",
        org.apache.spark.sql.functions.col("k") ===
          org.apache.spark.sql.functions.col("k2"),
        within = "5 seconds", watermark = "10 seconds",
        joinType = "left_outer")
      .select("k", "order_v", "ship_v")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_outer").start()

    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    orders.addData((ts(100), 1L, "matched"), (ts(100), 2L, "unmatched"))
    ships.addData((ts(103), 1L, "s1"))
    q.processAllAvailable()
    // watermark far past both intervals: the unmatched order must now emit
    // with a null ship side (distinct sentinel keys so they don't join)
    orders.addData((ts(1000), 8L, "late"))
    ships.addData((ts(1000), 9L, "late"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ssjoin_outer")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    assert(rows.contains((1L, "matched", Some("s1"))), s"in-window match missing: $rows")
    assert(rows.contains((2L, "unmatched", None)),
      s"watermark-proven unmatched row not emitted with nulls: $rows")
  }

  test("session assembly via flatMapGroupsWithState emits on quiet gap") {
    val input = MemoryStream[SessionEvent](spark)
    val q = StatefulOps.assembleSessions(spark, input.toDS(), gapMs = 30000)
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()

    def ev(user: String, sec: Long) =
      SessionEvent(user, new java.sql.Timestamp(sec * 1000), "p")
    input.addData(ev("u1", 100), ev("u1", 110), ev("u2", 105))
    q.processAllAvailable()
    // push watermark far past u1/u2 timeouts
    input.addData(ev("u3", 1000))
    q.processAllAvailable()
    input.addData(ev("u3", 2000))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("sessions").as[SessionSummary].collect()
      .map(s => s.user -> s).toMap
    assert(out.contains("u1") && out("u1").n_events == 2 &&
      out("u1").duration_ms == 10000)
    assert(out.contains("u2") && out("u2").n_events == 1)
  }

  test("transformWithState session assembly matches fMGWS semantics (Spark 4 API)") {
    // transformWithState requires the RocksDB state store provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      val input = MemoryStream[SessionEvent](spark)
      val q = StatefulOps.assembleSessionsTws(spark, input.toDS(), gapMs = 30000)
        .writeStream.outputMode("append").format("memory")
        .queryName("tws_sessions").start()
      def ev(user: String, sec: Long) =
        SessionEvent(user, new java.sql.Timestamp(sec * 1000), "p")
      input.addData(ev("u1", 100), ev("u1", 110), ev("u2", 105))
      q.processAllAvailable()
      input.addData(ev("u3", 1000)) // watermark past u1/u2 timers
      q.processAllAvailable()
      input.addData(ev("u3", 2000))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("tws_sessions").as[SessionSummary].collect()
        .map(s => s.user -> s).toMap
      assert(out.contains("u1") && out("u1").n_events == 2 &&
        out("u1").duration_ms == 10000)
      assert(out.contains("u2") && out("u2").n_events == 1)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming near-dup: cross-batch duplicate flagged, horizon evicts state") {
    // transformWithState requires the RocksDB state store provider
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      val t1 = "the quick brown fox jumps over the lazy dog near the river bank today"
      val other = "completely different content about spark engines and catalyst planner rules"
      // stream fingerprint must be bit-for-bit the batch aggregate's
      val batchF = graft.api.TextDedup
        .simhash(Seq((1L, t1)).toDF("id", "text"), col("id"), col("text"))
        .collect()(0).getAs[Long]("f")
      assert(StreamDedup.simhashOf(t1) == batchF,
        "stream simhash must equal batch simhash")

      val input = MemoryStream[DocEvent](spark)
      val q = StreamDedup.nearDupStream(spark, input.toDS(),
          maxHamming = 8, horizonMs = 60000L, watermark = "10 seconds")
        .writeStream.outputMode("append").format("memory")
        .queryName("neardup").start()
      def doc(id: Long, sec: Long, text: String) =
        DocEvent(id, new java.sql.Timestamp(sec * 1000), text)
      def hits() = spark.table("neardup").as[DupHit].collect()
        .map(h => h.doc_id -> h.dup_of).toSet

      input.addData(doc(1, 100, t1), doc(2, 100, other), doc(6, 101, t1))
      q.processAllAvailable()
      // within-batch pair resolves to the earlier doc as original
      assert(hits().contains(6L -> 1L), s"within-batch dup not flagged: ${hits()}")

      input.addData(doc(3, 110, t1)) // duplicate arriving a batch later
      q.processAllAvailable()
      assert(hits().contains(3L -> 1L), s"cross-batch dup not flagged: ${hits()}")

      // a NEAR-duplicate (one word dropped): fingerprint drifts 1 bit, so
      // it band-collides and passes the Hamming verdict — the LSH path,
      // not string equality
      val t1near = "the quick brown fox jumps over the lazy dog near the river bank"
      assert(java.lang.Long.bitCount(
        StreamDedup.simhashOf(t1) ^ StreamDedup.simhashOf(t1near)) <= 3,
        "test construction: variant must stay within a few bits")
      input.addData(doc(7, 112, t1near))
      q.processAllAvailable()
      assert(hits().contains(7L -> 1L), s"near-dup not flagged: ${hits()}")

      // push the watermark past every entry's expiry (ts + 60 s), then a
      // re-sent text must NOT match (index evicted) but must re-seed it
      input.addData(doc(10, 300, other + " x"))
      q.processAllAvailable()
      input.addData(doc(4, 310, t1))
      q.processAllAvailable()
      assert(!hits().exists(_._1 == 4L),
        s"doc 4 matched an entry the horizon should have evicted: ${hits()}")
      input.addData(doc(5, 320, t1))
      q.processAllAvailable()
      assert(hits().contains(5L -> 4L),
        s"doc 5 must match the re-seeded doc 4: ${hits()}")
      // state pin: only the 3 in-horizon docs remain indexed (× 4 bands,
      // + their expiry timers); the 8-doc history (32 entries + timers)
      // must have been evicted by the event-time horizon
      assertStateBound(q, 12L, "near-dup")
      q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming span dedup: equals the batch CDC digest groups; shifted span flagged cross-batch") {
    import graft.api.Curation
    import graft.streaming.{StreamSpanDedup, SpanHit}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      import spark.implicits._
      // the CurationSpec planted pair: one 64-token span (with seeded
      // boundary tokens) at offset 0 in doc 1 and offset 7 in doc 2
      val boundaryToks = Seq("b9", "b46", "b108", "b111", "b118", "b162")
      val span = (0 until 64).map { i =>
        if (i % 10 == 9) boundaryToks(i / 10) else s"w$i"
      }.mkString(" ")
      val d1text = span + " " + (0 until 9).map(i => s"post$i").mkString(" ")
      val d2text = (0 until 7).map(i => s"pre$i").mkString(" ") + " " + span

      // host-side chunker ≡ the batch column derivation, digest for digest
      val batchChunks = Curation
        .cdcChunk(Seq((1L, d1text)).toDF("doc_id", "text"),
          col("doc_id"), col("text"), p = 16)
        .filter(col("n_toks") >= 8)
        .select(col("chunk_id"), md5(col("chunk")).as("dig")).collect()
        .map(r => (r.getAs[Int]("chunk_id"), r.getAs[String]("dig"))).toSet
      assert(StreamSpanDedup.cdcChunksOf(d1text).toSet == batchChunks,
        "stream chunker must equal the batch cdcChunk digests")

      val input = MemoryStream[DocEvent](spark)
      val q = StreamSpanDedup.spanDupStream(spark, input.toDS(),
          horizonMs = 60000L, watermark = "10 seconds")
        .writeStream.outputMode("append").format("memory")
        .queryName("spandup").start()
      def doc(id: Long, sec: Long, text: String) =
        DocEvent(id, new java.sql.Timestamp(sec * 1000), text)
      def hits() = spark.table("spandup").as[SpanHit].collect()
        .map(h => (h.doc_id, h.chunk_id, h.dup_of_doc, h.dup_of_chunk)).toSet

      input.addData(doc(1, 100, d1text))
      q.processAllAvailable()
      assert(hits().isEmpty, "first copy must not flag")

      // the shifted span arrives a BATCH LATER: its interior chunks must
      // collide with doc 1's accumulated digests
      input.addData(doc(2, 110, d2text))
      q.processAllAvailable()
      assert(hits().nonEmpty && hits().forall(h => h._1 == 2L && h._3 == 1L),
        s"shifted span not flagged against the canonical: ${hits()}")

      // parity: streamed hits == the batch digest-group derivation
      // (group members minus the canonical minimum, pointed at it)
      val rows = Curation
        .cdcChunk(Seq((1L, d1text), (2L, d2text)).toDF("doc_id", "text"),
          col("doc_id"), col("text"), p = 16)
        .filter(col("n_toks") >= 8)
        .select(md5(col("chunk")).as("dig"), col("id"), col("chunk_id")).collect()
        .map(r => (r.getAs[String]("dig"), r.getAs[Long]("id"), r.getAs[Int]("chunk_id")))
      val expected = rows.groupBy(_._1).values.filter(_.length > 1).flatMap { g =>
        val sorted = g.sortBy(x => (x._2, x._3))
        val canon = sorted.head
        sorted.tail.map(x => (x._2, x._3, canon._2, canon._3))
      }.toSet
      assert(hits() == expected,
        s"stream hits diverge from batch groups: ${hits()} vs $expected")

      // horizon: watermark past expiry evicts the canonicals — a re-sent
      // copy re-seeds silently, and only the NEXT copy flags against it.
      // The filler must emit ≥1 chunk (≥ 8 non-boundary tokens) or the
      // chunked stream sees no rows and the watermark cannot advance.
      input.addData(doc(9, 300, "w0 w1 w2 w3 w4 w5 w6 w7 w9 w10"))
      q.processAllAvailable()
      input.addData(doc(5, 310, d1text))
      q.processAllAvailable()
      assert(!hits().exists(_._1 == 5L),
        s"doc 5 matched chunks the horizon should have evicted: ${hits()}")
      input.addData(doc(6, 320, d1text))
      q.processAllAvailable()
      assert(hits().exists(h => h._1 == 6L && h._3 == 5L),
        s"doc 6 must match the re-seeded doc 5: ${hits()}")
      // state pin: resident chunk digests = the in-horizon docs' chunks
      // (+ timers); the evicted history must not be resident
      assertStateBound(q, 16L, "span-dedup")
      q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming near-dup: a full band key stops indexing but keeps matching") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      val input = MemoryStream[DocEvent](spark)
      val q = StreamDedup.nearDupStream(spark, input.toDS(),
          maxHamming = 8, horizonMs = 60000L, watermark = "10 seconds", maxPerKey = 1)
        .writeStream.outputMode("append").format("memory")
        .queryName("neardup_cap").start()
      val t = "the quick brown fox jumps over the lazy dog near the river bank today"
      input.addData(DocEvent(1, new java.sql.Timestamp(100000), t))
      q.processAllAvailable()
      input.addData(DocEvent(2, new java.sql.Timestamp(101000), t))
      q.processAllAvailable()
      input.addData(DocEvent(3, new java.sql.Timestamp(102000), t))
      q.processAllAvailable()
      q.stop()
      val hits = spark.table("neardup_cap").as[DupHit].collect()
        .map(h => h.doc_id -> h.dup_of).toSet
      // doc 2 filled the key (cap 1) and was not indexed; docs 2 and 3
      // must still both match the indexed doc 1
      assert(hits == Set(2L -> 1L, 3L -> 1L),
        s"capped key must keep matching against indexed entries: $hits")
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("supervisor: injected sink failure auto-restarts from checkpoint, no loss/dupes") {
    val input = MemoryStream[String](spark)
    val ckpt = Files.createTempDirectory("ckpt-supervise").toString
    val delivered = new ConcurrentLinkedQueue[String]
    @volatile var failFirst = true
    val sup = QuerySupervisor.supervise(spark, maxRestarts = 2, backoffMs = 50) { () =>
      MsgPipeline.runFanOut(
        input.toDF(), ckpt, () => 2000000L,
        (ds, _) => {
          val rows = ds.collect()
          if (failFirst) { failFirst = false; throw new RuntimeException("http 500") }
          rows.foreach(delivered.add)
        },
        (_, _) => ())
    }
    input.addData(mk("session", 1000000L, "payload-sup\n"))
    // run 1 dies on the injected failure; the supervisor must resubmit and
    // the checkpoint WAL must redeliver the failed batch — poll until it lands
    val deadline = System.currentTimeMillis() + 30000
    while (delivered.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(sup.restarts == 1, s"expected exactly one restart, got ${sup.restarts}")
    assert(!sup.isTerminal && sup.query.isActive, "healed query must keep running")
    sup.query.processAllAvailable() // drain: a redelivery dupe would show now
    assert(delivered.asScala.toSeq == Seq("payload-sup\n"),
      s"restart must redeliver exactly once: ${delivered.asScala.toSeq}")
    sup.stop()
    assert(sup.isTerminal && sup.failure.isEmpty, "user stop is clean, not a failure")
  }

  test("supervisor: restart budget is bounded; exhaustion latches terminal failure") {
    val input = MemoryStream[String](spark)
    val ckpt = Files.createTempDirectory("ckpt-supervise-bound").toString
    val sup = QuerySupervisor.supervise(spark, maxRestarts = 1, backoffMs = 50) { () =>
      MsgPipeline.runFanOut(
        input.toDF(), ckpt, () => 2000000L,
        (_, _) => throw new RuntimeException("sink permanently down"),
        (_, _) => ())
    }
    input.addData(mk("session", 1000000L, "doomed\n"))
    assert(sup.awaitTerminal(30000), "supervisor must give up within the budget")
    assert(sup.restarts == 1, s"budget of 1 restart, got ${sup.restarts}")
    assert(sup.failure.exists(_.contains("permanently down")),
      s"terminal failure must surface the cause: ${sup.failure}")
  }

  test("sink failure fails the batch; restart redelivers it (no loss)") {
    val input = MemoryStream[String](spark)
    val ckpt = Files.createTempDirectory("ckpt-retry").toString
    val delivered = new ConcurrentLinkedQueue[String]
    @volatile var failFirst = true
    def start() = MsgPipeline.runFanOut(
      input.toDF(), ckpt, () => 2000000L,
      (ds, _) => {
        val rows = ds.collect()
        if (failFirst) { failFirst = false; throw new RuntimeException("http 500") }
        rows.foreach(delivered.add)
      },
      (_, _) => ())

    val q1 = start()
    input.addData(mk("session", 1000000L, "payload-1\n"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.processAllAvailable()
      q1.awaitTermination(5000)
    }
    assert(delivered.isEmpty, "failed batch must not count as delivered")

    val q2 = start() // restart from checkpoint: WAL re-delivers the batch
    q2.processAllAvailable()
    q2.stop()
    assert(delivered.asScala.toSeq == Seq("payload-1\n"),
      "reference drops the batch on sink failure (CTSDBSink.java:163-170); we redeliver")
  }

  test("rate-source soak messages are valid wire format") {
    val stream = MessageSource.rateStream(spark, rowsPerSecond = 500)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("ratesoak").start()
    try {
      var waited = 0
      while (spark.table("ratesoak").isEmpty && waited < 200) {
        Thread.sleep(100); waited += 1
      }
    } finally q.stop()
    val parsed = MsgPipeline.parse(spark.table("ratesoak"))
      .select("module", "send_ts", "tail").collect()
    assert(parsed.nonEmpty)
    parsed.foreach { r =>
      assert(Set("session", "heartbeat").contains(r.getString(0)))
      assert(!r.isNullAt(1) && r.getLong(1) > 0)
      assert(r.getString(2).startsWith("""{"seq": """))
    }
  }

  test("stateful ops run on the RocksDB state store (scale path)") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      val input = MemoryStream[(java.sql.Timestamp, String)](spark)
      val q = StatefulOps.dedupWithinWatermark(
          input.toDF().toDF("event_time", "payload"), "1 minute")
        .writeStream.outputMode("append").format("memory").queryName("rocksdedup").start()
      def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
      input.addData((ts(10), "a"), (ts(11), "a"), (ts(12), "b"))
      q.processAllAvailable()
      // provider actually in effect for the running query
      assert(q.lastProgress.stateOperators.nonEmpty)
      q.stop()
      assert(spark.table("rocksdedup").select("payload")
        .as[String].collect().sorted.toSeq == Seq("a", "b"))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("checkpoint recovery: restart continues, no loss, no dupes") {
    val dir = Files.createTempDirectory("stream-src").toString
    val ckpt = Files.createTempDirectory("ckpt-rec").toString
    MessageSource.writeReplayCorpus(spark, sf(), dir, nFiles = 4)
    val expected = operators.CodecQueries.rawMessages(spark, sf())
      .where(operators.MsgCodec.guard(col("value")) &&
        operators.MsgCodec.isSession(operators.MsgCodec.parseModule(col("value"))))
      .count()

    // batchId-keyed sink: replayed batches overwrite, not double-count —
    // the idempotence hook the reference lacks (SURVEY.md §3.3)
    val seen = new java.util.concurrent.ConcurrentHashMap[Long, Long]
    def start() = MsgPipeline.runFanOut(
      MessageSource.fileStream(spark, dir, maxFilesPerTrigger = 1),
      ckpt, () => 2000000000000L,
      (ds, id) => seen.put(id, ds.count()),
      (_, _) => ())

    val q1 = start()
    // let at least one micro-batch commit, then kill mid-stream
    var waited = 0
    while (seen.isEmpty && waited < 300) { Thread.sleep(100); waited += 1 }
    q1.stop()
    val afterFirst = seen.values.asScala.map(l => l: Long).sum

    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val total = seen.values.asScala.map(l => l: Long).sum
    assert(afterFirst < expected, "first run should have stopped mid-stream")
    assert(total == expected, "restart must deliver exactly the remainder")
  }

  test("incremental aggregate maintenance: state == batch aggregate after every prefix; replay is a no-op") {
    val root = Files.createTempDirectory("incragg").toString
    val ckpt = Files.createTempDirectory("incragg-ckpt").toString
    val input = MemoryStream[(String, Double)](spark)
    val df = input.toDF().toDF("grp", "v")
    val q = IncrementalAgg.maintain(df, root, ckpt, col("grp"), col("v"))

    def viewNow(): Map[String, (Double, Long, Double)] =
      IncrementalAgg.view(spark, root).get.collect()
        .map(r => r.getAs[String]("grp") ->
          ((r.getAs[Double]("sum_v"), r.getAs[Long]("cnt"), r.getAs[Double]("avg_v")))).toMap

    input.addData(("a", 1.5), ("a", 2.5), ("b", 10.0))
    q.processAllAvailable()
    assert(viewNow() == Map("a" -> ((4.0, 2L, 2.0)), "b" -> ((10.0, 1L, 10.0))))

    input.addData(("a", 6.0), ("c", 0.25))
    q.processAllAvailable()
    assert(viewNow() == Map(
      "a" -> ((10.0, 3L, 3.3333)), "b" -> ((10.0, 1L, 10.0)), "c" -> ((0.25, 1L, 0.25))))
    // state pin (SURVEY §2.C): stored partials = one row per GROUP (3),
    // independent of how many rows were delivered (5) — O(groups), never
    // O(history)
    assert(IncrementalAgg.state(spark, root).get.count() == 3L,
      "incr-agg state must hold exactly one row per group")
    q.stop()

    // replaying an already-applied batch must change nothing (the
    // foreachBatch idempotence contract after a mid-commit crash)
    val replay = spark.createDataFrame(Seq(("a", 999.0))).toDF("grp", "v")
    IncrementalAgg.applyBatch(replay, batchId = 0L, root, col("grp"), col("v"))
    assert(viewNow() == Map(
      "a" -> ((10.0, 3L, 3.3333)), "b" -> ((10.0, 1L, 10.0)), "c" -> ((0.25, 1L, 0.25))),
      "replayed batch mutated the state")

    // a genuinely new batch still applies after the restartish replay
    IncrementalAgg.applyBatch(replay, batchId = 99L, root, col("grp"), col("v"))
    assert(viewNow()("a") == ((1009.0, 4L, 252.25)))

    // GC: only the CURRENT and PREVIOUS data versions remain on disk
    // (one commit of time-travel retention; older versions deleted)
    val versions = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v")).map(_.getName)
    assert(versions.toSeq.sorted == Seq("v1", "v99"),
      s"GC must retain exactly current+previous: ${versions.toSeq}")

    // time travel: the manifest history reads the state one commit back —
    // before batch 99, group a held (10.0, 3)
    val vs = graft.api.StateManifest.versions(root)
    assert(vs.size >= 2, s"manifest history missing: $vs")
    val prevState = IncrementalAgg.stateAt(spark, root, vs(vs.size - 2)).get
      .collect().map(r => r.getString(0) ->
        ((r.getDecimal(1).doubleValue(), r.getLong(2)))).toMap
    assert(prevState("a") == ((10.0, 3L)),
      s"time-travel read of the previous commit wrong: $prevState")
    // the CURRENT manifest carries pointer AND ledger in one commit
    val cur = graft.api.StateManifest.current(root).get
    assert(cur.segments == Seq("v99") && cur.lastBatch == 99L,
      s"manifest pointer/ledger mismatch: $cur")
  }

  test("stream histogram quantiles: state quantiles == batch derivation after every prefix") {
    import graft.operators.Analytic
    val root = Files.createTempDirectory("shq").toString
    val v = Tables.events(spark, sf())
      .select(col("event_type").as("grp"),
        round(col("value") * 1000).cast("long").as("vi"),
        col("event_id"))
    // bin spec fixed at view creation, like every production histogram MV
    val b = v.agg(min(col("vi")), max(col("vi"))).first()
    val mn = b.getLong(0)
    val w = math.max((b.getLong(1) - mn) / 128 + 1, 1L)
    def slice(i: Int) = v.where(pmod(col("event_id"), lit(3)) === i)
    def expect(prefix: org.apache.spark.sql.DataFrame) = {
      val partials = prefix
        .groupBy(col("grp"), expr(s"(vi - ${mn}L) div ${w}L").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
      Analytic.histQuantiles(partials, mn, w).collect().toSeq
    }
    var delivered: Option[org.apache.spark.sql.DataFrame] = None
    for (i <- 0 until 3) {
      val s = slice(i)
      StreamHistQuantile.applyBatch(s, i.toLong, root, col("grp"), col("vi"), mn, w)
      delivered = Some(delivered.map(_.unionByName(s)).getOrElse(s))
      val got = StreamHistQuantile.quantiles(spark, root, mn, w).get.collect().toSeq
      assert(got == expect(delivered.get), s"state quantiles diverged after batch $i")
    }
    // full delivery reproduces the inventory query bit-for-bit
    val batchRows = Analytic.qHistQuantile.fn(spark, sf()).collect().toSeq
    assert(StreamHistQuantile.quantiles(spark, root, mn, w).get.collect().toSeq
      == batchRows, "stream-maintained quantiles != batch query")
    // replaying an applied batch must not change the state (ledger)
    StreamHistQuantile.applyBatch(slice(0), 0L, root, col("grp"), col("vi"), mn, w)
    assert(StreamHistQuantile.quantiles(spark, root, mn, w).get.collect().toSeq
      == batchRows, "replayed batch mutated the histogram state")

    // a stream value below the fixed mn floors into a genuine NEGATIVE
    // bucket (DuckDB `//` convention) — truncate-toward-zero `div` would
    // fold (mn-w, mn) into bucket 0 with real in-range values
    locally {
      import spark.implicits._
      val root3 = Files.createTempDirectory("shq3").toString
      val low = Seq(("g", mn - 1L), ("g", mn)).toDF("grp", "vi")
      StreamHistQuantile.applyBatch(low, 0L, root3, col("grp"), col("vi"), mn, w)
      val st = graft.streaming.IncrementalAgg.state(spark, root3).get
        .collect().map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("cnt")).toMap
      assert(st == Map(-1L -> 1L, 0L -> 1L),
        s"below-mn value not floored into bucket -1: $st")
    }

    // and the streaming-query wiring end-to-end: maintain() over a
    // MemoryStream reproduces the same derivation on its own state dir
    val root2 = Files.createTempDirectory("shq2").toString
    val ckpt2 = Files.createTempDirectory("shq2-ckpt").toString
    val input = MemoryStream[(String, Long)](spark)
    val q = StreamHistQuantile.maintain(input.toDF().toDF("grp", "vi"),
      root2, ckpt2, col("grp"), col("vi"), mn = 0L, w = 10L)
    input.addData(("a", 5L), ("a", 17L), ("b", 99L))
    q.processAllAvailable()
    input.addData(("a", 42L))
    q.processAllAvailable()
    q.stop()
    // state pin: bin-count state is ≤ groups × 129 rows regardless of
    // delivered volume — here exactly the 4 touched (grp, bucket) bins
    val histRows = graft.streaming.IncrementalAgg.state(spark, root2).get.count()
    assert(histRows == 4L && histRows <= 2L * 129L,
      s"hist-quantile state must stay ≤ groups×129 bins, got $histRows")
    val small = StreamHistQuantile.quantiles(spark, root2, mn = 0L, w = 10L)
      .get.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // a: buckets 0,1,4 -> p50 = 2nd of 3 -> bucket 1 (lo 10); p95 -> bucket 4 (lo 40)
    // b: single bucket 9; ALL: buckets 0,1,4,9 -> p50 = 2nd of 4 -> bucket 1
    assert(small == Map("a" -> ((10L, 40L)), "b" -> ((90L, 90L)),
      "ALL" -> ((10L, 90L))), s"maintain() wiring produced $small")
  }

  test("stream join view: equals batch IncrementalJoin and the full join; replay idempotent") {
    import graft.streaming.StreamJoinView
    val root = Files.createTempDirectory("sjv").toString
    val ckpt = Files.createTempDirectory("sjv-ckpt").toString
    val input = MemoryStream[(String, Long, String, Int)](spark)
    val df = input.toDF().toDF("side", "k", "av", "bv")
    val spec = StreamJoinView.JoinViewSpec(Seq("k"), Seq("av"), Seq("bv"))
    val q = StreamJoinView.maintain(df, root, ckpt, spec)

    def viewNow(): Seq[(Long, String, Int)] =
      StreamJoinView.view(spark, root).get.collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("av"), r.getAs[Int]("bv")))
        .toSeq.sorted

    val b0 = Seq(("A", 1L, "x", 0), ("B", 1L, "", 10), ("B", 2L, "", 20))
    val b1 = Seq(("A", 2L, "y", 0), ("B", 1L, "", 11))
    val b2 = Seq(("A", 1L, "xx", 0), ("B", 9L, "", 90))
    input.addData(b0: _*); q.processAllAvailable()
    assert(viewNow() == Seq((1L, "x", 10)), "after batch 0")
    input.addData(b1: _*); q.processAllAvailable()
    assert(viewNow() == Seq((1L, "x", 10), (1L, "x", 11), (2L, "y", 20)), "after batch 1")
    input.addData(b2: _*); q.processAllAvailable()
    // state pin: retained sides grow by DELTA only — stored A/B rows
    // equal the delivered side rows exactly (3 A, 4 B), no per-batch
    // rewrite of history
    assert(spark.read.parquet(s"$root/A").count() == 3L &&
      spark.read.parquet(s"$root/B").count() == 4L,
      "join-view side state must equal delivered side rows")
    q.stop()
    val streamed = viewNow()

    // parity 1: ≡ the batch IncrementalJoin over the same delta batching
    import spark.implicits._
    def aOf(rows: Seq[(String, Long, String, Int)]) =
      rows.filter(_._1 == "A").map(t => (t._2, t._3)).toDF("k", "av")
    def bOf(rows: Seq[(String, Long, String, Int)]) =
      rows.filter(_._1 == "B").map(t => (t._2, t._4)).toDF("k", "bv")
    val batches = Seq(b0, b1, b2)
    val ivm = graft.api.IncrementalJoin
      .maintain(batches.map(aOf), batches.map(bOf), Seq("k"))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("av"), r.getAs[Int]("bv")))
      .toSeq.sorted
    assert(streamed == ivm, "stream view diverged from batch IncrementalJoin")

    // parity 2: ≡ the full join of everything ingested
    val all = batches.flatten
    val full = aOf(all).join(bOf(all), Seq("k"))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("av"), r.getAs[Int]("bv")))
      .toSeq.sorted
    assert(streamed == full, "stream view diverged from the full join")

    // replaying batch 0 with identical data (the crash-recovery case:
    // Spark re-runs the same offsets) must leave the view unchanged —
    // partition-dir overwrite, not append
    StreamJoinView.applyBatch(
      b0.toDF("side", "k", "av", "bv"), batchId = 0L, root, spec)
    assert(viewNow() == streamed, "replayed batch duplicated view rows")

    // torn-write crash: batch 2 wrote its view increment but died before
    // its state dirs landed. The replay must regenerate the SAME increment
    // (it reads strictly-prior state, so the half-written batch can't see
    // itself) and restore the state dirs.
    def rmr(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rmr(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    rmr(java.nio.file.Paths.get(s"$root/A/batch=2"))
    rmr(java.nio.file.Paths.get(s"$root/B/batch=2"))
    StreamJoinView.applyBatch(
      b2.toDF("side", "k", "av", "bv"), batchId = 2L, root, spec)
    assert(viewNow() == streamed, "torn-write replay diverged")
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(s"$root/A/batch=2")),
      "state dir not restored by replay")

    // torn FILE crash: batch 2's own dir holds a half-written parquet file
    // (garbage bytes, no valid footer). applyBatch clears the in-flight
    // batch's dirs before reading prior state, so the bad footer never
    // reaches schema inference and the replay heals in place.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/A/batch=2/part-torn.snappy.parquet"),
      Array[Byte]('P', 'A', 'R', '1', 0, 1, 2, 3))
    StreamJoinView.applyBatch(
      b2.toDF("side", "k", "av", "bv"), batchId = 2L, root, spec)
    assert(viewNow() == streamed, "torn-file replay diverged")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/A/batch=2/part-torn.snappy.parquet")),
      "torn file survived the replay")
  }

  test("signed stream join view: retractions cancel through the live view") {
    import graft.streaming.StreamJoinView
    val root = Files.createTempDirectory("sjvs").toString
    val ckpt = Files.createTempDirectory("sjvs-ckpt").toString
    val input = MemoryStream[(String, Long, String, Int, Int)](spark)
    val df = input.toDF().toDF("side", "k", "av", "bv", "sign")
    val spec = StreamJoinView.JoinViewSpec(
      Seq("k"), Seq("av"), Seq("bv"), signCol = Some("sign"))
    val q = StreamJoinView.maintain(df, root, ckpt, spec)

    def netNow(): Seq[(Long, String, Int, Long)] =
      StreamJoinView.netView(spark, root, spec).get.collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[String]("av"),
          r.getAs[Int]("bv"), r.getAs[Long]("net_count"))).toSeq.sorted

    // batch 0: a(1,x) + b(1,10); batch 1: retract a(1,x) BEFORE b(1,11)
    // arrives; batch 2: b(1,11) (pairs with nothing), a(2,y) meets b(2,20)
    input.addData(("A", 1L, "x", 0, 1), ("B", 1L, "", 10, 1), ("B", 2L, "", 20, 1))
    q.processAllAvailable()
    assert(netNow() == Seq((1L, "x", 10, 1L)))
    input.addData(("A", 1L, "x", 0, -1))
    q.processAllAvailable()
    assert(netNow() == Seq(), "retraction must cancel the joined pair")
    input.addData(("B", 1L, "", 11, 1), ("A", 2L, "y", 0, 1))
    q.processAllAvailable()
    q.stop()
    assert(netNow() == Seq((2L, "y", 20, 1L)),
      "late partner of a retracted row must not resurrect it")
  }

  test("stream join-agg view: MV state ≡ definition after every prefix; restart + compaction live") {
    // FOURTEENTH batch↔stream parity pair: the Aggregate-over-JOIN MV
    // state maintained by a live tagged CDC feed (StreamJoinAggView over
    // IncrementalJoinAgg) equals the view definition evaluated over
    // exactly the rows ingested so far — after every prefix, across a
    // kill/restart (same checkpoint: replayed batchId no-ops on the
    // ledger), and with the history compaction lifecycle run MID-STREAM.
    import graft.streaming.StreamJoinAggView
    import graft.api.IncrementalJoinAgg
    import spark.implicits._
    val root = Files.createTempDirectory("sjav").toString
    val ckpt = Files.createTempDirectory("sjav-ckpt").toString
    // tagged CDC tuple: (side, k, st, x, seg) — A rows carry (k, st, x),
    // B rows carry (k, seg)
    val spec = StreamJoinAggView.Spec(
      aOf = b => b.filter(col("side") === "A").select(
        col("k").as("ak"), col("st"), col("x")),
      bOf = b => b.filter(col("side") === "B").select(
        col("k").as("bk"), col("seg")),
      join = (a, b) => a.join(b, a("ak") === b("bk")),
      partialsOf = j => j.groupBy("seg", "st")
        .agg(sum(col("x").cast("decimal(18,6)")).as("p_sum"),
          count(lit(1)).as("p_cnt")),
      merge = (prev, p) => prev.unionByName(p).groupBy("seg", "st")
        .agg(sum(col("p_sum")).cast("decimal(28,6)").as("p_sum"),
          sum(col("p_cnt")).as("p_cnt")))
    val batches = Seq(
      Seq(("A", 1L, "F", 10.0, ""), ("A", 2L, "F", 7.0, ""), ("B", 1L, "", 0.0, "AUTO")),
      Seq(("B", 2L, "", 0.0, "BUILD"), ("A", 1L, "O", 5.0, ""), ("A", 2L, "F", 7.0, "")),
      Seq(("A", 3L, "F", 2.0, ""), ("B", 3L, "", 0.0, "AUTO"), ("B", 9L, "", 0.0, "AUTO")),
      Seq(("A", 9L, "O", 4.0, "")))
    def wantAfter(n: Int): Set[Seq[Any]] = {
      val all = batches.take(n).flatten
      val a = all.filter(_._1 == "A").map(t => (t._2, t._3, t._4)).toDF("ak", "st", "x")
      val b = all.filter(_._1 == "B").map(t => (t._2, t._5)).toDF("bk", "seg")
      spec.partialsOf(spec.join(a, b))
        .select(col("seg"), col("st"), col("p_sum").cast("double"), col("p_cnt"))
        .collect().map(_.toSeq).toSet
    }
    def gotNow(): Set[Seq[Any]] =
      StreamJoinAggView.state(spark, root).get
        .select(col("seg"), col("st"), col("p_sum").cast("double"), col("p_cnt"))
        .collect().map(_.toSeq).toSet

    val input = MemoryStream[(String, Long, String, Double, String)](spark)
    val df = input.toDF().toDF("side", "k", "st", "x", "seg")
    val q = StreamJoinAggView.maintain(df, root, ckpt, spec)
    input.addData(batches(0): _*); q.processAllAvailable()
    assert(gotNow() == wantAfter(1), "prefix 1")
    input.addData(batches(1): _*); q.processAllAvailable()
    assert(gotNow() == wantAfter(2), "prefix 2")
    q.stop()
    // history lifecycle mid-stream, between micro-batches
    val made = IncrementalJoinAgg.compactHistory(spark, root,
      keyA = Seq("ak"), keyB = Seq("bk"), buckets = 4)
    assert(made.exists(_.size == 2), s"both sides should compact: $made")
    assert(IncrementalJoinAgg.vacuumHistory(root).nonEmpty)
    assert(gotNow() == wantAfter(2), "compaction moved the stored view")
    // kill/restart: resume the SAME checkpoint and source — batch ids
    // continue, any re-delivered id no-ops on the manifest ledger, and
    // the next batches join against the COMPACTED history
    val q2 = StreamJoinAggView.maintain(df, root, ckpt, spec)
    input.addData(batches(2): _*); q2.processAllAvailable()
    assert(gotNow() == wantAfter(3), "prefix 3 after restart over compacted history")
    input.addData(batches(3): _*); q2.processAllAvailable()
    assert(gotNow() == wantAfter(4), "final state ≡ definition over all ingested rows")
    q2.stop()
    // the documented resume contract: a FRESH checkpoint restarts batch
    // ids at 0, so a feed re-delivering old rows lands on already-applied
    // ledger ids and must be swallowed, never double-counted — resuming a
    // state root means resuming its checkpoint
    val stale = MemoryStream[(String, Long, String, Double, String)](spark)
    stale.addData(batches.flatten: _*)
    val q3 = StreamJoinAggView.maintain(
      stale.toDF().toDF("side", "k", "st", "x", "seg"), root,
      Files.createTempDirectory("sjav-ckpt2").toString, spec)
    q3.processAllAvailable()
    q3.stop()
    assert(gotNow() == wantAfter(4), "stale-checkpoint re-delivery double-counted")
  }

  test("stream ann ingest: searches ≡ one-shot frozen-model index after every prefix") {
    // FIFTEENTH batch↔stream parity pair: a live vector feed maintains
    // the cell-partitioned ANN index (StreamAnnIngest over AnnIngest) —
    // after every micro-batch, a plan-gated pruned search over the live
    // segments equals a one-shot index built from exactly the vectors
    // ingested so far, with the compaction lifecycle run mid-stream.
    import graft.api.{AnnIngest, VectorSearch}
    import graft.streaming.StreamAnnIngest
    val corpus = VectorSearch.withNorm(
      Tables.embeddings(spark, sf()), col("vec_id"), col("embedding"))
    val base = corpus.where(col("id") % 3 =!= 0)
    val cents = VectorSearch.ivfFitKMeans(base, nCells = 8, iters = 2)
    val root = Files.createTempDirectory("sann").toString
    val ckpt = Files.createTempDirectory("sann-ckpt").toString
    val batches = Seq(
      base,
      corpus.where(col("id") % 3 === 0 && col("id") % 2 === 0),
      corpus.where(col("id") % 3 === 0 && col("id") % 2 === 1))
    // the feed: (id, v, nrm) tuples through a MemoryStream, re-normed on
    // the stream side so the ingested frame is withNorm-shaped
    val input = MemoryStream[(Long, Seq[Double])](spark)
    val vecs = VectorSearch.withNorm(
      input.toDF().toDF("vec_id", "embedding"), col("vec_id"), col("embedding"))
    val q = StreamAnnIngest.maintain(vecs, root, ckpt, cents)
    def feed(df: org.apache.spark.sql.DataFrame): Unit = {
      input.addData(df.select("id", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq)
      q.processAllAvailable()
    }
    def searchNow(): Seq[Seq[Any]] =
      AnnIngest.searchTopK(spark, root, cents,
        corpus.where(col("id") < 10), k = 5, nprobe = 3)
        .orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    def oneShot(upTo: Int): Seq[Seq[Any]] = {
      val ingested = batches.take(upTo).reduce(_ unionByName _)
      VectorSearch.ivfTopK(VectorSearch.ivfAssign(ingested, cents), cents,
        corpus.where(col("id") < 10), k = 5, nprobe = 3)
        .orderBy("qid", "rnk").collect().map(_.toSeq).toSeq
    }
    feed(batches(0))
    assert(searchNow() == oneShot(1), "prefix 1")
    feed(batches(1))
    assert(searchNow() == oneShot(2), "prefix 2")
    // maintenance between micro-batches: compact + vacuum, search unchanged
    assert(AnnIngest.compact(spark, root).nonEmpty)
    AnnIngest.vacuum(root)
    assert(searchNow() == oneShot(2), "compaction moved a search result")
    feed(batches(2))
    q.stop()
    assert(searchNow() == oneShot(3), "final prefix over compacted + live segments")
    assert(AnnIngest.liveSegments(root) == Seq("seg-c1", "seg-b2"))
  }

  test("auto-compaction policy: a long feed stays bounded in segments, parity intact") {
    // Round 18 (VERDICT r17 #5): the compaction lifecycle moves from
    // caller-remembered to DEPLOYED — both streaming maintainers carry a
    // size trigger (autoCompactAt) in their foreachBatch, so a feed of
    // any length keeps its live segment count ≤ the threshold while the
    // maintained state stays ≡ the batch definition.
    import graft.api.{AnnIngest, IncrementalJoinAgg, VectorSearch}
    import graft.streaming.{StreamAnnIngest, StreamJoinAggView}
    import spark.implicits._
    // -- ANN index maintainer: 6 micro-batches, threshold 3 --
    val corpus = VectorSearch.withNorm(
      Tables.embeddings(spark, sf()), col("vec_id"), col("embedding"))
    val cents = VectorSearch.ivfFitKMeans(
      corpus.where(col("id") % 6 === 0), nCells = 8, iters = 2)
    val root = Files.createTempDirectory("sann-auto").toString
    val input = MemoryStream[(Long, Seq[Double])](spark)
    val vecs = VectorSearch.withNorm(
      input.toDF().toDF("vec_id", "embedding"), col("vec_id"), col("embedding"))
    val q = StreamAnnIngest.maintain(vecs, root,
      Files.createTempDirectory("sann-auto-ckpt").toString, cents,
      autoCompactAt = 3)
    (0 until 6).foreach { i =>
      input.addData(corpus.where(col("id") % 6 === i).select("id", "v")
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toIndexedSeq)
      q.processAllAvailable()
      val live = AnnIngest.liveSegments(root)
      assert(live.size <= 3, s"trigger $i left ${live.size} segments: $live")
    }
    q.stop()
    val got = AnnIngest.searchTopK(spark, root, cents,
      corpus.where(col("id") < 10), k = 5, nprobe = 3)
      .orderBy("qid", "rnk").collect().toSeq
    val oneShot = VectorSearch.ivfTopK(
      VectorSearch.ivfAssign(corpus, cents), cents,
      corpus.where(col("id") < 10), k = 5, nprobe = 3)
      .orderBy("qid", "rnk").collect().toSeq
    assert(got.nonEmpty && got == oneShot, "auto-compacted feed diverged")

    // -- join-MV maintainer: 5 micro-batches, threshold 2 per side --
    val jroot = Files.createTempDirectory("sjav-auto").toString
    val spec = StreamJoinAggView.Spec(
      aOf = b => b.filter(col("side") === "A").select(
        col("k").as("ak"), col("st"), col("x")),
      bOf = b => b.filter(col("side") === "B").select(
        col("k").as("bk"), col("seg")),
      join = (a, b) => a.join(b, a("ak") === b("bk")),
      partialsOf = j => j.groupBy("seg", "st")
        .agg(sum(col("x").cast("decimal(18,6)")).as("p_sum"),
          count(lit(1)).as("p_cnt")),
      merge = (prev, p) => prev.unionByName(p).groupBy("seg", "st")
        .agg(sum(col("p_sum")).cast("decimal(28,6)").as("p_sum"),
          sum(col("p_cnt")).as("p_cnt")),
      keyA = Seq("ak"), keyB = Seq("bk"))
    val jbatches = (0 until 5).map { i =>
      Seq(("A", i * 2L, "F", 1.0 + i, ""), ("A", i * 2L + 1, "O", 2.0 + i, ""),
        ("B", i * 2L, "", 0.0, if (i % 2 == 0) "AUTO" else "BUILD"))
    }
    val jin = MemoryStream[(String, Long, String, Double, String)](spark)
    val jq = StreamJoinAggView.maintain(
      jin.toDF().toDF("side", "k", "st", "x", "seg"), jroot,
      Files.createTempDirectory("sjav-auto-ckpt").toString, spec,
      autoCompactAt = 2)
    jbatches.zipWithIndex.foreach { case (b, i) =>
      jin.addData(b: _*); jq.processAllAvailable()
      Seq("a", "b").foreach { s =>
        val n = IncrementalJoinAgg.liveSegments(jroot, s).size
        assert(n <= 2, s"trigger $i left $n live $s-side segments")
      }
    }
    jq.stop()
    val all = jbatches.flatten
    val aAll = all.filter(_._1 == "A").map(t => (t._2, t._3, t._4)).toDF("ak", "st", "x")
    val bAll = all.filter(_._1 == "B").map(t => (t._2, t._5)).toDF("bk", "seg")
    def norm(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select(col("seg"), col("st"), col("p_sum").cast("double"), col("p_cnt"))
        .collect().map(_.toSeq).toSet
    assert(norm(StreamJoinAggView.state(spark, jroot).get) ==
      norm(spec.partialsOf(spec.join(aAll, bAll))),
      "auto-compacted join-MV state diverged from the definition")
  }

  test("CRUD vector feed: deletes ride the stream, tombstones fold on the compaction cadence") {
    // Round 19b: ONE stream carries arrivals AND removals
    // (StreamAnnIngest.maintainCrud) — a delete trigger erases older rows
    // (including earlier triggers'), a LATER re-insert resurrects, and
    // auto-compaction folds tombstones in physically mid-stream, all
    // while searches stay plan-gated and ≡ a one-shot index of exactly
    // the visible rows.
    import graft.api.{AnnIngest, VectorSearch}
    import graft.streaming.StreamAnnIngest
    val corpus = VectorSearch.withNorm(
      Tables.embeddings(spark, sf()), col("vec_id"), col("embedding"))
    val base = corpus.where(col("id") % 3 =!= 0)
    val cents = VectorSearch.ivfFitKMeans(base, nCells = 8, iters = 2)
    val root = Files.createTempDirectory("sann-crud").toString
    val input = MemoryStream[(Long, Seq[Double], String)](spark)
    val events = VectorSearch.withNorm(
      input.toDF().toDF("vec_id", "embedding", "op"),
      col("vec_id"), col("embedding"), col("op"))
    val q = StreamAnnIngest.maintainCrud(events, root,
      Files.createTempDirectory("sann-crud-ckpt").toString, cents,
      opCol = "op", autoCompactAt = 3)
    def feed(df: org.apache.spark.sql.DataFrame, op: String): Unit = {
      input.addData(df.select("id", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), op)).toIndexedSeq)
      q.processAllAvailable()
    }
    def feedMixed(ins: org.apache.spark.sql.DataFrame,
        del: org.apache.spark.sql.DataFrame): Unit = {
      input.addData((ins.select("id", "v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1), "upsert")) ++
        del.select("id", "v").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1), "delete"))).toIndexedSeq)
      q.processAllAvailable()
    }
    def searchIds(): Set[Long] =
      AnnIngest.searchTopK(spark, root, cents,
        corpus.where(col("id") < 10), k = 5, nprobe = 3)
        .select("nid").collect().map(_.getLong(0)).toSet
    // t0: the bootstrap arrivals
    feed(base, "upsert")
    // t1: more arrivals + a delete wave spanning BOTH triggers' rows
    feedMixed(corpus.where(col("id") % 3 === 0 && col("id") % 2 === 0),
      corpus.where(col("id") % 7 === 0))
    val deleted = corpus.where(col("id") % 7 === 0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(searchIds().intersect(deleted).isEmpty,
      "a deleted id surfaced from the tombstone-live index")
    // t2: a re-upsert wave that resurrects its id % 7 = 0 members — and
    // (with t1's three slots) pushed the segment count over the
    // threshold, so the auto-compaction folded tombstones in physically
    feed(corpus.where(col("id") % 3 === 0 && col("id") % 2 === 1), "upsert")
    assert(AnnIngest.liveSegments(root).size <= 3,
      s"auto-compaction missed: ${AnnIngest.liveSegments(root)}")
    val visible = corpus.where(
      ((col("id") % 3 =!= 0 || col("id") % 2 === 0) && col("id") % 7 =!= 0) ||
        (col("id") % 3 === 0 && col("id") % 2 === 1))
    val got = AnnIngest.searchTopK(spark, root, cents,
      corpus.where(col("id") < 10), k = 5, nprobe = 3)
      .orderBy("qid", "rnk").collect().toSeq
    val oneShot = VectorSearch.ivfTopK(
      VectorSearch.ivfAssign(visible, cents), cents,
      corpus.where(col("id") < 10), k = 5, nprobe = 3)
      .orderBy("qid", "rnk").collect().toSeq
    assert(got.nonEmpty && got == oneShot,
      "CRUD feed diverged from the one-shot visible-set index")
    // t3: a TRUE upsert — id 1 re-embedded with a different vector. The
    // replace-on-id contract: the stale copy must stop serving, exactly
    // one (new) copy remains.
    val newVec = corpus.where(col("id") === 2)
      .select("v").head().getSeq[Double](0)
    input.addData(Seq((1L, newVec, "upsert")))
    q.processAllAvailable()
    q.stop()
    val rows1 = AnnIngest.readCells(spark, root, 0 until cents.length)
      .where(col("id") === 1).select("v").collect()
    assert(rows1.length == 1,
      s"upsert of an existing id left ${rows1.length} copies serving")
    assert(rows1.head.getSeq[Double](0) == newVec,
      "upsert did not replace the stored vector")
  }

  test("streaming funnel: conversions equal the batch q_funnel on identical input") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      // ground truth: the oracle-gated batch query on sf0.001
      val batch = operators.Sequence.qFunnel.fn(spark, sf()).collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("signup_ts").getTime,
          r.getAs[java.sql.Timestamp]("click_ts").getTime,
          r.getAs[java.sql.Timestamp]("purchase_ts").getTime)).toSet
      assert(batch.nonEmpty, "degenerate: no batch conversions at sf0.001")

      // delivered in event-time order (an in-order stream) so the 1 s
      // lateness allowance drops nothing; cross-batch assembly still
      // exercised by the chunking
      val evts = Tables.events(spark, sf())
        .select("user_id", "ts", "event_type").collect()
        .map(r => UserEvent(r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("ts"), r.getAs[String]("event_type")))
        .sortBy(_.event_time.getTime)
      val maxTs = evts.map(_.event_time.getTime).max

      val input = MemoryStream[UserEvent](spark)
      val q = StreamFunnel.conversions(spark, input.toDS(), watermark = "1 second")
        .writeStream.outputMode("append").format("memory")
        .queryName("funnelstream").start()
      // three uneven chunks: conversions must assemble across batches
      evts.grouped(evts.length / 3 + 1).foreach { chunk =>
        input.addData(chunk.toIndexedSeq); q.processAllAvailable()
      }
      // advance the watermark past every user's window close, then one
      // more batch so the armed timers actually fire
      def term(t: Long) = UserEvent(-1L,
        new java.sql.Timestamp(t), "purchase")
      input.addData(term(maxTs + 8L * 24 * 3600 * 1000)); q.processAllAvailable()
      input.addData(term(maxTs + 9L * 24 * 3600 * 1000)); q.processAllAvailable()
      // state pin: every user's window has closed and emitted — the
      // resident rows are the terminator key's state variables and
      // timers (measured 16), not the hundreds-of-users census the
      // stream delivered
      assertStateBound(q, 24L, "funnel")
      q.stop()

      val streamed = spark.table("funnelstream").as[Conversion].collect()
        .map(c => (c.user_id, c.signup_ts.getTime, c.click_ts.getTime,
          c.purchase_ts.getTime)).toSet
      assert(streamed == batch,
        s"stream/batch mismatch: only-stream=${streamed -- batch} only-batch=${batch -- streamed}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("session assembly: streaming sessions equal batch q_sessionize on identical input") {
    // in-batch gap splitting makes the streaming assembly replay-correct:
    // backfilling the events table through the stream must give exactly
    // the batch query's sessions (at ms granularity, the stream's state
    // precision)
    val batch = operators.Temporal.qSessionize.fn(spark, sf()).collect()
      .map { r =>
        val st = r.getAs[java.sql.Timestamp]("session_start")
        val en = r.getAs[java.sql.Timestamp]("session_end")
        (r.getAs[Long]("user_id").toString, r.getAs[Long]("n_events"),
          st.getTime, en.getTime)
      }.toSet
    assert(batch.nonEmpty)

    val evts = Tables.events(spark, sf())
      .select("user_id", "ts").collect()
      .map(r => SessionEvent(r.getAs[Long]("user_id").toString,
        r.getAs[java.sql.Timestamp]("ts"), "p"))
      .sortBy(_.event_time.getTime)
    val maxTs = evts.map(_.event_time.getTime).max

    val input = MemoryStream[SessionEvent](spark)
    val q = StatefulOps.assembleSessions(spark, input.toDS(), gapMs = 1800000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("sessparity").start()
    evts.grouped(evts.length / 3 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    def term(t: Long) = SessionEvent("terminator", new java.sql.Timestamp(t), "p")
    input.addData(term(maxTs + 4000000L)); q.processAllAvailable()
    input.addData(term(maxTs + 9000000L)); q.processAllAvailable()
    // state pin: all sessions flushed by the quiet gap — only the
    // terminator user's open session may remain resident
    assertStateBound(q, 8L, "sessionize")
    q.stop()

    val streamed = spark.table("sessparity").as[SessionSummary].collect()
      .filter(_.user != "terminator")
      .map(s => (s.user, s.n_events, s.start_ms, s.end_ms)).toSet
    assert(streamed == batch,
      s"stream/batch session mismatch: only-stream=${streamed -- batch} only-batch=${batch -- streamed}")
  }

  test("streaming anomaly: hits equal the batch q_anomaly on identical input") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      val batch = operators.Sequence.qAnomaly.fn(spark, sf()).collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_baseline")).toSet
      assert(batch.nonEmpty, "degenerate: no batch anomalies at sf0.001")

      val evts = Tables.events(spark, sf())
        .select("user_id", "ts", "event_id", "value").collect()
        .map(r => ValueEvent(r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("ts"), r.getAs[Long]("event_id"),
          r.getAs[Double]("value")))
        .sortBy(_.event_time.getTime)
      val maxTs = evts.map(_.event_time.getTime).max

      val input = MemoryStream[ValueEvent](spark)
      val q = StreamAnomaly.anomalies(spark, input.toDS(), watermark = "1 second")
        .writeStream.outputMode("append").format("memory")
        .queryName("anomstream").start()
      evts.grouped(evts.length / 3 + 1).foreach { chunk =>
        input.addData(chunk.toIndexedSeq); q.processAllAvailable()
      }
      def term(t: Long, id: Long) = ValueEvent(-1L, new java.sql.Timestamp(t), id, 1.0)
      input.addData(term(maxTs + 3600000L, -1L)); q.processAllAvailable()
      input.addData(term(maxTs + 7200000L, -2L)); q.processAllAvailable()
      // state pin: per-group rolling baseline is O(groups × window), not
      // O(history) — bound = groups incl. terminators × window entries
      assertStateBound(q, 32L, "anomaly")
      q.stop()

      val streamed = spark.table("anomstream").as[AnomalyHit].collect()
        .map(h => h.event_id -> h.n_baseline).toSet
      assert(streamed == batch,
        s"stream/batch mismatch: only-stream=${streamed -- batch} only-batch=${batch -- streamed}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming funnel: out-of-order signup retroactively requalifies the click") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      val input = MemoryStream[UserEvent](spark)
      // 60 s lateness allowance: the signup arrives one batch later with
      // an event time 20 s older than the stream head
      val q = StreamFunnel.conversions(spark, input.toDS(),
          windowMs = 1000L * 100, watermark = "60 seconds")
        .writeStream.outputMode("append").format("memory")
        .queryName("funnelooo").start()
      def ev(u: Long, sec: Long, t: String) =
        UserEvent(u, new java.sql.Timestamp(sec * 1000), t)
      // batch 1: click@20, purchase@30 — no signup yet, nothing decidable
      input.addData(ev(1, 20, "click"), ev(1, 30, "purchase"))
      q.processAllAvailable()
      // batch 2: the signup arrives LATE with an EARLIER time (@10) — the
      // click@20 now qualifies; a per-event state machine would have
      // dropped it
      input.addData(ev(1, 10, "signup"))
      q.processAllAvailable()
      input.addData(ev(2, 500, "purchase")); q.processAllAvailable()
      input.addData(ev(2, 600, "purchase")); q.processAllAvailable()
      q.stop()
      val out = spark.table("funnelooo").as[Conversion].collect()
      assert(out.map(c => (c.user_id, c.signup_ts.getTime, c.click_ts.getTime,
        c.purchase_ts.getTime)).toSet == Set((1L, 10000L, 20000L, 30000L)),
        s"late signup must requalify the funnel: ${out.mkString(",")}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming semantic dedup: host assignment == engine; dropped set == batch complement") {
    import graft.streaming.{StreamSemanticDedup, VecEvent, SemDupHit}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      // the q_semantic_dedup corpus: embeddings + exactly-colinear x2 copies
      val e = Tables.embeddings(spark, sf())
      val base = e.select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val scaled = e.where(col("vec_id") % 10 === 0).select(
        (col("vec_id") + 100000L).as("id"),
        transform(col("embedding"), x => x.cast("double") * 2).as("v"))
      val corpus = base.unionAll(scaled)
        .withColumn("nrm", graft.functions.VectorExprs.l2_norm(col("v")))
      val cents = graft.api.VectorSearch.ivfFitKMeans(corpus, nCells = 8, iters = 2)

      // host-side assignment must equal the engine projection, cell for cell
      val engineCells = graft.api.VectorSearch.ivfAssign(corpus, cents)
        .select(col("id"), col("cell")).collect()
        .map(r => r.getAs[Long]("id") -> r.getAs[Int]("cell")).toMap
      val vecs = corpus.select("id", "v").collect()
        .map(r => r.getAs[Long]("id") -> r.getSeq[Double](1).toArray).sortBy(_._1)
      vecs.foreach { case (id, v) =>
        assert(StreamSemanticDedup.assignOf(v, StreamSemanticDedup.nrmOf(v), cents)
          == engineCells(id), s"host assignment diverges from ivfAssign for vec $id")
      }

      // batch face: the keep-list complement on the same corpus + same fit
      val batchDropped = graft.operators.Similarity.qSemanticDedup.fn(spark, sf())
        .collect().filter(!_.getAs[Boolean]("kept"))
        .map(_.getAs[Long]("vec_id")).toSet
      assert(batchDropped.nonEmpty, "corpus must contain planted duplicates")

      val input = MemoryStream[VecEvent](spark)
      val q = StreamSemanticDedup.semDupStream(spark, input.toDS(), cents,
          horizonMs = 86400000L, watermark = "10 seconds")
        .writeStream.outputMode("append").format("memory")
        .queryName("semdup").start()
      def hits() = spark.table("semdup").as[SemDupHit].collect()

      // feed in id order (the batch lowest-id-keeps order) across two batches
      val (h1, h2) = vecs.splitAt(vecs.length / 2)
      def ev(i: Int, id: Long, v: Array[Double]) =
        VecEvent(id, new java.sql.Timestamp(100000L + i), v)
      input.addData(h1.zipWithIndex.map { case ((id, v), i) => ev(i, id, v) }.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(h2.zipWithIndex.map { case ((id, v), i) =>
        ev(h1.length + i, id, v) }.toIndexedSeq: _*)
      q.processAllAvailable()

      val streamed = hits()
      assert(streamed.map(_.vec_id).toSet == batchDropped,
        s"streamed dropped set != batch complement: " +
          s"extra=${streamed.map(_.vec_id).toSet.diff(batchDropped)} " +
          s"missing=${batchDropped.diff(streamed.map(_.vec_id).toSet)}")
      // every hit is tagged with the engine's cell and a lower-id in-cell witness
      streamed.foreach { h =>
        assert(engineCells(h.vec_id) == h.cell)
        assert(h.dup_of < h.vec_id && engineCells(h.dup_of) == h.cell)
      }
      // state pin: resident vectors ≤ the KEPT corpus (per-cell canonical
      // survivors + timers), never the raw delivered stream
      assertStateBound(q, 64L, "semantic-dedup")
      q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming heavy hitters: snapshot equals the batch operator after every prefix") {
    import graft.api.Curation
    import graft.streaming.{StreamHeavyHitters, WordCount}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      import spark.implicits._
      // corpus where the hitter set SHIFTS between prefixes: "hot" is over
      // 1% throughout, "warm" (1 occurrence early) crosses the threshold
      // only in batch 3, and a long tail of singletons keeps every total
      // above 100 so singletons never qualify
      val b1 = Seq("hot hot hot hot hot warm " + (1 to 200).map(i => s"t1x$i").mkString(" "))
      val b2 = Seq("hot hot hot " + (1 to 150).map(i => s"t2x$i").mkString(" "))
      val b3 = Seq("warm warm warm warm warm warm warm hot " + (1 to 100).map(i => s"t3x$i").mkString(" "))
      val batches = Seq(b1, b2, b3)

      val input = MemoryStream[DocEvent](spark)
      val q = StreamHeavyHitters.countStream(spark, input.toDS())
        .writeStream.outputMode("update").format("memory")
        .queryName("whh").start()

      var fedDocs = Vector.empty[(Long, String)]
      batches.zipWithIndex.foreach { case (texts, bi) =>
        val docs = texts.zipWithIndex.map { case (t, i) =>
          (bi * 100L + i, t)
        }
        fedDocs = fedDocs ++ docs
        input.addData(docs.map { case (id, t) =>
          DocEvent(id, new java.sql.Timestamp(1000L * (bi + 1)), t)
        }.toIndexedSeq: _*)
        q.processAllAvailable()

        // prefix parity, bit-for-bit including the frac double
        val streamed = StreamHeavyHitters.snapshot(spark.table("whh"), pct = 1)
          .collect()
          .map(r => (r.getAs[String]("word"), r.getAs[Long]("cnt"), r.getAs[Double]("frac")))
          .toSet
        val batch = Curation
          .heavyHitters(fedDocs.toDF("doc_id", "text"), col("text"), pct = 1)
          .collect()
          .map(r => (r.getAs[String]("word"), r.getAs[Long]("cnt"), r.getAs[Double]("frac")))
          .toSet
        assert(streamed == batch,
          s"prefix ${bi + 1}: streamed hitters diverge from batch: " +
            s"extra=${streamed.diff(batch)} missing=${batch.diff(streamed)}")
      }

      // the shift actually happened: "warm" is a hitter only at the end
      val finalWords = StreamHeavyHitters.snapshot(spark.table("whh"), pct = 1)
        .collect().map(_.getAs[String]("word")).toSet
      assert(finalWords.contains("warm") && finalWords.contains("hot"),
        s"expected hot+warm in the final hitter set: $finalWords")

      // update-mode emission volume: batch 3 touched ~45 words; the
      // accumulated update table must stay far below corpus-vocabulary
      // re-emission per batch (3 batches x touched words, not 3 x vocab)
      val updates = spark.table("whh").as[WordCount].collect()
      val vocab = fedDocs.flatMap(_._2.split(" ", -1)).distinct.size
      assert(updates.length < 2 * vocab,
        s"update volume ${updates.length} suggests full-vocab re-emission (vocab $vocab)")
      // state pin: one counter row per distinct word — O(vocabulary),
      // with slack for per-key metadata, never O(token stream)
      assertStateBound(q, 2L * vocab, "heavy-hitters")
      q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming curate pipeline: attribution equals batch q_curate_pipeline after every prefix") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    StatefulOps.useRocksDbStateStore(spark)
    try {
      // quality-passing text: 4 stopwords + n doubled unique words
      // (n_tokens = 4+2n, ttr ≈ 0.55, stop ratio fine; n_chars grows with n)
      def good(tag: String, n: Int) =
        "the and of to " + (1 to n).map(i => s"${tag}w$i").mkString(" ") +
          " " + (1 to n).map(i => s"${tag}w$i").mkString(" ")
      // (doc_id, text, lang, source) per micro-batch; doc 9 repeats doc 3's
      // text ACROSS batches (cross-batch keeper state), doc 15 ties doc 7
      // on n_chars (doc_id tie-break), srcA/en overflows the K=3 cap twice
      val b1 = Seq(
        (1L, good("a1", 8), "en", "srcA"),
        (2L, good("a2", 9), "en", "srcA"),
        (3L, good("a3", 10), "en", "srcA"),
        (7L, good("b1", 10), "en", "srcB"))
      val b2 = Seq(
        (4L, good("a4", 11), "en", "srcA"),
        (5L, good("a5", 12), "en", "srcA"),
        (9L, good("a3", 10), "en", "srcA"),
        (14L, "tiny doc", "en", "srcB"),
        (15L, good("b9", 10), "en", "srcB"))
      val b3 = Seq(
        (6L, good("a6", 13), "en", "srcA"),
        (8L, good("b7", 12), "en", "srcB"),
        (16L, good("b8", 11), "en", "srcB"),
        (21L, good("c1", 9), "fr", "srcB"))

      val input = MemoryStream[CurateDocEvent](spark)
      val q = StreamCuratePipeline.dropStream(spark, input.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName("curate_drops").start()

      val dir = Files.createTempDirectory("curatestream").toString
      var fedDocs = Vector.empty[(Long, String, String, String)]
      var pos = 0L
      Seq(b1, b2, b3).zipWithIndex.foreach { case (docs, bi) =>
        fedDocs = fedDocs ++ docs
        // feed = the batch query's own corpus: each %7==0 doc's +2000000
        // copy follows its original, so first-seen ≡ min-doc_id keeper
        val feed = docs.flatMap { case (id, t, l, s) =>
          Seq((id, t, l, s)) ++
            (if (id % 7 == 0) Seq((id + 2000000L, t, l, s)) else Nil)
        }.map { case (id, t, l, s) =>
          pos += 1
          CurateDocEvent(id, new java.sql.Timestamp(1000L * pos), t, l, s)
        }
        input.addData(feed.toIndexedSeq: _*)
        q.processAllAvailable()

        val streamedDrops = spark.table("curate_drops").as[CurateDrop]
          .collect().toSeq
        // no doc may carry two verdicts (every drop is final by design)
        assert(streamedDrops.map(_.doc_id).distinct.size == streamedDrops.size,
          s"prefix ${bi + 1}: conflicting verdicts in $streamedDrops")
        val corpus = fedDocs.flatMap { case (id, t, l, s) =>
          Seq((id, t, l, s)) ++
            (if (id % 7 == 0) Seq((id + 2000000L, t, l, s)) else Nil)
        }
        val streamed = StreamCuratePipeline.attribution(
          spark, corpus.map(d => (d._1, d._2)), streamedDrops)

        fedDocs.map { case (id, t, l, s) => (id, t, l, s, t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val batch = graft.operators.Curation_.qCuratePipeline.fn(spark, dir)
          .collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("stage")).toMap
        assert(streamed == batch,
          s"prefix ${bi + 1}: attribution diverged\nstream=$streamed\nbatch=$batch")
      }

      // the interesting verdicts actually happened: cross-batch dup (9),
      // copy-dup (2000007, 2000021), quality incl. copy (14, 2000014),
      // monotone cap evictions (1,2,3 out as srcA/en grew) and the
      // n_chars tie broken by doc_id (15 out, 7 kept)
      val fin = spark.table("curate_drops").as[CurateDrop].collect()
        .map(d => d.doc_id -> d.stage).toMap
      assert(fin == Map(
        9L -> "dup", 2000007L -> "dup", 2000021L -> "dup",
        14L -> "quality", 2000014L -> "quality",
        1L -> "domain_cap", 2L -> "domain_cap", 3L -> "domain_cap",
        15L -> "domain_cap"),
        s"unexpected final drop set: $fin")
      // state pin: the two stateful stages hold in-horizon digests and
      // domain counters only — bounded by live docs, not delivered volume
      assertStateBound(q, 32L, "curate-pipeline")
      q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming hop window: closed windows equal the batch q_hop_window") {
    // TENTH batch↔stream parity pair: the sliding-window aggregate replayed
    // through the stream reproduces the oracle-gated batch rows exactly
    // (incl. the decimal-summed avg double), because append mode finalizes
    // each window once the watermark passes its end.
    val batch = operators.Temporal.qHopWindow.fn(spark, sf()).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("win_start").getTime,
        r.getAs[String]("event_type"), r.getAs[Long]("cnt"),
        r.getAs[Double]("avg_v"))).toSet
    assert(batch.nonEmpty, "degenerate: no batch windows at sf0.001")

    val evts = Tables.events(spark, sf())
      .select("ts", "event_type", "value").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[String]("event_type"), r.getAs[Double]("value")))
      .sortBy(_._1.getTime)
    val maxTs = evts.map(_._1.getTime).max

    val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val q = StreamHopWindow.hopAgg(
        input.toDF().toDF("ts", "event_type", "value"), watermark = "1 second")
      .writeStream.outputMode("append").format("memory")
      .queryName("hopstream").start()
    // uneven chunks: windows must accumulate across micro-batches
    evts.grouped(evts.length / 3 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    // sentinel advances the watermark past every open window's end (+1h
    // window + 1s delay), closing and emitting them; it joins no window
    input.addData((new java.sql.Timestamp(maxTs + 2L * 3600 * 1000), "__wm__", 0.0))
    q.processAllAvailable()
    input.addData((new java.sql.Timestamp(maxTs + 3L * 3600 * 1000), "__wm__", 0.0))
    q.processAllAvailable()
    // state pin: every data window is past the watermark and emitted —
    // only the sentinel's open windows may remain resident
    assertStateBound(q, 8L, "hop-window")
    q.stop()

    val streamed = spark.table("hopstream")
      .where(col("event_type") =!= "__wm__").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("win_start").getTime,
        r.getAs[String]("event_type"), r.getAs[Long]("cnt"),
        r.getAs[Double]("avg_v"))).toSet
    assert(streamed == batch,
      s"stream/batch mismatch: only-stream=${(streamed -- batch).take(3)} " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("hop window update mode: late data within the watermark revises exactly its windows; past it, dropped") {
    // The R14-metric lateness face the append-mode parity pair can't show:
    // update mode re-emits a (window, type) row each batch its aggregate
    // changes, so an out-of-order event inside the watermark allowance must
    // revise EXACTLY the 4 hop windows containing it, and an event whose
    // windows are all past the watermark must revise nothing.
    type R = (Long, String, Long, Double)
    def rows(): Seq[R] = spark.table("hoplate").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("win_start").getTime,
        r.getAs[String]("event_type"), r.getAs[Long]("cnt"),
        r.getAs[Double]("avg_v"))).toSeq
    // update-mode memory sink only appends; a batch's emission is the
    // multiset difference against the previous snapshot
    def delta(before: Seq[R], after: Seq[R]): Seq[R] = {
      val b = scala.collection.mutable.Map.empty[R, Int].withDefaultValue(0)
      before.foreach(r => b(r) += 1)
      after.filter { r => if (b(r) > 0) { b(r) -= 1; false } else true }
    }

    val t0 = 500L * 3600 // exact hour, 15-min-aligned
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    def winMs(startSec: Long) = startSec * 1000

    val input = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val q = StreamHopWindow.hopAgg(
        input.toDF().toDF("ts", "event_type", "value"), watermark = "30 seconds")
      .writeStream.outputMode("update").format("memory")
      .queryName("hoplate").start()

    // batch 1: two in-order clicks 20 min apart
    input.addData((ts(t0), "click", 10.0), (ts(t0 + 1200), "click", 20.0))
    q.processAllAvailable()
    val s1 = rows()
    assert(delta(Nil, s1).toSet == Set(
      (winMs(t0 - 2700), "click", 1L, 10.0), // e1 only
      (winMs(t0 - 1800), "click", 2L, 15.0), // e1 + e2
      (winMs(t0 - 900), "click", 2L, 15.0),
      (winMs(t0), "click", 2L, 15.0),
      (winMs(t0 + 900), "click", 1L, 20.0)), // e2 only
      s"batch-1 emission wrong: ${s1.sorted}")

    // batch 2: OUT-OF-ORDER click 15 s behind the max event time — its 4
    // windows are open (ends above the t0+1170 watermark), so all 4 revise
    input.addData((ts(t0 + 1185), "click", 30.0))
    q.processAllAvailable()
    val s2 = rows()
    assert(delta(s1, s2).toSet == Set(
      (winMs(t0 - 1800), "click", 3L, 20.0),
      (winMs(t0 - 900), "click", 3L, 20.0),
      (winMs(t0), "click", 3L, 20.0),
      (winMs(t0 + 900), "click", 2L, 25.0)),
      s"late-within-delay revision wrong: ${delta(s1, s2).sorted}")
    // the never-revised window keeps its original row and gains no new one
    assert(s2.count(_._1 == winMs(t0 - 2700)) == 1)

    // batch 3: sentinel 2.5 h ahead advances the watermark to t0+8970,
    // closing every window that could contain the batch-2 region
    input.addData((ts(t0 + 9000), "__wm__", 0.0))
    q.processAllAvailable()
    val s3 = rows()
    assert(delta(s2, s3).forall(_._2 == "__wm__"),
      s"sentinel batch must only emit its own windows: ${delta(s2, s3)}")

    // batch 4: a click at t0+21min — newer than the batch-2 event, but ALL
    // its windows ended by t0+4500 < watermark t0+8970 → dropped, zero rows
    input.addData((ts(t0 + 1260), "click", 40.0))
    q.processAllAvailable()
    val s4 = rows()
    assert(delta(s3, s4).isEmpty,
      s"event past the watermark must revise nothing: ${delta(s3, s4)}")
    q.stop()

    // the emitted updates land on the batch truth for the click windows:
    // per key the newest row is the max-cnt one (counts only grow), which
    // sidesteps any memory-sink collect-order assumption
    val finalState = s4.filter(_._2 == "click").groupBy(_._1)
      .map { case (w, rs) => val r = rs.maxBy(_._3); w -> ((r._3, r._4)) }
    assert(finalState == Map(
      winMs(t0 - 2700) -> ((1L, 10.0)),
      winMs(t0 - 1800) -> ((3L, 20.0)),
      winMs(t0 - 900) -> ((3L, 20.0)),
      winMs(t0) -> ((3L, 20.0)),
      winMs(t0 + 900) -> ((2L, 25.0))),
      s"replayed final state diverged: $finalState")
  }

  test("streaming incremental dedup: decisions equal the batch ingest path; replay is a no-op") {
    import graft.api.{IncrementalDedup, TextDedup}
    val root = Files.createTempDirectory("sid-idx").toString
    val ctrl = Files.createTempDirectory("sid-ctrl").toString
    val out = Files.createTempDirectory("sid-out").toString + "/decisions"
    val ckpt = Files.createTempDirectory("sid-ckpt").toString

    def doc(id: Long, text: String) = DocEvent(id, new java.sql.Timestamp(id * 1000), text)
    val t1 = "the quick brown fox jumps over the lazy dog again and again today"
    val t2 = "completely different content about spark structured streaming state stores"
    val t3 = "unrelated third document with its own words entirely separate tokens"
    val waves = Seq(
      Seq(doc(1, t1), doc(2, t2), doc(3, t3)),
      // wave 2 mixes in a document SHORTER than the shingle width (no
      // fingerprints) and wave 4 is ALL short docs (a zero-band segment):
      // both used to kill the query — schema inference over the empty
      // segment dir threw before the ledger recorded, a permanent
      // replay-crash loop — and short docs got no sink verdict at all
      Seq(doc(10, t1), doc(11, "fresh new content nothing shared here at all whatsoever"),
        doc(12, "too short")),
      Seq(doc(20, t2)),
      Seq(doc(30, "tiny"), doc(31, "two words")))

    val input = MemoryStream[DocEvent](spark)
    val q = StreamIncrDedup.run(spark, input.toDS(), root, out, ckpt)
    waves.foreach { w => input.addData(w: _*); q.processAllAvailable() }
    q.stop()
    assert(StreamIncrDedup.appliedBatches(root) == Set(0L, 1L, 2L, 3L))

    // batch control: the same waves through IncrementalDedup.ingest plus
    // the same doc-set compensation ingestBatch applies (short docs keep)
    def bands(w: Seq[DocEvent]) = TextDedup.minhashBands(
      TextDedup.shingleHashes(w.toDF(), col("doc_id"), col("text"), n = 3))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_prior", "keep").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted
    def ctrlBatch(w: Seq[DocEvent]) = w.toDF().select(col("doc_id")).distinct()
      .join(IncrementalDedup.ingest(spark, ctrl, bands(w)), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        coalesce(col("keep"), lit(true)).as("keep"))
    val want = waves.flatMap(w => rows(ctrlBatch(w)))

    val got = rows(spark.read.parquet(out))
    assert(got == want.sorted, s"streaming decisions diverge from batch: $got vs $want")
    // semantic spot checks: exact copies drop, fresh content keeps, and
    // every short (fingerprint-less) document carries an explicit keep
    val byId = got.map(r => r._1 -> r._3).toMap
    assert(byId(10L) == false && byId(20L) == false, "exact copies must drop")
    assert(byId(3L) && byId(11L), "fresh documents must keep")
    assert(byId(12L) && byId(30L) && byId(31L),
      "fingerprint-less documents must get explicit keep=true verdicts")
    // the all-short wave's empty segment never joins the live list
    assert(IncrementalDedup.segments(root).size == 3,
      s"zero-band segment leaked into the live list: ${IncrementalDedup.segments(root)}")
    // state pin: the live index holds exactly the union of ingested band
    // rows — O(Δ) accumulation per wave, no duplication, no history rescan
    val wantIdxRows = waves.map(w => bands(w).count()).sum
    assert(IncrementalDedup.index(spark, root).get.count() == wantIdxRows,
      "index rows must equal the union of ingested band rows")

    // ledger idempotence: re-delivering a completed batch appends nothing
    val segsBefore = IncrementalDedup.segments(root)
    val outCount = spark.read.parquet(out).count()
    StreamIncrDedup.ingestBatch(spark, root, out,
      spark.createDataset(waves(1)), batchId = 1L)
    assert(IncrementalDedup.segments(root) == segsBefore, "replay appended a segment")
    assert(spark.read.parquet(out).count() == outCount, "replay re-emitted decisions")

    // crash-window double-append (pointer advanced, ledger lost): the
    // duplicate fingerprints are invisible to the strict x.id < y.id match
    // and the distinct census — decisions replay IDENTICAL, index merely
    // bloats until compaction. distinctCensus = true is the streaming
    // ingest's own setting (StreamIncrDedup.ingestBatch) — the invariant
    // being pinned is specifically the distinct-census one.
    val replayed = rows(IncrementalDedup.ingest(spark, root, bands(waves(2)),
      distinctCensus = true))
    assert(replayed == rows(spark.read.parquet(out).where(col("batch_id") === 2)),
      "double-append changed a decision")
  }

  test("streaming incremental dedup: restart from checkpoint continues, index and decisions complete") {
    import graft.api.IncrementalDedup
    val root = Files.createTempDirectory("sid-rst-idx").toString
    val out = Files.createTempDirectory("sid-rst-out").toString + "/decisions"
    val ckpt = Files.createTempDirectory("sid-rst-ckpt").toString

    def doc(id: Long, text: String) = DocEvent(id, new java.sql.Timestamp(id * 1000), text)
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val input = MemoryStream[DocEvent](spark)
    def start() = StreamIncrDedup.run(spark, input.toDS(), root, out, ckpt)

    // run 1: two waves commit, then the query dies
    val q1 = start()
    input.addData(doc(1, t1), doc(2, "one two three four five six seven"))
    q1.processAllAvailable()
    input.addData(doc(10, t1)) // exact copy — must drop
    q1.processAllAvailable()
    q1.stop()

    // run 2 from the same checkpoint: a new wave arrives, nothing replays
    val q2 = start()
    input.addData(doc(20, t1), doc(21, "eight nine ten eleven twelve thirteen fourteen"))
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toSeq.sorted
    // exactly one decision per document across both runs — no loss, no dupes
    assert(got == Seq(1L -> true, 2L -> true, 10L -> false, 20L -> false, 21L -> true).sorted,
      s"decisions after restart: $got")
    assert(StreamIncrDedup.appliedBatches(root) == Set(0L, 1L, 2L))
    assert(IncrementalDedup.segments(root).size == 3, "one segment per committed batch")
  }

  test("streaming incremental dedup: auto-compaction keeps a long feed bounded, decisions unchanged") {
    // Round 19 (VERDICT r18 #2): the THIRD maintained lifecycle gets the
    // deployed size-trigger policy — autoCompactAt on StreamIncrDedup
    // folds the band index whenever the live segment count exceeds the
    // threshold, mid-stream, with every keep/drop decision identical to
    // an uncompacted control feed (compaction is layout-only).
    import graft.api.{IncrementalDedup, TextDedup}
    val root = Files.createTempDirectory("sid-auto-idx").toString
    val ctrl = Files.createTempDirectory("sid-auto-ctrl").toString
    val out = Files.createTempDirectory("sid-auto-out").toString + "/decisions"
    val ckpt = Files.createTempDirectory("sid-auto-ckpt").toString

    def doc(id: Long, text: String) = DocEvent(id, new java.sql.Timestamp(id * 1000), text)
    val texts = (0 until 8).map(i =>
      s"document number $i speaks about subject $i with vocabulary item$i " +
        s"token${i}a token${i}b token${i}c shared tail of common words")
    // wave i: one fresh document + one exact copy of wave max(0, i-2)'s
    // document — so drops keep happening across the compaction boundary
    val waves = (0 until 8).map { i =>
      val fresh = doc(i * 10L, texts(i))
      if (i < 2) Seq(fresh)
      else Seq(fresh, doc(i * 10L + 1, texts(i - 2)))
    }

    val input = MemoryStream[DocEvent](spark)
    val q = StreamIncrDedup.run(spark, input.toDS(), root, out, ckpt,
      autoCompactAt = 3)
    waves.foreach { w =>
      input.addData(w: _*); q.processAllAvailable()
      val live = IncrementalDedup.segments(root)
      assert(live.size <= 3, s"auto-compaction left ${live.size} live segments: $live")
    }
    q.stop()
    // the feed ran long enough that at least one compaction actually fired
    assert(IncrementalDedup.segments(root).exists(_ != "seg00000") &&
      IncrementalDedup.segments(root).size < 8,
      s"expected a fold, got ${IncrementalDedup.segments(root)}")

    // parity: the same waves through the batch ingest path on an
    // UNCOMPACTED control root give identical decisions
    def bands(w: Seq[DocEvent]) = TextDedup.minhashBands(
      TextDedup.shingleHashes(w.toDF(), col("doc_id"), col("text"), n = 3))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "n_prior", "keep").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq.sorted
    val want = waves.flatMap(w => rows(
      IncrementalDedup.ingest(spark, ctrl, bands(w), distinctCensus = true)))
    val got = rows(spark.read.parquet(out))
    assert(got == want.sorted,
      s"auto-compacted decisions diverge from the uncompacted control: $got vs $want")
    // and the drops are the expected exact copies
    val byId = got.map(r => r._1 -> r._3).toMap
    (2 until 8).foreach(i => assert(byId(i * 10L + 1) == false,
      s"copy in wave $i must drop across compaction boundaries"))
    assert((0 until 8).forall(i => byId(i * 10L)), "fresh docs must keep")
  }

  test("stream-stream range join: replayed pairs reproduce the batch q_range_join") {
    // ELEVENTH batch↔stream parity pair, and the first stream-stream join:
    // the watermarked interval self-join emits (error, prior-activity)
    // pairs in append mode; folding them to per-error counts reproduces
    // the oracle-gated batch rows exactly.
    val batch = operators.Temporal.qRangeJoin.fn(spark, sf()).collect()
      .map(r => r.getAs[Long]("eid") -> r.getAs[Long]("n_prior")).toMap
    assert(batch.nonEmpty, "degenerate: no range-join rows at sf0.001")

    val evts: Array[(Long, java.sql.Timestamp, Long, String)] =
      Tables.events(spark, sf())
      .select("event_id", "ts", "user_id", "event_type").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[java.sql.Timestamp]("ts"),
        r.getAs[Long]("user_id"), r.getAs[String]("event_type")))
      .sortBy(_._2.getTime)
    val maxTs = evts.map(_._2.getTime).max

    val input = MemoryStream[(Long, java.sql.Timestamp, Long, String)](spark)
    val q = StreamRangeJoin.pairs(
        input.toDF().toDF("event_id", "ts", "user_id", "event_type"))
      .writeStream.outputMode("append").format("memory")
      .queryName("rangejoin").start()
    // uneven chunks: pairs must match across micro-batch boundaries (an
    // error in chunk 3 joining activity buffered since chunk 1)
    evts.grouped(evts.length / 3 + 1).foreach { chunk =>
      input.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    // advance BOTH side watermarks past every buffered row's join bound:
    // sentinels must pass the per-side type filters (doc'd caveat), so one
    // 'error' and one 'click' on reserved negative user ids 2h ahead —
    // far outside any real row's 1h window, and they can't pair with each
    // other (distinct users)
    input.addData(
      (-1L, new java.sql.Timestamp(maxTs + 2L * 3600 * 1000), -1L, "error"),
      (-2L, new java.sql.Timestamp(maxTs + 2L * 3600 * 1000), -2L, "click"))
    q.processAllAvailable()
    input.addData(
      (-3L, new java.sql.Timestamp(maxTs + 3L * 3600 * 1000), -1L, "error"),
      (-4L, new java.sql.Timestamp(maxTs + 3L * 3600 * 1000), -2L, "click"))
    q.processAllAvailable()
    // state pin: join state retains only rows within window+delay of the
    // watermark — the advanced watermark must have evicted the data rows,
    // leaving (at most) the late sentinels
    assertStateBound(q, 8L, "range-join")
    q.stop()

    val pairs = spark.table("rangejoin").collect()
      .map(r => r.getAs[Long]("eid") -> r.getAs[Long]("aid"))
      .filter(_._1 >= 0)
    // append-mode join rows are final: no pair may be emitted twice
    assert(pairs.length == pairs.distinct.length,
      s"duplicate pairs emitted: ${pairs.diff(pairs.distinct).take(3)}")
    val streamed = pairs.groupBy(_._1).map { case (e, ps) => e -> ps.length.toLong }
    assert(streamed == batch,
      s"stream/batch mismatch: only-stream=${(streamed.toSet -- batch.toSet).take(3)} " +
        s"only-batch=${(batch.toSet -- streamed.toSet).take(3)}")
  }

  test("state-store auto-sizing: the measured rule, clamped both ways") {
    import graft.streaming.StatefulOps
    // the 8-store floor wins at both measured extremes (7 live rows and
    // 700k live keys — r14/r15 sweeps); stores grow only past 50k changed
    // rows/store/batch, capped at the available parallelism
    assert(StatefulOps.statePartitionsFor(0L) == 8)
    assert(StatefulOps.statePartitionsFor(7L) == 8)
    assert(StatefulOps.statePartitionsFor(100000L) == 8)   // r14 default trigger
    assert(StatefulOps.statePartitionsFor(300000L) == 8)   // r15 6M/20 sweep trigger
    assert(StatefulOps.statePartitionsFor(400001L) == 9)   // first step past the floor
    assert(StatefulOps.statePartitionsFor(2000000L) == 32) // cap at parallelism
    assert(StatefulOps.statePartitionsFor(2000000L, maxParallelism = 64) == 40)
    assert(StatefulOps.statePartitionsFor(-5L) == 8)       // defensive
  }
}
