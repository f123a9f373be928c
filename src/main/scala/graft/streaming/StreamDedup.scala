package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** A document arriving on a stream. */
final case class DocEvent(doc_id: Long, event_time: java.sql.Timestamp, text: String)

/** A flagged streaming near-duplicate: `doc_id` matched an earlier
  * document `dup_of` in SimHash band `band` at `hamming` bit distance.
  * A document whose fingerprint collides in several bands emits one row
  * per matching band (≤ `bands` rows); take `min(dup_of)` per doc_id
  * downstream if a single verdict is wanted. */
final case class DupHit(doc_id: Long, dup_of: Long, band: Int, hamming: Int)

/** One banded fingerprint row heading into the stateful operator. */
final case class BandedDoc(
    band: Int, bv: Long, doc_id: Long, f: Long, event_time: java.sql.Timestamp)

private final case class BandEntry(docId: Long, f: Long, tsMs: Long)

/** Incremental near-duplicate detection over an unbounded document stream
  * (the streaming face of [[graft.api.TextDedup]]'s batch SimHash path —
  * an ingest pipeline checks each new document against the accumulated
  * corpus per micro-batch instead of re-running a batch dedup).
  *
  * Shape: fingerprint each document row-wise ([[StreamDedup.simhashOf]],
  * a pure function — no shuffle), explode into `bands` bit-chunk keys,
  * then `transformWithState` keyed by (band, band-value): per-key state
  * is the list of fingerprints whose band chunk hashed here, and a new
  * document emits a [[DupHit]] for the lowest-id stored fingerprint
  * within `maxHamming` bits. Identical banding/Hamming semantics to the
  * batch `TextDedup.simhashPairs` (band collision is a candidate, full
  * 48-bit Hamming is the verdict).
  *
  * Scale shape: state is partitioned by (band, band-value) — the same key
  * the batch band-join shuffles on — so a 1000-executor cluster spreads
  * the corpus fingerprint index evenly (4 × 12-bit bands = 16384 key
  * groups per band). State is bounded by event time: every entry expires
  * `horizonMs` past its event time, enforced by per-key event-time timers
  * (expired entries are also pruned opportunistically on access). A
  * fingerprint is 24 bytes of state — 10⁹ retained documents ≈ 100 GB
  * across the cluster, which is why the backend must be RocksDB
  * ([[StatefulOps.useRocksDbStateStore]]), not heap. */
object StreamDedup {

  /** 48-bit SimHash of one document, bit-for-bit the batch fingerprint
    * (`TextDedup.simhash`): tokens = `split(text, " ")` (empties kept),
    * word hash = first 56 bits of md5 (the engine-portable
    * [[graft.functions.CrossHash.md5Long]]), bit i set iff the
    * occurrence-weighted ±1 sum of token bit i is positive. Pinned against
    * the batch aggregate in StreamingSpec. */
  def simhashOf(text: String, bits: Int = 48): Long = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    text.split(" ", -1).foreach(w => counts.update(w, counts.getOrElse(w, 0L) + 1))
    val sums = new Array[Long](bits)
    counts.foreach { case (w, c) =>
      val h = graft.functions.Md5Long56.hashString(w)
      var i = 0
      while (i < bits) { sums(i) += c * (((h >> i) & 1L) * 2 - 1); i += 1 }
    }
    var f = 0L
    var i = 0
    while (i < bits) { if (sums(i) > 0) f |= 1L << i; i += 1 }
    f
  }

  /** The streaming near-dup pipeline: docs in, [[DupHit]]s out (append).
    *
    * `maxPerKey` is the streaming analog of the batch
    * [[graft.api.BucketCap]]: a degenerate band value (short docs hashing
    * to all-zero fingerprints, a templated boilerplate chunk) would
    * otherwise grow ONE key's list state — and every future lookup
    * against it — without bound. A full key keeps matching (new docs are
    * still checked against the indexed ones) but stops indexing, so its
    * state and per-row cost stay O(maxPerKey). */
  def nearDupStream(
      spark: SparkSession,
      docs: Dataset[DocEvent],
      bands: Int = 4,
      bitsPerBand: Int = 12,
      maxHamming: Int = 8,
      horizonMs: Long = 3600000L,
      watermark: String = "1 minute",
      maxPerKey: Int = 10000): Dataset[DupHit] = {
    import spark.implicits._
    val mask = (1L << bitsPerBand) - 1
    docs
      .flatMap { d =>
        val f = simhashOf(d.text)
        (0 until bands).map(b =>
          BandedDoc(b, (f >> (bitsPerBand * b)) & mask, d.doc_id, f, d.event_time))
      }
      .withWatermark("event_time", watermark)
      .groupByKey(x => (x.band, x.bv))
      .transformWithState(
        new NearDupProcessor(maxHamming, horizonMs, maxPerKey),
        TimeMode.EventTime(), OutputMode.Append())
  }
}

/** Per-(band, band-value) fingerprint index. Input rows process in
  * (event_time, doc_id) order so a within-batch duplicate pair resolves
  * deterministically (the earlier document becomes the original). A
  * redelivered doc_id never matches itself and is not re-indexed. */
private final class NearDupProcessor(maxHamming: Int, horizonMs: Long, maxPerKey: Int)
  extends StatefulProcessor[(Int, Long), BandedDoc, DupHit] {

  @transient private var seen: ListState[BandEntry] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getListState[BandEntry](
      "seen", Encoders.product[BandEntry], TTLConfig.NONE)

  private def live(wmMs: Long): Vector[BandEntry] =
    seen.get().filter(_.tsMs + horizonMs > wmMs).toVector

  override def handleInputRows(key: (Int, Long), rows: Iterator[BandedDoc],
      timers: TimerValues): Iterator[DupHit] = {
    val wm = timers.getCurrentWatermarkInMs()
    var entries = live(wm)
    val out = Vector.newBuilder[DupHit]
    var maxTs = Long.MinValue
    rows.toVector.sortBy(r => (r.event_time.getTime, r.doc_id)).foreach { r =>
      val ts = r.event_time.getTime
      maxTs = math.max(maxTs, ts)
      val hits = entries.filter(e =>
        e.docId != r.doc_id && java.lang.Long.bitCount(e.f ^ r.f) <= maxHamming)
      if (hits.nonEmpty) {
        val orig = hits.minBy(_.docId)
        out += DupHit(r.doc_id, orig.docId, key._1,
          java.lang.Long.bitCount(orig.f ^ r.f))
      }
      if (entries.size < maxPerKey && !entries.exists(_.docId == r.doc_id))
        entries = entries :+ BandEntry(r.doc_id, r.f, ts)
    }
    seen.put(entries.toArray)
    // one timer per batch at the newest entry's expiry: every stored entry
    // has expiry <= some registered timer, so abandoned keys still drain
    if (maxTs != Long.MinValue) getHandle.registerTimer(maxTs + horizonMs)
    out.result().iterator
  }

  override def handleExpiredTimer(key: (Int, Long), timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[DupHit] = {
    val remaining = live(expired.getExpiryTimeInMs())
    if (remaining.isEmpty) seen.clear() else seen.put(remaining.toArray)
    Iterator.empty
  }
}
