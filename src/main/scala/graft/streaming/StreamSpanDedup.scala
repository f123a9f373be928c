package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** One content-defined chunk heading into the stateful operator. */
final case class ChunkEvent(
    dig: String, doc_id: Long, chunk_id: Int, event_time: java.sql.Timestamp)

/** A flagged streaming duplicated span: chunk (`doc_id`, `chunk_id`)
  * has the same content-defined chunk digest as the earlier-seen
  * canonical chunk (`dup_of_doc`, `dup_of_chunk`). */
final case class SpanHit(
    doc_id: Long, chunk_id: Int, dup_of_doc: Long, dup_of_chunk: Int, dig: String)

private final case class CanonEntry(docId: Long, chunkId: Int, tsMs: Long)

/** Streaming face of `q_span_dedup` (suffix-granularity exact substring
  * dedup): each arriving document chunks by CONTENT-DEFINED boundaries
  * ([[StreamSpanDedup.cdcChunksOf]], bit-identical to the batch
  * [[graft.api.Curation.cdcChunk]] — offset-invariant, so a span
  * duplicated at a different offset in a later document still collides),
  * and `transformWithState` keyed by the chunk digest checks each chunk
  * against the earliest-seen canonical holder — the ingest-pipeline shape
  * that flags duplicated spans against the accumulated corpus per
  * micro-batch instead of re-running the batch dedup. The suite's SIXTH
  * batch↔stream parity pair (`StreamingSpec` pins hits ≡ the batch
  * digest-group derivation on identical input).
  *
  * Scale shape: state is ONE 20-byte canonical entry per distinct chunk
  * digest, partitioned by digest (the same key the batch groupBy shuffles
  * on); chunk text never enters state — only its md5. Event-time timers
  * expire canonicals `horizonMs` past their event time, so retained state
  * tracks the dedup horizon, not history (RocksDB backend for corpus-scale
  * key counts, [[StatefulOps.useRocksDbStateStore]]). */
object StreamSpanDedup {

  /** Content-defined chunks of one document, bit-identical to the batch
    * `Curation.cdcChunk`: a boundary falls before token i (i ≥ 1) exactly
    * when `md5Long(w[i]) % p == 0`; chunks shorter than `minToks` drop.
    * Returns (chunk_id, chunk-md5-hex) — the digest matches Spark's
    * `md5(chunk)` column function. */
  def cdcChunksOf(text: String, p: Int = 16, minToks: Int = 8): Seq[(Int, String)] = {
    val w = text.split(" ", -1)
    val bnds = 0 +:
      (1 until w.length)
        .filter(i => graft.functions.Md5Long56.hashString(w(i)) % p == 0) :+ w.length
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until bnds.length - 1).flatMap { j =>
      val (start, end) = (bnds(j), bnds(j + 1))
      if (end - start < minToks) None
      else {
        val chunk = w.slice(start, end).mkString(" ")
        md.reset()
        Some((j, md.digest(chunk.getBytes("UTF-8")).map("%02x".format(_)).mkString))
      }
    }
  }

  /** The streaming span-dedup pipeline: docs in, [[SpanHit]]s out (append). */
  def spanDupStream(
      spark: SparkSession,
      docs: Dataset[DocEvent],
      p: Int = 16,
      minToks: Int = 8,
      horizonMs: Long = 3600000L,
      watermark: String = "1 minute"): Dataset[SpanHit] = {
    import spark.implicits._
    docs
      .flatMap(d => cdcChunksOf(d.text, p, minToks).map { case (cid, dig) =>
        ChunkEvent(dig, d.doc_id, cid, d.event_time)
      })
      .withWatermark("event_time", watermark)
      .groupByKey(_.dig)
      .transformWithState(
        new SpanDedupProcessor(horizonMs), TimeMode.EventTime(), OutputMode.Append())
  }
}

/** Per-digest canonical holder. Rows process in (event_time, doc_id,
  * chunk_id) order, so a within-batch collision resolves deterministically
  * (the earliest chunk becomes canonical and does NOT emit); a redelivered
  * identical (doc, chunk) never flags itself. */
private final class SpanDedupProcessor(horizonMs: Long)
  extends StatefulProcessor[String, ChunkEvent, SpanHit] {

  @transient private var canon: ValueState[CanonEntry] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    canon = getHandle.getValueState[CanonEntry](
      "canon", Encoders.product[CanonEntry], TTLConfig.NONE)

  private def live(wmMs: Long): Option[CanonEntry] =
    (if (canon.exists()) Option(canon.get()) else None)
      .filter(_.tsMs + horizonMs > wmMs)

  override def handleInputRows(key: String, rows: Iterator[ChunkEvent],
      timers: TimerValues): Iterator[SpanHit] = {
    val wm = timers.getCurrentWatermarkInMs()
    var cur = live(wm)
    val out = Vector.newBuilder[SpanHit]
    var maxTs = Long.MinValue
    rows.toVector
      .sortBy(r => (r.event_time.getTime, r.doc_id, r.chunk_id)).foreach { r =>
        val ts = r.event_time.getTime
        maxTs = math.max(maxTs, ts)
        cur match {
          case Some(c) if c.docId == r.doc_id && c.chunkId == r.chunk_id =>
            () // redelivery of the canonical itself: no hit, no state change
          case Some(c) =>
            out += SpanHit(r.doc_id, r.chunk_id, c.docId, c.chunkId, key)
          case None =>
            cur = Some(CanonEntry(r.doc_id, r.chunk_id, ts))
        }
      }
    cur.foreach(c => canon.update(c))
    if (maxTs != Long.MinValue) getHandle.registerTimer(maxTs + horizonMs)
    out.result().iterator
  }

  override def handleExpiredTimer(key: String, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[SpanHit] = {
    if (live(expired.getExpiryTimeInMs()).isEmpty) canon.clear()
    Iterator.empty
  }
}
