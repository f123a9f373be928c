package graft.streaming

import graft.api.{IncrementalDedup, TextDedup}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming face of the persisted-index incremental dedup — the twelfth
  * batch↔stream parity pair: each micro-batch of arriving documents is
  * fingerprinted to MinHash bands and ingested against the parquet band
  * index via [[IncrementalDedup.ingest]]; per-document keep/drop
  * decisions land in the sink directory, fingerprints append as a new
  * index segment. StreamingSpec pins the decisions ≡ running the same
  * waves through the batch `q_incr_dedup` path.
  *
  * This is the LAKEHOUSE continuous-dedup pattern — a durable parquet
  * index that survives restarts and is shared with batch jobs —
  * complementing [[StreamDedup]]'s state-store pattern (RocksDB
  * fingerprints with an event-time horizon). Use the state store when
  * the dedup horizon is bounded and latency is tight; use the persisted
  * index when history is unbounded and batch + streaming ingest must
  * agree on one fingerprint store.
  *
  * Exactly-once under replay: a crash re-invokes foreachBatch with the
  * SAME batchId. The `_BATCHES` ledger (same atomic write-then-point
  * discipline as the segment list) makes a completed batch's re-delivery
  * a no-op, and the decisions sink is batch-keyed-overwrite (below), so a
  * replay can never duplicate sink rows either. A crash INSIDE the
  * window — segment pointer advanced, ledger not yet — re-ingests the
  * batch, double-appending its fingerprints. That provably changes NO
  * decision: duplicate (id, band, bv) rows are invisible to the strict
  * `x.id < y.id` match, the `count_distinct(x.id)` prior-count, AND the
  * flood-guard census (which counts distinct ids for exactly this
  * reason — [[graft.api.BucketCap.oversized]] `distinctOn`). The only
  * cost is index bloat, reclaimed by [[IncrementalDedup.compactIndex]]
  * (which drops exact duplicate rows). The spec pins the invariants.
  */
object StreamIncrDedup {

  private def ledgerFile(root: String): java.nio.file.Path =
    java.nio.file.Paths.get(root).resolve("_BATCHES")

  /** Batch ids whose ingest completed (decisions written, segment live). */
  def appliedBatches(root: String): Set[Long] = {
    val p = ledgerFile(root)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.readString(p).linesIterator
        .map(_.trim).filter(_.nonEmpty).map(_.toLong).toSet
    else Set.empty
  }

  private def recordBatch(root: String, batchId: Long): Unit =
    graft.api.AtomicFiles.writePointer(ledgerFile(root),
      (appliedBatches(root) + batchId).toSeq.sorted.mkString("\n"))

  /** One micro-batch transaction: fingerprint → ingest → write decisions
    * (forcing their evaluation against the pre-append index) → ledger.
    * Re-delivery of a recorded batchId is a no-op. Public so the spec can
    * replay batch ids without driving a real restart.
    *
    * Decisions land in a batch-keyed subdirectory (`batch_id=<id>/`) with
    * OVERWRITE mode — the StreamJoinView discipline: a replay that slipped
    * past the ledger (crash after the decisions write, before the ledger
    * record) overwrites exactly its own partition, so the sink can never
    * hold two copies of a batch's rows. Readers get `batch_id` back as a
    * partition column. */
  def ingestBatch(spark: SparkSession, root: String, outDir: String,
      batch: Dataset[DocEvent], batchId: Long, maxBucket: Int = 10000,
      autoCompactAt: Int = 0): Unit = {
    if (appliedBatches(root).contains(batchId)) return
    val hashes = TextDedup.shingleHashes(batch.toDF(), col("doc_id"), col("text"), n = 3)
    val decisions = IncrementalDedup.ingest(spark, root,
      TextDedup.minhashBands(hashes), maxBucket, distinctCensus = true)
    // ingest's decisions cover only documents that produced fingerprints
    // (its coverage contract); a document shorter than the shingle width
    // has nothing to collide on and trivially keeps. The sink must carry
    // a verdict for EVERY document of the batch, so compensate here —
    // this layer owns the document set.
    val full = batch.toDF().select(col("doc_id")).distinct()
      .join(decisions, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        coalesce(col("keep"), lit(true)).as("keep"))
    full.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    recordBatch(root, batchId)
    // auto-maintenance AFTER the ledger record: this batch's decisions
    // are already materialized, so the (deferred-reap) maybeCompact can
    // never pull a directory out from under them. Size-triggered so a
    // feed of any length keeps pruned reads O(touched buckets) — the
    // policy every segmented state shares (SegmentedState.maybeCompact).
    if (autoCompactAt > 0)
      IncrementalDedup.maybeCompact(spark, root, autoCompactAt)
  }

  /** The continuous pipeline: documents in, decision parquet out, index
    * maintained as a side effect. Checkpointed like any structured
    * stream; on restart the ledger skips re-delivered batches.
    * `autoCompactAt` > 0 folds the band index back to one segment
    * whenever the live count exceeds the threshold (decisions unchanged
    * — compaction is layout-only; StreamingSpec pins a long feed staying
    * bounded with keep/drop parity intact). */
  def run(spark: SparkSession, docs: Dataset[DocEvent], root: String,
      outDir: String, checkpointDir: String,
      autoCompactAt: Int = 0): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[DocEvent], batchId: Long) =>
        ingestBatch(batch.sparkSession, root, outDir, batch, batchId,
          autoCompactAt = autoCompactAt)
      }
      .start()
}
