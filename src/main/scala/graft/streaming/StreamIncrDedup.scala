package graft.streaming

import graft.api.{IncrementalDedup, StateManifest, TextDedup}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
  * SAME batchId. The index manifest's batch ledger is the one record of
  * an applied batch: the decisions are written inside the ingest, before
  * the one commit that appends the batch's segment and records its id.
  * A re-delivered committed batch is skipped; a batch that crashed before
  * its commit left only an orphan segment and a decisions directory its
  * replay overwrites (batch-keyed, below), so neither the index nor the
  * sink ever holds a batch twice.
  */
object StreamIncrDedup {

  /** One micro-batch transaction: fingerprint → ingest, whose commit
    * follows the decisions write (forcing their evaluation against the
    * pre-append index) and records `batchId` in the ledger. Re-delivery of
    * a batch the ledger covers is a no-op. Public so the spec can replay
    * batch ids without driving a real restart.
    *
    * Decisions land in a batch-keyed subdirectory (`batch_id=<id>/`) with
    * OVERWRITE mode: the replay of an uncommitted batch overwrites exactly
    * its own partition. Readers get `batch_id` back as a partition
    * column. */
  def ingestBatch(spark: SparkSession, root: String, outDir: String,
      batch: Dataset[DocEvent], batchId: Long, maxBucket: Int = 10000,
      autoCompactAt: Int = 0): Unit = {
    if (StateManifest.current(root).exists(_.lastBatch >= batchId)) return
    // ingest's decisions cover only documents that produced fingerprints
    // (its coverage contract); a document shorter than the shingle width
    // has nothing to collide on and trivially keeps. The sink must carry
    // a verdict for EVERY document of the batch, so compensate here —
    // this layer owns the document set.
    def writeDecisions(decisions: DataFrame): Unit =
      batch.toDF().select(col("doc_id")).distinct()
        .join(decisions, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_prior"), lit(0L)).as("n_prior"),
          coalesce(col("keep"), lit(true)).as("keep"))
        .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    val hashes = TextDedup.shingleHashes(batch.toDF(), col("doc_id"), col("text"), n = 3)
    IncrementalDedup.ingest(spark, root, TextDedup.minhashBands(hashes), maxBucket,
      batchId = Some(batchId), onDecisions = writeDecisions)
    // auto-maintenance AFTER the commit: this batch's decisions are
    // already materialized, so the (deferred-reap) maybeCompact can never
    // pull a directory out from under them. Size-triggered so a feed of
    // any length keeps pruned reads O(touched buckets) — the policy every
    // segmented state shares (SegmentedState.maybeCompact).
    if (autoCompactAt > 0)
      IncrementalDedup.maybeCompact(spark, root, autoCompactAt)
  }

  /** The continuous pipeline: documents in, decision parquet out, index
    * maintained as a side effect. Checkpointed like any structured
    * stream; on restart the index ledger skips re-delivered batches.
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
