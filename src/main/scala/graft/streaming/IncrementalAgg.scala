package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming materialized-view maintenance: a stored partial-aggregate
  * table kept current by merging each micro-batch's partials — the
  * streaming face of `operators.Maintenance.qIncrAgg`, and the production
  * answer to "keep a 100 TB aggregate fresh without rescanning history".
  *
  * State is partials (sum DECIMAL, count), NOT finals, so the per-batch
  * merge is associative and the read-time view derives avg exactly; the
  * decimal sums make the stored state independent of both partition order
  * and batch arrival order — after any prefix of batches the state equals
  * the batch aggregate over exactly the rows delivered so far.
  *
  * Exactly-once: Structured Streaming replays a failed `foreachBatch`
  * with the SAME `batchId`, so the merge records the last applied id and
  * skips re-deliveries (the standard idempotent-sink contract; pinned in
  * `StreamingSpec` by applying one batch twice). The swap is
  * write-new-directory-then-publish through the shared lifecycle
  * ([[graft.api.SegmentedState.publish]]: head + batch ledger + schema
  * fingerprint in one atomic commit), giving readers an atomic view
  * without a table format; on a real deployment this slot is filled by
  * Delta/Iceberg `MERGE`.
  */
object IncrementalAgg {

  /** The stored partials for `root`, or None before the first batch. */
  def state(spark: SparkSession, root: String): Option[DataFrame] =
    graft.api.StateManifest.current(root).flatMap(_.segments.headOption)
      .map(v => spark.read.parquet(s"$root/$v"))

  /** Read-time view: finals derived from the stored partials. */
  def view(spark: SparkSession, root: String): Option[DataFrame] =
    state(spark, root).map(_.groupBy("grp")
      .agg(sum("p_sum").as("s"), sum("p_cnt").as("c"))
      .select(col("grp"),
        round(col("s").cast("double"), 2).as("sum_v"),
        col("c").as("cnt"),
        round(col("s").cast("double") / col("c"), 4).as("avg_v")))

  /** Time-travel read: the stored partials as of manifest commit
    * `version`. Valid while that version's data directory is retained —
    * [[graft.api.SegmentedState.retire]] keeps the current AND the
    * previous data version, so replay tests can always read one commit
    * back. */
  def stateAt(spark: SparkSession, root: String, version: Long): Option[DataFrame] =
    graft.api.StateManifest.at(root, version)
      .flatMap(_.segments.headOption)
      .filter(v => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root, v)))
      .map(v => spark.read.parquet(s"$root/$v"))

  /** Merge one micro-batch (idempotent on `batchId`): partials(batch) ⊎
    * stored partials, written to a fresh versioned directory, then one
    * atomic manifest commit (pointer + ledger together). */
  def applyBatch(batch: DataFrame, batchId: Long, root: String,
      grp: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column): Unit =
    applyVersioned(batch, batchId, root)(
      b => b.groupBy(grp.as("grp"))
        .agg(sum(value.cast("decimal(18,6)")).as("p_sum"), count(lit(1)).as("p_cnt")),
      (prev, partials) => prev.unionByName(partials)
        .groupBy("grp")
        .agg(sum(col("p_sum")).as("p_sum"), sum(col("p_cnt")).as("p_cnt")))

  /** The reusable versioned-merge protocol behind [[applyBatch]]: any
    * associative partial shape (sums/counts, histogram bins, …) gets the
    * same batchId-idempotent ledger, write-new-then-publish atomic swap,
    * and O(1)-version retention. `partialsOf` reduces one micro-batch to
    * its partials; `merge` folds them into the stored state. */
  private[graft] def applyVersioned(batch: DataFrame, batchId: Long, root: String)
      (partialsOf: DataFrame => DataFrame,
       merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    import graft.api.{SegmentedState, StateManifest}
    val base = StateManifest.current(root)
    if (base.exists(_.lastBatch >= batchId)) return // replay of an applied batch
    val partials = partialsOf(batch)
    val merged = state(batch.sparkSession, root) match {
      case Some(prev) => merge(prev, partials)
      case None => partials
    }
    val version = s"v$batchId"
    // order matters: data first, then ONE commit carrying the head, the
    // batch ledger and the schema fingerprint — a crash before the commit
    // replays the batch against the OLD manifest (no partial state is ever
    // visible); there is no window where the head has advanced but the
    // ledger has not.
    val published = SegmentedState.writing(root) {
      merged.write.mode("overwrite").parquet(s"$root/$version")
      SegmentedState.publish(root, base, Some(batchId),
        StateManifest.schemaFingerprint(merged.schema))(_ => Seq(version))
    }
    if (published) SegmentedState.retire(root)
  }

  /** Wire a streaming DataFrame into the maintained aggregate. */
  def maintain(input: DataFrame, root: String, checkpoint: String,
      grp: org.apache.spark.sql.Column, value: org.apache.spark.sql.Column)
      : org.apache.spark.sql.streaming.StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, id: Long) =>
        applyBatch(batch, id, root, grp, value))
      .start()
}
