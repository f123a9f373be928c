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
  * write-new-directory-then-repoint through the shared
  * [[graft.api.StateManifest]] (version pointer + batch ledger + schema
  * fingerprint in one atomic commit), giving readers an atomic view
  * without a table format; on a real deployment this slot is filled by
  * Delta/Iceberg `MERGE`.
  */
object IncrementalAgg {

  private def stateDir(root: String): java.nio.file.Path =
    java.nio.file.Paths.get(root)

  private def currentPath(root: String): Option[String] =
    graft.api.StateManifest.current(root).flatMap(_.segments.headOption)

  /** The stored partials for `root`, or None before the first batch. */
  def state(spark: SparkSession, root: String): Option[DataFrame] =
    currentPath(root).map(v => spark.read.parquet(s"$root/$v"))

  /** Read-time view: finals derived from the stored partials. */
  def view(spark: SparkSession, root: String): Option[DataFrame] =
    state(spark, root).map(_.groupBy("grp")
      .agg(sum("p_sum").as("s"), sum("p_cnt").as("c"))
      .select(col("grp"),
        round(col("s").cast("double"), 2).as("sum_v"),
        col("c").as("cnt"),
        round(col("s").cast("double") / col("c"), 4).as("avg_v")))

  private def lastApplied(root: String): Long =
    graft.api.StateManifest.current(root).map(_.lastBatch).getOrElse(-1L)

  /** Time-travel read: the stored partials as of manifest commit
    * `version`. Valid while that version's data directory is retained —
    * the GC keeps the current AND the previous data version, so replay
    * tests can always read one commit back. */
  def stateAt(spark: SparkSession, root: String, version: Long): Option[DataFrame] =
    graft.api.StateManifest.at(root, version)
      .flatMap(_.segments.headOption)
      .filter(v => java.nio.file.Files.isDirectory(stateDir(root).resolve(v)))
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
    * same batchId-idempotent ledger, write-new-then-repoint atomic swap,
    * and O(1)-version GC. `partialsOf` reduces one micro-batch to its
    * partials; `merge` folds them into the stored state. */
  private[graft] def applyVersioned(batch: DataFrame, batchId: Long, root: String)
      (partialsOf: DataFrame => DataFrame,
       merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    java.nio.file.Files.createDirectories(stateDir(root))
    if (batchId <= lastApplied(root)) return // replay of an applied batch
    val spark = batch.sparkSession
    val partials = partialsOf(batch)
    val merged = state(spark, root) match {
      case Some(prev) => merge(prev, partials)
      case None => partials
    }
    val prevVersion = currentPath(root)
    val version = s"v$batchId"
    merged.write.mode("overwrite").parquet(s"$root/$version")
    // order matters: data first, then ONE manifest commit carrying the
    // version pointer, the batch ledger, and the schema fingerprint — a
    // crash before the commit replays the batch against the OLD manifest
    // (no partial state is ever visible); there is no window
    // where the pointer has advanced but the ledger has not.
    val fp = graft.api.StateManifest.schemaFingerprint(merged.schema)
    graft.api.StateManifest.current(root).map(_.schemaFp)
      .filter(f => f.nonEmpty && f != fp).foreach { f =>
        throw new IllegalStateException(
          s"state schema drift at $root: manifest=$f batch=$fp")
      }
    graft.api.StateManifest.commit(root, Seq(version), batchId, fp)
    // GC: keep the CURRENT and PREVIOUS data versions (one commit of
    // time travel for replay tests), delete older ones, and prune the
    // manifest history to the SAME two-version window — a wider manifest
    // window would retain history files whose data dirs are already gone
    // (stateAt answers None for them anyway, misleading versions() readers)
    graft.api.StateManifest.pruneHistory(root, keep = 2)
    val retain = Set(version) ++ prevVersion
    Option(stateDir(root).toFile.list()).getOrElse(Array.empty[String])
      .filter(n => n.startsWith("v") && !retain.contains(n))
      .foreach(v => graft.api.AtomicFiles.rmTree(stateDir(root).resolve(v)))
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
