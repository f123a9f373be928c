package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental maintenance for Aggregate-over-JOIN materialized views —
  * the WRITE path of [[MaterializedView]] join definitions:
  * [[graft.api.IncrementalJoin]] owns the delta rule for the join,
  * [[graft.streaming.IncrementalAgg]] owns the partial-merge protocol for
  * the aggregate; this composes them so a star-join view advances at
  * O(Δ ⋈ history) per step instead of a full `refresh` from base.
  *
  * Per applied batch (ΔA, ΔB):
  *
  * {{{  ΔJ      = ΔA ⋈ B_acc  ∪  A_acc ⋈ ΔB  ∪  ΔA ⋈ ΔB
  *      state' = merge(state, partialsOf(ΔJ))                      }}}
  *
  * so after any prefix of batches the stored partials equal the
  * definition evaluated over exactly the rows ingested so far
  * (MaintenanceSpec pins this after EVERY step under 1/2/3-way
  * batchings) — the join rows themselves never materialize beyond the
  * delta terms, and nothing ever joins A_full ⋈ B_full after bootstrap.
  *
  * The history is a [[SegmentedState]] root: this object owns only the
  * naming, the per-side fold and the readers; the live list, the ledgered
  * append commit, the compaction commit, vacuum and size-triggered
  * compaction are the shared lifecycle. Names under `root`:
  *
  *   - `a/b<id>/`, `b/b<id>/` — each side's delta, written once per
  *     applied batch. The accumulated side reads the UNION of the
  *     manifest's live segment list for that side (a crashed batch's
  *     orphan delta directory is never listed), so accumulation is an
  *     O(Δ) append, never a rewrite.
  *   - `a/c<id>/`, `b/c<id>/` — a COMPACTED history segment
  *     ([[compactHistory]]): all live segments of one side merged into a
  *     single layout Hive-partitioned by `__bkt = pmod(hash(join key),
  *     buckets)`. Without it a batch-per-hour view accumulates one
  *     directory per batch and every step's cross terms pay O(#batches)
  *     listings/opens; compacted, the history side is ONE key-clustered
  *     layout again.
  *   - `v<id>/` — the merged view partials (group-sized, the only
  *     O(|state|) write per step).
  *
  * The manifest's segment list is `viewVersion +: side segments` — one
  * atomic CAS covers the view pointer AND both sides' live history, so
  * a reader never sees a compaction half-applied. The view version sits
  * outside the lifecycle's tracked list: [[applyBatch]] retires old
  * versions itself.
  *
  * Exactly-once: a replay of an applied `batchId` is a no-op (ledger
  * check), and a replay of a CRASHED batch overwrites its own delta and
  * version directories before the commit — the same idempotent-sink
  * contract as [[graft.streaming.IncrementalAgg.applyVersioned]].
  *
  * Scale shape (100 TB): the two cross terms are delta-against-history
  * joins — the delta side is small by definition, so the planner
  * broadcasts it and HISTORY NEVER SHUFFLES; ΔA ⋈ ΔB is delta-sized; the
  * partials merge touches group-sized state only. A day's ingest
  * therefore costs O(Δ ⋈ history) + O(groups), while the `refresh` path
  * it replaces rescans both full bases and rebuilds the join. Run
  * [[compactHistory]] on the maintenance cadence (e.g. nightly) so the
  * history read stays O(1) directories and the key-clustered `__bkt`
  * layout bounds per-bucket file counts no matter how many batches
  * preceded (JoinMvBench prices the per-step cost before/after).
  */
object IncrementalJoinAgg {

  private val Sides = Seq("a", "b")

  private object Kind extends SegmentedState.Kind {
    override def tracked(m: Manifest): Seq[String] = m.segments.drop(1)
    def onDisk(root: String): Seq[String] =
      Sides.flatMap(s => SegmentedState.children(s"$root/$s").map(n => s"$s/$n"))
    def batchOf(name: String): Option[Long] = histId(name)
    override def depth(live: Seq[String]): Int =
      Sides.map(s => live.count(_.startsWith(s"$s/"))).max
  }

  /** The stored view partials, or None before the first applied batch. */
  def state(spark: SparkSession, root: String): Option[DataFrame] =
    StateManifest.current(root).flatMap(_.segments.headOption)
      .map(v => spark.read.parquet(s"$root/$v"))

  /** One side's live history segments (manifest tail entries `side/...`). */
  private[graft] def liveSegments(root: String, side: String): Seq[String] =
    SegmentedState.live(Kind, root).filter(_.startsWith(s"$side/"))

  /** One side's accumulated committed history: the union of its live
    * segments (delta dirs + at most one compacted layout; the `__bkt`
    * partition column of a compacted segment is layout-only and dropped). */
  private def accumulated(spark: SparkSession, root: String,
      side: String): Option[DataFrame] = {
    val segs = liveSegments(root, side)
    if (segs.isEmpty) None
    else Some(segs.map(sg => spark.read.parquet(s"$root/$sg").drop("__bkt"))
      .reduce(_ unionByName _))
  }

  /** Apply one aligned delta pair (idempotent on `batchId`; use an empty
    * frame for a quiet side). `join` must be the view's own INNER
    * equi-join, applied verbatim to each delta term; `partialsOf` reduces
    * join rows to the stored partial-aggregate shape; `merge` folds new
    * partials into the stored state and must keep the state schema STABLE
    * (cast widening sums back — the manifest's fingerprint gate refuses a
    * drifting layout, same as [[graft.streaming.IncrementalAgg]]). */
  def applyBatch(dA: DataFrame, dB: DataFrame, batchId: Long, root: String)(
      join: (DataFrame, DataFrame) => DataFrame,
      partialsOf: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): Unit =
      SegmentedState.writing(root) {
    val base = StateManifest.current(root)
    if (!base.exists(_.lastBatch >= batchId)) {
      val spark = dA.sparkSession
      // accumulators resolve from the manifest BEFORE this batch's
      // directories land, so a crash-replay sees the same frames
      val aPrev = accumulated(spark, root, "a")
      val bPrev = accumulated(spark, root, "b")
      dA.write.mode("overwrite").parquet(s"$root/a/b$batchId")
      dB.write.mode("overwrite").parquet(s"$root/b/b$batchId")
      val deltaJ = deltaRule(spark, root, batchId, aPrev, bPrev, join)
      val partials = partialsOf(deltaJ)
      val merged = state(spark, root) match {
        case Some(prev) => merge(prev, partials)
        case None => partials
      }
      val prevVersion = base.flatMap(_.segments.headOption)
      val version = s"v$batchId"
      merged.write.mode("overwrite").parquet(s"$root/$version")
      // data first — deltas AND view version — then the one atomic commit;
      // a crash anywhere before it replays the batch against the old
      // manifest and no partial state is ever visible. The committed list
      // carries both sides' live history so a reader never needs to trust
      // a directory listing (crash orphans stay invisible).
      val published = SegmentedState.publish(root, base, Some(batchId),
          StateManifest.schemaFingerprint(merged.schema)) { live =>
        version +: Sides.flatMap { s =>
          val prev = live.drop(1).filter(_.startsWith(s"$s/"))
          val mine = s"$s/b$batchId"
          if (prev.contains(mine)) prev else prev :+ mine
        }
      }
      if (published) {
        StateManifest.pruneHistory(root, keep = 2)
        // GC view versions like IncrementalAgg (current + previous = one
        // commit of time travel); delta directories are the accumulated
        // history itself and are retained — they ARE the view's base
        val retain = Set(version) ++ prevVersion
        SegmentedState.children(root)
          .filter(n => n.startsWith("v") && !retain.contains(n))
          .foreach(v => AtomicFiles.rmTree(java.nio.file.Paths.get(root).resolve(v)))
      }
    }
  }

  /** The per-step delta rule `ΔA ⋈ B_acc ∪ A_acc ⋈ ΔB ∪ ΔA ⋈ ΔB`, with
    * the DELTA side of each cross term PINNED as the broadcast build side
    * whenever its just-written directory fits the session broadcast
    * budget.
    *
    * Why pinning, not stats: left to size estimates the planner builds on
    * whichever relation is smaller TODAY — measured on the JoinMvBench
    * shape, that is the HISTORY side (customer history < one orders
    * delta early in the feed), i.e. the plan re-broadcasts an
    * accumulating relation every step and, once history outgrows the
    * broadcast threshold on BOTH sides, flips to a sort-merge join that
    * SHUFFLES THE ENTIRE HISTORY per step — the exact O(|history|)
    * per-step cost this module exists to avoid. The delta is the side
    * with a size CONTRACT (small per step, by definition); pinning it as
    * the build side makes "history never moves — no shuffle, no
    * broadcast" a plan property at every scale, not a stats accident
    * (MaintenanceSpec plan-gates it). An oversized delta (bootstrap
    * replays, threshold 0) falls back to the planner's choice.
    *
    * Re-reading the just-written deltas from parquet also keeps per-step
    * lineage flat without checkpointing; resolution of the accumulators
    * happened BEFORE this batch's directories landed (ledger filter), so
    * a crash-replay sees the same frames. */
  private def deltaRule(spark: SparkSession, root: String, batchId: Long,
      aPrev: Option[DataFrame], bPrev: Option[DataFrame],
      join: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val budget = spark.sessionState.conf.autoBroadcastJoinThreshold
    // autoBroadcastJoinThreshold budgets the IN-MEMORY relation; parquet
    // bytes under-count it by the compression + encoding ratio (commonly
    // 2-4x). Compare at a 4x inflation so a delta near the
    // threshold can't force-broadcast at a multiple of the intended
    // budget — an over-sized delta falls back to the planner's choice.
    def pin(df: DataFrame, dir: String): DataFrame =
      if (budget > 0 && AnnIndex.totalBytes(dir) * 4 <= budget) broadcast(df)
      else df
    val dAr = spark.read.parquet(s"$root/a/b$batchId")
    val dBr = spark.read.parquet(s"$root/b/b$batchId")
    Seq(
      bPrev.map(b => join(pin(dAr, s"$root/a/b$batchId"), b)), // ΔA ⋈ B_acc
      aPrev.map(a => join(a, pin(dBr, s"$root/b/b$batchId"))), // A_acc ⋈ ΔB
      Some(join(dAr, dBr))                                     // ΔA ⋈ ΔB
    ).flatten.reduce(_ unionByName _)
  }

  /** [[deltaRule]] over already-written delta directories `a/b<id>` /
    * `b/b<id>` and the CURRENT manifest's accumulated history — the
    * probe surface MaintenanceSpec uses to plan-gate the build-side
    * pinning without applying a batch. */
  private[graft] def deltaRuleAt(spark: SparkSession, root: String,
      batchId: Long, join: (DataFrame, DataFrame) => DataFrame): DataFrame =
    deltaRule(spark, root, batchId,
      accumulated(spark, root, "a"), accumulated(spark, root, "b"), join)

  /** Fold one side's live segments `live` into `side/c<ledger>`, or None
    * when there is nothing to fold. */
  private def compactSide(spark: SparkSession, root: String, side: String,
      live: Seq[String], ledger: Long, keys: Seq[String],
      buckets: Int): Option[String] = {
    import org.apache.spark.sql.functions._
    if (live.size <= 1) None
    else {
      val df = live.map(sg => spark.read.parquet(s"$root/$sg").drop("__bkt"))
        .reduce(_ unionByName _)
      // an all-empty history (degenerate bases) stays as its delta dirs:
      // partitionBy of an empty frame writes a footerless directory no
      // reader can open, and there is nothing to cluster anyway
      if (df.isEmpty) None
      else {
        val name = s"$side/c$ledger"
        df.withColumn("__bkt", pmod(hash(keys.map(col): _*), lit(buckets)))
          .repartition(col("__bkt"))
          .write.mode("overwrite").partitionBy("__bkt").parquet(s"$root/$name")
        Some(name)
      }
    }
  }

  /** Compact each side's O(batches) live delta directories into ONE
    * segment Hive-partitioned (key-clustered) by `pmod(hash(key),
    * buckets)`. Pure layout maintenance: the compacted segment holds
    * exactly the union of the live rows, so not one maintenance decision
    * or stored partial changes (MaintenanceSpec runs a compact
    * MID-SEQUENCE and pins prefix parity after every later step).
    * `keyA`/`keyB` are each side's join-key columns; the clustering makes
    * the history side arrive pre-grouped by key for any later co-located
    * read.
    *
    * Committed by [[SegmentedState.compact]]: None if a batch committed
    * mid-compaction (the folded dirs become vacuumable orphans). Returns
    * the new segment names, or None when neither side had anything to
    * compact. Old directories stay readable for frames created before
    * the compact until [[vacuumHistory]]. */
  def compactHistory(spark: SparkSession, root: String, keyA: Seq[String],
      keyB: Seq[String], buckets: Int = 32): Option[Seq[String]] =
    SegmentedState.compact(root) { cur =>
      val sides = Sides.zip(Seq(keyA, keyB)).map { case (s, keys) =>
        val live = Kind.tracked(cur).filter(_.startsWith(s"$s/"))
        (live, compactSide(spark, root, s, live, cur.lastBatch, keys, buckets))
      }
      val made = sides.flatMap(_._2)
      if (made.isEmpty) None
      else Some((cur.segments.take(1) ++
        sides.flatMap { case (live, c) => c.map(Seq(_)).getOrElse(live) }) -> made)
    }

  /** The numeric id of a history name (`side/b<id>` / `side/c<id>`). */
  private def histId(name: String): Option[Long] =
    name.dropWhile(_ != '/').drop(2).toLongOption

  /** Delete history directories the current manifest no longer lists
    * ([[SegmentedState.vacuum]]): a delta whose batch id is above the
    * ledger belongs to an [[applyBatch]] still in flight and is skipped,
    * and a manifest tracking no side segment is refused. Run after frames
    * created before the compact are evaluated. Returns deleted names. */
  def vacuumHistory(root: String): Seq[String] = SegmentedState.vacuum(Kind, root)

  /** Compact when either side has more than `maxSegments` live segments,
    * reaping the previous cycle's orphans first
    * ([[SegmentedState.maybeCompact]]) — the policy
    * [[graft.streaming.StreamJoinAggView]] wires into its foreachBatch so
    * a long CDC feed's per-step history read stays O(1) directories per
    * side, not O(batches). */
  def maybeCompactHistory(spark: SparkSession, root: String,
      keyA: Seq[String], keyB: Seq[String], maxSegments: Int,
      buckets: Int = 32): Option[Seq[String]] =
    SegmentedState.maybeCompact(Kind, root, maxSegments)(
      compactHistory(spark, root, keyA, keyB, buckets))
}
