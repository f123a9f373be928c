package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance for the cell-partitioned ANN index
  * ([[AnnIndex]]): new vectors ingest as O(Δ) appends against a FROZEN
  * coarse quantizer, searches stay pruned to probed cells, and a
  * compaction pass keeps per-cell file counts flat — the index is
  * MAINTAINED, never rebuilt, which is the only viable contract once the
  * corpus is 100 TB (a rebuild re-encodes everything; an ingest touches
  * only the delta).
  *
  * Model freeze: deltas assign with the centroids trained on the
  * BOOTSTRAP corpus — the standard production IVF contract (re-training
  * moves cell boundaries and would force a full re-assignment; instead
  * the quantizer is refreshed offline on a snapshot cadence and the index
  * rebuilt UNDER A NEW ROOT when drift warrants it). Assignment of a
  * given vector is therefore identical whether it arrived in bootstrap
  * or any later batch — which is exactly what makes the result
  * oracle-replayable (`q_incr_ann` trains the same frozen model in SQL
  * over the bootstrap subset and assigns the union).
  *
  * The index is a [[SegmentedState]] root: this object owns only the
  * segment naming, the fold and the readers; the live list, the ledgered
  * append commit, the compaction commit, vacuum and size-triggered
  * compaction are the shared lifecycle. Names under `root/`:
  *
  *   - `seg-b<id>/cell=N/...` — one cell-partitioned segment per applied
  *     batch (bootstrap = `seg-b0`).
  *   - `seg-c<id>/` — a compacted segment ([[compact]]): all live rows
  *     folded back into ONE cell-partitioned layout. Without it a probed
  *     read pays O(#ingests) file opens per cell; compacted it returns to
  *     O(probed cells).
  *   - `seg-d<id>/` — a tombstone segment ([[delete]]): the deleted ids
  *     plus their delete batch. Searches subtract them with a broadcast
  *     anti-join at the candidate stage; [[compact]] retires them
  *     physically (merge-on-compact).
  *
  * Searches read the UNION of live segments pruned to the probed cells —
  * one multi-root parquet relation whose partition listing must select
  * exactly Σ per-segment probed-and-existing cell directories
  * ([[assertPruned]] — the same plan-gate discipline as [[AnnIndex]]).
  */
object AnnIngest {

  private object Kind extends SegmentedState.Kind {
    def onDisk(root: String): Seq[String] =
      SegmentedState.children(root).filter(_.startsWith("seg-"))
    def batchOf(name: String): Option[Long] = segId(name)
    override def reaped(dir: String): Unit = AnnIndex.invalidate(dir)
  }

  /** Live segment names (manifest order) — data segments (`seg-b`/`seg-c`)
    * AND tombstone segments (`seg-d`, [[delete]]). */
  def liveSegments(root: String): Seq[String] = SegmentedState.live(Kind, root)

  private def isTomb(name: String): Boolean = name.startsWith("seg-d")

  /** Live DATA segments — what a search reads rows from. */
  def dataSegments(root: String): Seq[String] =
    liveSegments(root).filterNot(isTomb)

  /** Bootstrap + ingest share one idempotent entry: assign the batch with
    * the frozen model, write it as a new cell-partitioned segment, commit.
    * A replay of an applied `batchId` is a no-op; a crashed batch's
    * replay overwrites its own orphan directory before the commit. */
  def ingest(spark: SparkSession, root: String, delta: DataFrame,
      cents: Array[Array[Double]], batchId: Long): Unit =
    appendBatch(root, batchId, StateManifest.schemaFingerprint(delta.schema)) {
      val assigned = VectorSearch.ivfAssign(delta, cents)
      // an EMPTY batch (quiet feed, or a degenerate model that assigns
      // nothing) advances the ledger without a segment: partitionBy of an
      // empty frame writes a footerless directory no reader can open
      if (assigned.isEmpty) None
      else {
        val name = s"seg-b$batchId"
        // crash-replay overwrites this batch's own orphan directory — drop
        // any cached metadata/frame for it FIRST so the (session, dir)
        // caches' immutability invariant holds at every overwrite site
        AnnIndex.invalidate(s"$root/$name")
        assigned
          .write.mode("overwrite").partitionBy("cell").parquet(s"$root/$name")
        Some(name)
      }
    }

  /** The ledgered append [[ingest]] and [[delete]] share: a replayed
    * `batchId` is a no-op; otherwise `write` puts the batch's segment on
    * disk and names it (None: an empty batch, which advances the ledger
    * without one), and the name is published. */
  private def appendBatch(root: String, batchId: Long, fp: String)(
      write: => Option[String]): Unit = SegmentedState.writing(root) {
    val base = StateManifest.current(root)
    if (!base.exists(_.lastBatch >= batchId)) {
      val seg = write
      SegmentedState.publish(root, base, Some(batchId), fp)(_ ++ seg)
    }
  }

  /** DELETE vectors from the maintained index: the missing
    * half of the production write path — FAISS `remove_ids` / the
    * Milvus/Lucene tombstone-and-merge design, expressed as the same
    * O(Δ) ledgered append as [[ingest]]. The ids land as a tiny
    * `seg-d<batchId>` tombstone segment `(id, del_batch)`; nothing in
    * the data layout moves. Searches subtract tombstones with a
    * BROADCAST anti-join at the candidate stage (cost ∝ candidates
    * already read, never ∝ corpus), and [[compact]] folds them in
    * physically — after which the tombstones themselves are orphans.
    *
    * Ordering is batch-exact: a tombstone removes a row only from
    * segments OLDER than itself (`del_batch > segment batch`), so
    * re-ingesting an id AFTER its delete resurrects it — replaying the
    * ledger in order always reproduces the same visible set, which is
    * what makes the lifecycle oracle-replayable. Idempotent like ingest:
    * a replayed `batchId` is a no-op; an empty id set advances the
    * ledger without a segment.
    *
    * UPSERT (replace-on-id) is the composition `delete(ids, b)` ∘
    * `ingest(delta, b+1)` — the newer ingest outlives the tombstone;
    * [[graft.streaming.StreamAnnIngest.maintainCrud]] wires exactly
    * that per trigger. */
  def delete(spark: SparkSession, root: String, ids: DataFrame,
      batchId: Long): Unit =
    // "" keeps the data segments' recorded fingerprint
    appendBatch(root, batchId, "") {
      val tombs = ids.select(col(ids.columns.head).cast("long").as("id"))
        .distinct().withColumn("del_batch", lit(batchId))
      if (tombs.isEmpty) None
      else {
        val name = s"seg-d$batchId"
        AnnIndex.invalidate(s"$root/$name") // crash-replay overwrite
        // tombstones are id-sized — one file keeps the broadcast read trivial
        tombs.coalesce(1).write.mode("overwrite").parquet(s"$root/$name")
        Some(name)
      }
    }

  /** Data segments unioned with each row tagged by its segment's batch id
    * — the tag the ordering-exact tombstone subtraction joins against. */
  private def taggedUnion(spark: SparkSession, root: String,
      segs: Seq[String]): DataFrame =
    segs.map(sg => AnnIndex.baseFrame(spark, s"$root/$sg")
      .withColumn("_seg", lit(segId(sg).getOrElse(Long.MaxValue))))
      .reduce(_ unionByName _)

  private def tombFrame(spark: SparkSession, root: String,
      tombs: Seq[String]): DataFrame =
    tombs.map(t => AnnIndex.baseFrame(spark, s"$root/$t"))
      .reduce(_ unionByName _)

  /** Subtract tombstones from tagged candidates: broadcast anti-join on
    * the id with the batch-order condition — a tombstone only erases rows
    * from segments older than itself. Tombstone sets are deletion-sized
    * (ids only), so the build side is always broadcastable. */
  private def applyTombs(cand: DataFrame, tf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    cand.join(broadcast(tf),
      cand("id") === tf("id") && tf("del_batch") > cand("_seg"), "left_anti")
      .drop("_seg")
  }

  /** Fold all live segments into ONE compacted cell-partitioned segment,
    * applying (and thereby retiring) any tombstone segments — the
    * merge-on-compact half of the [[delete]] design: rows erased by a
    * newer tombstone are dropped from the fold, and the tombstones leave
    * the manifest with the data segments they erased. Otherwise pure
    * layout maintenance (`cell` is a function of the frozen model — no
    * re-assignment), committed by [[SegmentedState.compact]]: None if a
    * writer committed mid-compaction. Old directories stay readable for
    * earlier frames until [[vacuum]].
    *
    * Declines (None) when there is nothing to fold — ≤1 data segment and
    * no tombstones — and also when tombstones erase EVERY live row: an
    * empty fold would write a footerless directory no reader can open,
    * so a fully-tombstoned index keeps its tombstone-live layout until
    * new data lands. */
  def compact(spark: SparkSession, root: String): Option[String] =
    SegmentedState.compact(root) { cur =>
      val (tombs, data) = cur.segments.partition(isTomb)
      if (data.isEmpty || (data.size <= 1 && tombs.isEmpty)) None
      else {
        val name = s"seg-c${cur.lastBatch}"
        val folded =
          if (tombs.isEmpty) taggedUnion(spark, root, data).drop("_seg")
          else applyTombs(taggedUnion(spark, root, data),
            tombFrame(spark, root, tombs))
        if (tombs.nonEmpty && folded.isEmpty) None // fully tombstoned
        else {
          folded
            .repartition(col("cell"))
            .write.mode("overwrite").partitionBy("cell").parquet(s"$root/$name")
          AnnIndex.invalidate(s"$root/$name") // overwrite may replace an orphan
          Some(Seq(name) -> name)
        }
      }
    }

  /** The numeric id of a segment name (`seg-b<id>` / `seg-c<id>`). */
  private def segId(name: String): Option[Long] =
    name.stripPrefix("seg-").drop(1).toLongOption

  /** Delete segment directories the current manifest no longer lists
    * ([[SegmentedState.vacuum]]); a name whose batch id is above the
    * ledger is an ingest still in flight and is skipped. Run after frames
    * created before the compact are evaluated. */
  def vacuum(root: String): Seq[String] = SegmentedState.vacuum(Kind, root)

  /** Compact when more than `maxSegments` segments are live, reaping the
    * previous cycle's orphans first ([[SegmentedState.maybeCompact]]) — the
    * policy the streaming maintainer wires into its foreachBatch so a long
    * feed's per-query file opens stay O(probed cells), not O(triggers).
    * Returns the compacted segment name when a compaction ran. */
  def maybeCompact(spark: SparkSession, root: String,
      maxSegments: Int): Option[String] =
    SegmentedState.maybeCompact(Kind, root, maxSegments)(compact(spark, root))

  /** Pruned read of the VISIBLE rows across all live segments: each data
    * segment is its own partitioned relation (multi-root inference
    * conflicts under a common parent), unioned — the static `isin`
    * partition filter pushes through the Union into EVERY segment scan,
    * so each lists only its probed cells' directories. Tombstoned rows
    * ([[delete]]) are subtracted by the broadcast anti-join. */
  def readCells(spark: SparkSession, root: String, cells: Seq[Int]): DataFrame = {
    val (tombs, data) = liveSegments(root).partition(isTomb)
    if (tombs.isEmpty) readCellsOf(spark, root, data, cells)
    else {
      require(cells.nonEmpty, "readCells: no probed cells")
      require(data.nonEmpty, s"no live ann data segments at $root")
      applyTombs(
        taggedUnion(spark, root, data)
          .where(col("cell").isin(cells.map(Int.box): _*)),
        tombFrame(spark, root, tombs))
    }
  }

  private def readCellsOf(spark: SparkSession, root: String,
      segs: Seq[String], cells: Seq[Int]): DataFrame = {
    require(cells.nonEmpty, "readCells: no probed cells")
    require(segs.nonEmpty, s"no live ann segments at $root")
    // per-segment base frames come from the shared (session, dir) cache —
    // committed segments are immutable and names are never reused, so
    // schema inference + the partition-directory index build once per
    // process, not per query
    segs.map(sg => AnnIndex.baseFrame(spark, s"$root/$sg"))
      .reduce(_ unionByName _)
      .where(col("cell").isin(cells.map(Int.box): _*))
  }

  /** Expected directory count for a pruned read: Σ per-segment
    * |probed ∩ existing| (an empty cell writes no directory;
    * existingCells is cached per immutable segment). */
  private def expectedDirs(root: String, segs: Seq[String],
      cells: Seq[Int]): Int =
    segs.map(sg =>
      cells.toSet.intersect(AnnIndex.existingCells(s"$root/$sg")).size).sum

  /** Plan gate: the scans of `root`'s segments together listed exactly
    * the probed cells' directories (summed across segments — one scan
    * per live segment under the union). */
  def assertPruned(df: DataFrame, root: String, cells: Seq[Int]): Unit =
    assertPrunedOf(df, root, liveSegments(root), cells)

  private def assertPrunedOf(df: DataFrame, root: String, segs: Seq[String],
      cells: Seq[Int]): Unit = {
    val want = java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString
    val scans = df.queryExecution.sparkPlan.collectLeaves().collect {
      // separator-bounded match: a sibling root sharing the
      // hex-name prefix must not be counted into the gate; tombstone
      // segment scans (id-sized broadcast side) are not cell-pruned reads
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.map(_.toUri.getPath)
            .exists(p => p == want || (p.startsWith(want + "/") &&
              !isTomb(p.stripPrefix(want + "/")))) =>
        f.selectedPartitions.partitionCount
    }
    if (scans.isEmpty) throw new IllegalStateException(
      s"ann ingest: no file scan of $root in the plan")
    val expect = expectedDirs(root, segs, cells)
    val got = scans.sum
    if (got != expect) throw new IllegalStateException(
      s"ann ingest: scans listed $got cell directories, expected $expect — pruning did not hold")
  }

  /** IVF top-k over the maintained index (frozen model), plan-gated.
    * The live segment list and the probed-cell union are each resolved
    * ONCE and shared between the read and the gate — no second manifest
    * read or directory listing per query. */
  def searchTopK(spark: SparkSession, root: String,
      cents: Array[Array[Double]], queries: DataFrame, k: Int,
      nprobe: Int): DataFrame =
    searchSegsTopK(spark, root, liveSegments(root), cents, queries, k, nprobe)

  /** TIME-TRAVEL search: top-k over the index AS OF manifest
    * commit `version` — the segment list [[StateManifest.at]] retained
    * for that commit, tombstones applied with the same batch-exact
    * ordering, both gates live. This is what makes a retrieval
    * experiment REPRODUCIBLE: pin the index version beside the model
    * checkpoint and the exact candidate set replays months later,
    * whatever ingests/deletes landed since (the Delta/Iceberg
    * `VERSION AS OF` contract on the ANN surface).
    *
    * Bounded by vacuum retention, like any time travel: a version whose
    * segments were reclaimed fails fast with the version named — size
    * the vacuum cadence to the reproducibility window. */
  def searchTopKAsOf(spark: SparkSession, root: String, version: Long,
      cents: Array[Array[Double]], queries: DataFrame, k: Int,
      nprobe: Int): DataFrame = {
    val m = StateManifest.at(root, version).getOrElse(throw
      new IllegalStateException(
        s"ann as-of: no retained manifest v$version at $root " +
          s"(retained: ${StateManifest.versions(root).mkString(",")})"))
    m.segments.filterNot(sg =>
        new java.io.File(s"$root/$sg").isDirectory).foreach { sg =>
      throw new IllegalStateException(
        s"ann as-of: v$version segment $sg was vacuumed — time travel is " +
          "bounded by the vacuum retention window")
    }
    searchSegsTopK(spark, root, m.segments, cents, queries, k, nprobe)
  }

  private def searchSegsTopK(spark: SparkSession, root: String,
      segs: Seq[String], cents: Array[Array[Double]], queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val cells = AnnIndex.probedCells(VectorSearch.ivfProbes(queries, cents, nprobe))
    if (cells.isEmpty)
      return spark.range(0).select(col("id").as("qid"), col("id").as("nid"),
        col("id").cast("int").as("rnk"), col("id").cast("double").as("cos"))
    val (tombs, data) = segs.partition(isTomb)
    // a data-less list (empty-manifest version, all-empty feed) serves
    // the empty result, same as an empty probe union
    if (data.isEmpty)
      return spark.range(0).select(col("id").as("qid"), col("id").as("nid"),
        col("id").cast("int").as("rnk"), col("id").cast("double").as("cos"))
    // tombstone-free lists keep the zero-overhead path (no tag, no join)
    val cand =
      if (tombs.isEmpty) readCellsOf(spark, root, data, cells)
      else applyTombs(
        taggedUnion(spark, root, data)
          .where(col("cell").isin(cells.map(Int.box): _*)),
        tombFrame(spark, root, tombs))
    val out = VectorSearch.ivfTopK(cand, cents, queries, k, nprobe)
    assertPrunedOf(out, root, data, cells)
    out
  }

  /** FILTERED IVF top-k over the MAINTAINED index: "live index +
    * tenant/category filter", the production retrieval composition. The
    * metadata predicate `pred` is PUSHED into
    * the pruned live-segment union scan (row groups whose min/max
    * exclude the wanted values never decode — [[AnnIndex
    * .assertFilterPushed]] gates it per segment scan), and nprobe is
    * RAISED with predicate selectivity ([[VectorSearch
    * .nprobeForFiltered]]) so a selective filter can't silently
    * under-fill k. Both plan gates run on the ONE scan per segment:
    * bytes = (nprobe_eff/nCells) × live rows × row-group selectivity.
    *
    * The selectivity census is one narrow-column count over the live
    * segments — only the predicate's column decodes; at deployment scale
    * this is the figure column statistics already hold, so a catalog
    * lookup replaces the count without changing the rule. */
  def searchTopKFiltered(spark: SparkSession, root: String,
      cents: Array[Array[Double]], queries: DataFrame, k: Int,
      nprobe: Int, pred: org.apache.spark.sql.Column,
      pushedNeedle: String): DataFrame = {
    val (tombs, data) = liveSegments(root).partition(isTomb)
    // a root with no committed data segments (degenerate feed: every
    // ingest was empty) serves the empty result, same as an empty union
    if (data.isEmpty)
      return spark.range(0).select(col("id").as("qid"), col("id").as("nid"),
        col("id").cast("int").as("rnk"), col("id").cast("double").as("cos"))
    val live =
      if (tombs.isEmpty)
        data.map(sg => AnnIndex.baseFrame(spark, s"$root/$sg"))
          .reduce(_ unionByName _)
      else applyTombs(taggedUnion(spark, root, data),
        tombFrame(spark, root, tombs))
    // one action, one scan: total and matching ride the same aggregate,
    // so the census decodes the predicate's column exactly once — and
    // counts only VISIBLE (non-tombstoned) rows, the population the
    // selectivity rule is about
    val census = live.agg(
      count(lit(1)).as("t"), count(when(pred, 1)).as("m")).head()
    val (total, matching) = (census.getLong(0), census.getLong(1))
    val np = VectorSearch.nprobeForFiltered(cents.length, nprobe, total, matching)
    val cells = AnnIndex.probedCells(VectorSearch.ivfProbes(queries, cents, np))
    if (cells.isEmpty)
      return spark.range(0).select(col("id").as("qid"), col("id").as("nid"),
        col("id").cast("int").as("rnk"), col("id").cast("double").as("cos"))
    val cand =
      if (tombs.isEmpty)
        readCellsOf(spark, root, data, cells).where(pred)
      else applyTombs(
        taggedUnion(spark, root, data)
          .where(col("cell").isin(cells.map(Int.box): _*)).where(pred),
        tombFrame(spark, root, tombs))
    val out = VectorSearch.ivfTopK(cand, cents, queries, k, np)
    assertPrunedOf(out, root, data, cells)
    // per-data-segment: the tombstone scan (no pushed predicate — it IS
    // the subtraction side) must not trip the filter gate
    data.foreach(sg => AnnIndex.assertFilterPushed(out, s"$root/$sg", pushedNeedle))
    out
  }
}
