package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus deduplication against a PERSISTED fingerprint index —
  * the production 100 TB ingest shape: a continuously-fed pipeline dedups
  * each new increment against everything already ingested WITHOUT ever
  * rescanning the historical corpus. Only the fingerprint index (MinHash
  * LSH band keys, ~3 small columns per document × bands) is stored and
  * joined; the historical text never moves again.
  *
  * The index is a [[SegmentedState]] root: this object owns only the
  * segment naming (`seg%05d`, one past the highest name on disk), the fold
  * (`bkt` repartition) and the readers; the live list, batch ledger,
  * append and compaction commits, vacuum and size-triggered compaction are
  * the shared lifecycle.
  *
  * {{{
  *   root/seg00000/bkt=0/…/bkt=63/  parquet (id, band, bv) hash-bucketed
  *   root/seg00001/bkt=…/           next batch, same bucketing, ...
  *   root/_MANIFEST(.vN)            shared StateManifest (atomic pointer + history)
  * }}}
  *
  * Segments are PARTITIONED by `bkt = pmod(hash(band, bv), IndexBuckets)`
  * — every row of one (band, bv) bucket lands in one `bkt=` directory — so
  * an ingest reads only the index directories whose bkt values its
  * increment touches (directory-level partition pruning, pinned in
  * `MaintenanceSpec`). At production scale with a large history and small
  * increments that is the difference between reading touched buckets and
  * rescanning the whole index; raise [[IndexBuckets]] with corpus size so
  * a typical increment touches a minority of buckets.
  *
  * [[ingest]] is write-then-point: the increment's bands land in a new
  * segment directory FIRST, the returned decision frame reads only
  * already-written parquet (stable under later appends — no lazy recompute
  * hazard), and the manifest advances last. A crash between write and
  * point leaves an orphan directory that is never read — readers see
  * either the old or the new index, never a torn one. A caller that
  * passes a batch id (the streaming ingest) advances the manifest's batch
  * ledger in that same commit. Segment names carry no batch id, so
  * in-flight directories are guarded from vacuum in-process only.
  *
  * Semantics: an increment document is a duplicate iff it shares ≥1 LSH
  * band bucket with any SMALLER-ID document already present (prior
  * segments or the same increment) — the order is GLOBAL STRICT ID order,
  * `keep(b) ⟺ ¬∃ a < b sharing a bucket`, NOT segment arrival order.
  * That choice is what makes the pipeline replayable and idempotent: the
  * incremental decisions equal one whole-corpus batch query over the
  * union (the `q_incr_dedup` DuckDB oracle and the prefix-parity /
  * cut-point-independence tests in `MaintenanceSpec`). The CONTRACT that
  * makes id order meaningful:
  * callers assign ids monotonically with ingest order (ingest-time
  * sequence, snowflake-style ids — what a production feed does anyway).
  * A caller violating it (say content-hash ids) still gets the exact
  * replayable semantics above, but "first copy" then means LOWEST ID, not
  * first-arrived: a later increment carrying a smaller id than its
  * already-kept near-copy keeps TOO (its prior was never seen when the
  * larger id decided) — dedup against ids not yet ingested is impossible
  * without retro-revoking earlier decisions, which nothing downstream of
  * an already-emitted keep can do. Dropped documents' fingerprints are
  * still appended — future increments must dedup against the first-seen
  * copy AND its near-copies.
  *
  * Scale: per-ingest cost is one bucket equi-join of the increment's bands
  * against the index — ∝ |increment| + touched index buckets, never
  * ∝ corpus. [[BucketCap]] flood-guards degenerate buckets the same way
  * the batch path does (the census is over index ∪ increment at ingest
  * time; a bucket crossing the cap mid-history is excluded from that
  * ingest onward).
  */
object IncrementalDedup {

  /** Hash-bucket partitions per segment. A deployment sizes this so one
    * increment touches a minority of buckets (e.g. 4096 at 10^10 docs);
    * the value is baked into the on-disk layout, so changing it requires
    * an index rebuild. */
  val IndexBuckets = 64

  private def bktCol = pmod(hash(col("band"), col("bv")), lit(IndexBuckets))

  private object Kind extends SegmentedState.Kind {
    def onDisk(root: String): Seq[String] =
      SegmentedState.children(root).filter(_.matches("seg\\d{5}"))
    def batchOf(name: String): Option[Long] = None // names carry no batch id
  }

  /** Live segment directory names, in ingest order. */
  def segments(root: String): Seq[String] = SegmentedState.live(Kind, root)

  /** Time-travel read: the index as of manifest commit `version` — valid
    * until [[vacuum]] reclaims segments the current manifest no longer
    * references (production: a retention window). Replay tests read the
    * pre-compaction index through this. */
  def indexAt(spark: SparkSession, root: String, version: Long): Option[DataFrame] =
    StateManifest.at(root, version).flatMap { m =>
      val allOnDisk = m.segments.forall(sg =>
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root, sg)))
      if (m.segments.isEmpty || !allOnDisk) None // vacuumed past this version
      else Some(m.segments.map(sg => spark.read.parquet(s"$root/$sg"))
        .reduce(_.unionByName(_)).select("id", "band", "bv"))
    }

  /** The stored fingerprint index (id, band, bv), or None before any
    * ingest. The physical `bkt` partition column is an internal layout
    * detail and is projected away here. */
  def index(spark: SparkSession, root: String): Option[DataFrame] =
    rawIndex(spark, root).map(_.select("id", "band", "bv"))

  /** Like [[index]] but keeps the `bkt` partition column for pruned reads.
    * Each segment is its own partitioned table root, so segments load
    * separately and union (one multi-root read would make partition
    * discovery reject the conflicting directory structures); pruning
    * predicates push through the Union into every segment's scan. */
  private def rawIndex(spark: SparkSession, root: String): Option[DataFrame] = {
    val segs = segments(root)
    if (segs.isEmpty) None
    else Some(segs.map(sg => spark.read.parquet(s"$root/$sg")).reduce(_.unionByName(_)))
  }

  /** Next unused segment name: one past the highest `seg*` directory ON
    * DISK — not the live-list length, because [[compactIndex]] shrinks the
    * list while orphan directories linger until [[vacuum]], and a name
    * collision with an orphan would fail the ingest write. */
  private def nextSegName(root: String): String = {
    val existing = Kind.onDisk(root)
    val next = if (existing.isEmpty) 0 else existing.map(_.drop(3).toInt).max + 1
    f"seg$next%05d"
  }

  /** Allocate and atomically CLAIM the next segment directory. The layout
    * protocol is single-writer; should a second writer race anyway (a
    * misconfigured deployment, a duplicate scheduler firing the same
    * ingest twice), both may compute the same name — the atomic
    * createDirectory makes the loser fail loudly instead of the two
    * interleaving files inside one segment. (A race where the loser scans
    * AFTER the claim gets the next number and degrades to a consistent
    * orphan: the manifest commit is optimistic ([[StateManifest.commitIf]]),
    * so exactly one of two racing commits wins and vacuum reclaims the
    * loser's directory — never a torn index. True multi-writer ingest
    * belongs in a transaction-log service; see the class doc.) The claimed
    * directory already existing is why the Spark writes below use
    * mode=overwrite. */
  private def claimSeg(root: String): String = {
    val name = nextSegName(root)
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(root).resolve(name))
    name
  }

  /** Ingest one increment: append its band keys `(id, band, bv)` (from
    * [[TextDedup.minhashBands]]) as a new index segment and return the
    * per-document decision frame
    *
    * {{{ (doc_id, n_prior BIGINT, keep BOOLEAN) }}}
    *
    * where `n_prior` counts distinct earlier documents sharing ≥1 band
    * bucket and `keep ⟺ n_prior = 0`. The decision frame is lazy and
    * entirely parquet-backed — evaluating it later (or never: an initial
    * history bootstrap can ignore it and pay only the segment write) is
    * safe regardless of subsequent ingests.
    *
    * Coverage contract: decisions cover exactly the document ids PRESENT
    * in `incBands`. A document yielding no fingerprints (shorter than the
    * shingle width) never appears here and trivially keeps — it has
    * nothing to collide on. Callers that own the full document set
    * compensate with a left join defaulting to (n_prior=0, keep=true)
    * ([[graft.streaming.StreamIncrDedup.ingestBatch]] and the
    * `q_incr_dedup` oracle row both do). An increment with zero bands is
    * legal: it writes an empty (orphaned, vacuumable) segment, returns an
    * empty frame, and leaves the index untouched.
    *
    * `batchId`, when given, must not be in the ledger yet; the commit that
    * appends the segment records it (a zero-band increment then advances
    * the ledger alone). `onDecisions` runs on the decision frame inside
    * the root's append guard, after the segment is written and before that
    * commit: a caller that persists the decisions there (the streaming
    * ingest) publishes them with the segment, and if it throws, nothing is
    * committed and the segment stays an orphan. */
  def ingest(spark: SparkSession, root: String, incBands: DataFrame,
      maxBucket: Int = 10000, batchId: Option[Long] = None,
      onDecisions: DataFrame => Unit = _ => ()): DataFrame =
      SegmentedState.writing(root) {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val cur0 = StateManifest.current(root)
    batchId.foreach(b => require(!cur0.exists(_.lastBatch >= b),
      s"batch $b is already in the ledger at $root"))
    val prior = cur0.map(_.segments).getOrElse(Nil)
    val segName = claimSeg(root)
    // cluster by bkt before the partitioned write: without it every write
    // task emits one file PER bucket it holds (tasks × buckets files — ~2k
    // tiny files per segment at 32 shuffle partitions; measured 28s/query
    // at sf0.1, all committer/footer overhead). Clustered, a segment is
    // ≤ IndexBuckets files — the layout a 1000-executor ingest wants too:
    // file count scales with the bucket count, not the task count.
    val incProjected = incBands.select("id", "band", "bv").withColumn("bkt", bktCol)
    incProjected.repartition(col("bkt"))
      .write.mode("overwrite").partitionBy("bkt").parquet(s"$root/$segName")

    // explicit schema: an increment can legitimately carry ZERO bands (a
    // micro-batch of documents all shorter than the shingle width writes
    // an empty segment) and schema inference over an empty directory
    // throws — which in the streaming path would crash BEFORE the commit,
    // a permanent replay-crash loop on realistic input
    val segSchema = incProjected.schema
    val inc = spark.read.schema(segSchema).parquet(s"$root/$segName")
    // directory-level pruning: the index join only needs the bkt
    // partitions this increment touches. The touched set is ≤ IndexBuckets
    // values (model-sized collect), and bkt is a function of (band, bv),
    // so untouched partitions cannot contain a matching bucket — neither
    // for the join nor for the flood-guard census.
    val touched = inc.select("bkt").distinct().collect()
      .map(r => Integer.valueOf(r.getInt(0))).toSeq
    val stored = if (prior.isEmpty) None
                 else Some(prior.map(sg => spark.read.schema(segSchema).parquet(s"$root/$sg"))
                   .reduce(_.unionByName(_))
                   .where(col("bkt").isin(touched: _*)))
    // one frame, tagged by origin, so the flood-guard census and both join
    // sides share a single computed stage (same discipline as the batch path)
    val all = stored match {
      case Some(idx) => idx.withColumn("__new", lit(0)).unionByName(inc.withColumn("__new", lit(1)))
      case None => inc.withColumn("__new", lit(1))
    }
    val capped = BucketCap.cap(all, Seq("band", "bv"), maxBucket)
    val x = capped.as("x")
    val y = capped.where(col("__new") === 1).as("y")
    val hits = x.join(y,
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.id") < col("y.id"))
      .groupBy(col("y.id").as("doc_id"))
      .agg(count_distinct(col("x.id")).as("n_prior"))
    val decisions = inc.select(col("id").as("doc_id")).distinct()
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        col("n_prior").isNull.as("keep"))

    onDecisions(decisions)
    // an empty segment carries no information: leave it OFF the live list
    // (the claimed directory becomes a vacuumable orphan) so index readers
    // never meet a file-less directory. A racing compaction keeps the
    // index CONTENT, so these decisions stay valid when the append
    // re-applies onto its list.
    val seg = if (touched.isEmpty) None else Some(segName)
    if (seg.nonEmpty || batchId.nonEmpty)
      SegmentedState.publish(root, cur0, batchId,
        StateManifest.schemaFingerprint(segSchema))(_ ++ seg)
    decisions
  }

  /** Compact all live segments into ONE consolidated segment. Pure
    * layout maintenance: the merged segment holds exactly the union of the
    * live rows (same `bkt` values — `bkt` is a function of the data, so no
    * re-hash), and every subsequent ingest decision is unchanged —
    * `q_incr_dedup` runs a compact MID-SEQUENCE and still hash-matches the
    * whole-corpus oracle.
    *
    * Why it matters at scale: without compaction an ingest-per-hour index
    * accumulates one directory tree per ingest, and a pruned read costs
    * O(#segments) file opens per touched bucket. Compacted, each `bkt=`
    * directory holds ONE file again, so pruned-read cost returns to
    * O(touched buckets) no matter how many ingests preceded. Old
    * directories stay readable by decision frames created before the
    * compact until [[vacuum]].
    *
    * Returns the new segment name; None when ≤1 segment is live or when
    * a concurrent ingest committed mid-compaction (re-run on the new
    * list). */
  def compactIndex(spark: SparkSession, root: String): Option[String] =
    SegmentedState.compact(root) { cur =>
      if (cur.segments.size <= 1) None
      else {
        val segName = claimSeg(root)
        cur.segments.map(sg => spark.read.parquet(s"$root/$sg"))
          .reduce(_.unionByName(_))
          .repartition(col("bkt"))
          .write.mode("overwrite").partitionBy("bkt").parquet(s"$root/$segName")
        Some(Seq(segName) -> segName)
      }
    }

  /** Delete segment directories the current manifest no longer lists (see
    * [[SegmentedState.vacuum]]); [[indexAt]] then answers None for the
    * versions that referenced them. Returns the deleted names. */
  def vacuum(root: String): Seq[String] = SegmentedState.vacuum(Kind, root)

  /** Compact when more than `maxSegments` segments are live, reaping the
    * previous cycle's orphans first ([[SegmentedState.maybeCompact]]), so
    * a continuous feed's pruned-read cost stays O(touched buckets).
    * Returns the compacted segment name when a compaction ran. */
  def maybeCompact(spark: SparkSession, root: String,
      maxSegments: Int): Option[String] =
    SegmentedState.maybeCompact(Kind, root, maxSegments)(compactIndex(spark, root))
}
