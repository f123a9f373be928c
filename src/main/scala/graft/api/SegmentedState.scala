package graft.api

/** The ONE lifecycle of a segmented state root — the maintained ANN index
  * ([[AnnIngest]]), the dedup band index ([[IncrementalDedup]]), the
  * join-MV history ([[IncrementalJoinAgg]]) and the stream join view
  * ([[graft.streaming.StreamJoinView]]) all run through it. A root
  * holds immutable segment directories plus the [[StateManifest]] that
  * lists the live ones:
  *
  *   - [[live]]: the live list is the current manifest's, nothing else —
  *     a directory no committed manifest lists is never read.
  *   - [[publish]]: the append commit. Data first, then a CAS
  *     ([[StateManifest.commitIf]]) of the edited live list, batch ledger
  *     and schema fingerprint; on conflict re-read, re-check drift, re-apply
  *     the edit, and reclaim a torn history file that wedges the version.
  *   - [[compact]]: the compaction commit. Under the maintenance lock, fold
  *     the live segments into new ones and CAS them in; None on conflict —
  *     maintenance never drops a writer's segment.
  *   - [[vacuum]]: delete directories the current manifest no longer
  *     lists, and the history versions that referenced them.
  *   - [[maybeCompact]]: size-triggered compaction whose reap is deferred
  *     by one cycle.
  *   - [[retire]]: retention for a single-version root, whose manifest
  *     head names its one data version (streaming IncrementalAgg,
  *     [[MaterializedView.refresh]], the join-MV view): the current and
  *     the previous version stay, older ones go.
  *
  * A [[Kind]] keeps only what is its own: segment naming, its fold, its
  * readers. Retention follows Delta Lake's model: superseded segments stay
  * readable (time travel, lazy frames created before a compaction) until
  * a vacuum, and a vacuum is the retention boundary.
  *
  * The vacuum in-flight guard is one rule with two halves, because a
  * directory being written and a crash orphan look the same on disk:
  *   - in this JVM, every writer holds the root's append guard from its
  *     first directory write through its commit ([[writing]]), every
  *     commit runs under it, and vacuum and retire hold it exclusively — a
  *     claimed-but-uncommitted directory or a live commit's temp file is
  *     never scanned. This is the only protection for kinds whose names
  *     carry no batch id (the dedup index, whose compaction may claim a
  *     name above an in-flight ingest's);
  *   - across processes, a name whose batch id ([[Kind.batchOf]]) is above
  *     the manifest ledger belongs to a writer that has not committed yet
  *     and is skipped.
  * Compaction and vacuum also exclude each other across processes through
  * [[StateManifest.withMaintenanceLock]]. */
object SegmentedState {

  /** What one kind of segmented state decides for itself. */
  trait Kind {
    /** The segments of `m` under this lifecycle (the join-MV keeps its view
      * version at the head of the list, outside it). */
    def tracked(m: Manifest): Seq[String] = m.segments
    /** Every segment directory name on disk, live or not. */
    def onDisk(root: String): Seq[String]
    /** The batch id a name carries, for the cross-process in-flight guard;
      * None for kinds whose names carry none. */
    def batchOf(name: String): Option[Long]
    /** The live-segment count a read pays, which triggers [[maybeCompact]]. */
    def depth(live: Seq[String]): Int = live.size
    /** Called with a directory's path just before vacuum deletes it. */
    def reaped(dir: String): Unit = ()
  }

  /** Child names of `dir` (empty when it does not exist). */
  def children(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).map(_.toSeq).getOrElse(Nil)

  /** The live segments, in manifest order; empty before the first commit. */
  def live(kind: Kind, root: String): Seq[String] =
    StateManifest.current(root).map(kind.tracked).getOrElse(Nil)

  private val guards = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantReadWriteLock]()
  private def guard(root: String) = guards.computeIfAbsent(
    java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString,
    _ => new java.util.concurrent.locks.ReentrantReadWriteLock())
  private def holding[T](l: java.util.concurrent.locks.Lock)(f: => T): T = {
    l.lock(); try f finally l.unlock()
  }

  /** Run a writer — from its first directory write through [[publish]] —
    * as an in-flight writer of `root`: [[vacuum]] waits for it. */
  def writing[T](root: String)(body: => T): T =
    holding(guard(root).readLock())(body)

  /** The append commit: publish `edit(live list)` with the given ledger and
    * fingerprint after the writer has put its directories on disk.
    *
    * `base` is the manifest the writer computed against. `batchId` is the
    * batch being applied (None: the ledger is left as it is). A racing
    * compaction keeps content and ledger, so the edit re-applies onto its
    * list. A racing commit that moved the ledger makes the writer's work
    * stale: if it covers `batchId` the batch was applied elsewhere and this
    * returns false, otherwise it throws. `fp` is the written schema's
    * fingerprint ("" keeps the recorded one); it must match a recorded
    * fingerprint, or the commit refuses rather than mix layouts. */
  def publish(root: String, base: Option[Manifest], batchId: Option[Long],
      fp: String)(edit: Seq[String] => Seq[String]): Boolean = writing(root) {
    val baseLedger = base.map(_.lastBatch).getOrElse(-1L)
    var cur = base
    var attempts = 0
    var result = Option.empty[Boolean]
    while (result.isEmpty) {
      cur.map(_.schemaFp).filter(f => fp.nonEmpty && f.nonEmpty && f != fp)
        .foreach { f => throw new IllegalStateException(
          s"schema drift at $root: manifest=$f writer=$fp") }
      val ledger = cur.map(_.lastBatch).getOrElse(-1L)
      if (batchId.nonEmpty && ledger != baseLedger) {
        if (!batchId.exists(_ <= ledger)) throw new IllegalStateException(
          s"concurrent batch writer at $root: ledger moved $baseLedger -> $ledger")
        result = Some(false)
      } else if (StateManifest.commitIf(root, cur.map(_.version),
          edit(cur.map(_.segments).getOrElse(Nil)), batchId.getOrElse(ledger),
          if (fp.nonEmpty) fp else cur.map(_.schemaFp).getOrElse("")).nonEmpty)
        result = Some(true)
      else {
        attempts += 1
        if (attempts > 20) throw new IllegalStateException(
          s"append at $root could not commit after $attempts conflicts")
        if (StateManifest.current(root).map(_.version) == cur.map(_.version)) {
          // the version did not advance, so no racer committed: the next
          // history name is held by an INCOMPLETE file (a torn external
          // write). Only a reclaim restores liveness — safe, because it
          // deletes only parse-incomplete files and a commit only ever
          // appears as a complete one.
          Thread.sleep(100L * math.min(attempts, 5))
          if (StateManifest.current(root).map(_.version) == cur.map(_.version))
            StateManifest.reclaimOrphans(root)
        }
        cur = StateManifest.current(root)
      }
    }
    result.get
  }

  /** The compaction commit: under the maintenance lock, `fold` the current
    * manifest — writing its new segment directories and returning the new
    * full segment list with a result — then CAS that list in, keeping the
    * ledger and fingerprint. None when there is no manifest, when `fold`
    * declines, or when a writer committed meanwhile (the folded
    * directories become orphans for [[vacuum]]; re-run on the new list). */
  def compact[T](root: String)(
      fold: Manifest => Option[(Seq[String], T)]): Option[T] =
    StateManifest.withMaintenanceLock(root) {
      StateManifest.current(root).flatMap { cur =>
        fold(cur).flatMap { case (segs, out) =>
          writing(root)(StateManifest.commitIf(root, Some(cur.version), segs,
            cur.lastBatch, cur.schemaFp)).map(_ => out)
        }
      }
    }.flatten

  /** Delete the segment directories the current manifest no longer lists
    * — compaction leftovers, aborted CAS folds, crashed writers — and the
    * manifest temp files of crashed commits, except
    * those still in flight (see the class doc), then prune every history
    * version whose segments are no longer all on disk, so time travel to
    * it fails fast instead of at evaluation (a vacuum cut short by a crash
    * is finished by the next one). Lazy frames created before a compaction
    * may still read the deleted directories: run this after they are
    * evaluated. A root whose manifest tracks no segment is refused — there
    * is no authority to tell live data from orphans. Returns the deleted
    * names, sorted. */
  def vacuum(kind: Kind, root: String): Seq[String] =
    StateManifest.withMaintenanceLock(root) {
      holding(guard(root).writeLock()) {
        reapTemps(root)
        val m = StateManifest.current(root)
        val live = m.map(kind.tracked).getOrElse(Nil).toSet
        val ledger = m.map(_.lastBatch).getOrElse(-1L)
        if (live.isEmpty) Nil
        else {
          val gone = kind.onDisk(root)
            .filter(n => !live(n) && kind.batchOf(n).forall(_ <= ledger)).sorted
          gone.foreach { n =>
            kind.reaped(s"$root/$n")
            AtomicFiles.rmTree(java.nio.file.Paths.get(root).resolve(n))
          }
          val kept = kind.onDisk(root).toSet
          StateManifest.versions(root).filter(v => v != m.get.version &&
              StateManifest.at(root, v).exists(kind.tracked(_).exists(s => !kept(s))))
            .foreach(v => java.nio.file.Files.deleteIfExists(
              java.nio.file.Paths.get(root).resolve(s"_MANIFEST.v$v")))
          gone
        }
      }
    }.getOrElse(Nil)

  /** `_MANIFEST*.tmp` files: with the append guard held exclusively no
    * commit in this JVM owns one, and a writer in another process whose
    * temp goes loses its CAS and retries ([[StateManifest.commitIf]]). */
  private def reapTemps(root: String): Unit =
    children(root).filter(n => n.startsWith("_MANIFEST") && n.endsWith(".tmp"))
      .foreach(n => java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(root).resolve(n)))

  /** Versions a single-version root keeps: the current and the previous
    * one, which is one commit of time travel. */
  private val HeadsKept = 2

  /** Retention for a single-version root, run after each commit of a new
    * head (the manifest's first segment, a `v...` directory): prune the
    * history to the newest [[HeadsKept]] files, then delete every `v...`
    * directory none of them names, and the manifest temp debris. Such a
    * root has one writer process, and in it the append guard, held
    * exclusively as [[vacuum]] does, keeps an in-flight head out of reach.
    * Call it outside [[writing]]. */
  def retire(root: String): Unit = holding(guard(root).writeLock()) {
    StateManifest.pruneHistory(root, keep = HeadsKept)
    val heads = StateManifest.versions(root).flatMap(StateManifest.at(root, _))
      .flatMap(_.segments.headOption).toSet
    children(root).filter(n => n.startsWith("v") && !heads(n))
      .foreach(n => AtomicFiles.rmTree(java.nio.file.Paths.get(root).resolve(n)))
    reapTemps(root)
  }

  /** Size-triggered maintenance: `compact` when the live depth exceeds
    * `maxSegments`. The reap is deferred one cycle — the [[vacuum]] runs
    * BEFORE the new compaction, so it deletes only what an earlier
    * compaction orphaned, and a reader still holding the list this
    * compaction retires gets a full cycle to drain. The last compaction's
    * orphans fall to the next trigger or an explicit vacuum. */
  def maybeCompact[T](kind: Kind, root: String, maxSegments: Int)(
      compact: => Option[T]): Option[T] = {
    require(maxSegments >= 1, s"maxSegments $maxSegments")
    if (kind.depth(live(kind, root)) <= maxSegments) None
    else {
      vacuum(kind, root)
      compact
    }
  }
}
