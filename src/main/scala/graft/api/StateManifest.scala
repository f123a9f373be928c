package graft.api

/** One committed snapshot of a versioned state directory. */
final case class Manifest(
    version: Long,         // monotonically increasing commit number
    segments: Seq[String], // live data directories under root, in order
    lastBatch: Long,       // idempotence ledger (-1 = no batch applied)
    schemaFp: String)      // fingerprint of the stored schema ("" = unset)

/** THE single manifest format for every versioned-parquet state directory
  * in the engine — the credible Delta/Iceberg stand-in SCALE.md §C
  * promises: the segmented states ([[SegmentedState]]: the ANN index, the
  * dedup band index, the join-MV history), [[graft.streaming.IncrementalAgg]]
  * and [[MaterializedView.refresh]] all commit through this one code path,
  * so there is one crash matrix to test.
  *
  * Layout:
  * {{{
  *   root/_MANIFEST        current manifest (atomic pointer — AtomicFiles)
  *   root/_MANIFEST.v<N>   immutable history, one file per commit
  * }}}
  *
  * Commit protocol: data directories are written FIRST by the caller,
  * then the COMPLETE history file appears atomically (temp + rename for
  * the single-writer [[commit]]; temp + exclusive `link(2)` for the
  * racing-writer [[commitIf]]) and the `_MANIFEST` pointer is refreshed
  * as a read cache. The history file is the commit point ([[current]]
  * prefers the highest complete history version over the cached
  * pointer): a crash at any point leaves either the old or the new
  * manifest current — never a torn one — and data written for an
  * uncommitted manifest is an unreachable orphan (vacuumable). Version,
  * segment list and batch ledger move in ONE atomic publish.
  *
  * Time travel: [[at]] reads any retained history version — replay tests
  * read the state as of an earlier commit. Whether the DATA of an old
  * version is still on disk is the caller's retention policy: a segmented
  * state keeps superseded segments until its vacuum, which also prunes the
  * history versions that referenced them; IncrementalAgg retains the
  * previous data version alongside the current one.
  *
  * The schema fingerprint makes layout drift loud: a writer whose data
  * schema no longer matches the manifest's recorded fingerprint must
  * refuse to commit on top of it rather than interleave incompatible
  * parquet under one root.
  */
object StateManifest {

  /** Fingerprint of the stored schema, with DECIMAL precision/scale
    * erased: associative merges legitimately widen decimals batch over
    * batch (sum(decimal(18,6)) → 28,6 → 38,6 before capping), and parquet
    * reads reconcile those — only a name/arity/base-type change is real
    * layout drift. */
  def schemaFingerprint(schema: org.apache.spark.sql.types.StructType): String =
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        schema.catalogString.replaceAll("decimal\\(\\d+,\\d+\\)", "decimal")))

  private def ptr(root: String) =
    java.nio.file.Paths.get(root).resolve("_MANIFEST")
  private def hist(root: String, v: Long) =
    java.nio.file.Paths.get(root).resolve(s"_MANIFEST.v$v")

  private def render(m: Manifest): String =
    (Seq(s"version=${m.version}", s"lastBatch=${m.lastBatch}",
      s"schemaFp=${m.schemaFp}") ++ m.segments.map(s => s"seg=$s")
      :+ "eof=1") // terminator: a torn/partial file must parse as ABSENT
      .mkString("", "\n", "\n")

  /** Strict parse: None unless the version field AND the eof terminator
    * are present — a torn or still-being-written file must read as "no
    * manifest", never as a wrong Manifest with silently-defaulted
    * fields. */
  private def parse(text: String): Option[Manifest] = {
    val kv = text.linesIterator.map(_.trim).filter(_.nonEmpty)
      .map { l => val i = l.indexOf('='); (l.take(i), l.drop(i + 1)) }.toSeq
    for {
      // toLongOption, not toLong: an externally corrupted numeric field
      // must read as ABSENT like any other torn file — a thrown
      // NumberFormatException here would escape readParsed's IOException
      // catch and permanently wedge every reader AND the reclaim path
      // that exists to clean such files
      v <- kv.collectFirst { case ("version", x) => x }.flatMap(_.toLongOption)
      _ <- kv.collectFirst { case ("eof", _) => () }
      lb <- kv.collectFirst { case ("lastBatch", x) => x }
        .map(_.toLongOption).getOrElse(Some(-1L)) // present-but-malformed ⇒ absent
    } yield Manifest(
      version = v,
      segments = kv.collect { case ("seg", s) => s },
      lastBatch = lb,
      schemaFp = kv.collectFirst { case ("schemaFp", x) => x }.getOrElse(""))
  }

  private def readParsed(p: java.nio.file.Path): Option[Manifest] =
    // read-then-parse, no exists() pre-check: a concurrent pruneHistory /
    // reclaimOrphans may delete the file between any check and the read
    // (the contention fuzz caught exactly that TOCTOU) — a vanished file
    // IS "no manifest at this version", never a reader crash
    try parse(java.nio.file.Files.readString(p))
    catch { case _: java.io.IOException => None }

  /** The current manifest, or None before the first commit.
    *
    * The COMMIT POINT is the atomic appearance of a complete history file
    * ([[commitIf]] publishes one via hard link); the `_MANIFEST` pointer
    * is a read cache that trails it. So current = the highest COMPLETE
    * history version, found by scanning the version list above the cached
    * pointer — a committer that crashed between the history link and the
    * pointer refresh is still committed, and a stale pointer write can
    * never regress a newer commit. The scan lists the root directory, so
    * a read costs O(retained history): O(1) for pruning callers
    * (IncrementalAgg prunes every commit); for append-only roots it grows
    * one file per ingest until vacuum/pruneHistory — the vacuum cadence
    * the class doc prescribes is also what bounds read cost. */
  def current(root: String): Option[Manifest] = {
    val cached = readParsed(ptr(root))
    val cachedV = cached.map(_.version).getOrElse(-1L)
    versions(root).filter(_ > cachedV).sortBy(-_).iterator
      .flatMap(v => at(root, v)).nextOption()
      .orElse(cached)
  }

  /** Time-travel read: the manifest as of commit `version`, if retained
    * (None for a missing, torn, or reclaimed history file). */
  def at(root: String, version: Long): Option[Manifest] =
    readParsed(hist(root, version))

  /** All retained history versions, ascending. */
  def versions(root: String): Seq[Long] =
    Option(new java.io.File(root).list()).getOrElse(Array.empty[String])
      .flatMap { n =>
        if (n.startsWith("_MANIFEST.v")) n.drop("_MANIFEST.v".length).toLongOption
        else None
      }.toSeq.sorted

  /** Commit a new manifest (version = current + 1): immutable history
    * file first, then the atomic pointer rename. The caller has already
    * written every data directory in `segments`. SINGLE-WRITER commit:
    * a crashed prior attempt's orphan history file is silently reclaimed
    * (overwritten) — use [[commitIf]] when writers can race. */
  def commit(root: String, segments: Seq[String], lastBatch: Long,
      schemaFp: String): Manifest = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val next = Manifest(current(root).map(_.version + 1).getOrElse(0L),
      segments, lastBatch, schemaFp)
    // a crashed prior attempt may have left this history file — it was
    // never pointed at, so overwriting it is reclaiming an orphan. The
    // history write is ALSO temp+atomic-rename: readers of at() see a
    // complete file or none (parse treats a torn file as absent anyway).
    AtomicFiles.writePointer(hist(root, next.version), render(next))
    AtomicFiles.writePointer(ptr(root), render(next))
    next
  }

  /** Optimistic (compare-and-swap) commit: succeeds only if the current
    * manifest version still equals `expected` (None = no manifest yet)
    * AND this writer atomically publishes the next history file. Returns
    * None on conflict — the caller re-reads the current manifest and
    * decides whether its work is still valid (the Delta/Iceberg
    * optimistic-concurrency shape).
    *
    * Why it exists: a maintenance commit racing an ingest commit under
    * plain [[commit]] would last-write-win the pointer and silently DROP
    * the other writer's segment from the live list. Under commitIf
    * exactly one of the two wins; the loser observes the conflict.
    *
    * The commit IS the atomic appearance of the COMPLETE history file:
    * the full content is written to a writer-unique temp, then `link(2)`d
    * to the history name — atomic, and it FAILS if the name exists, never
    * replaces. There is no claim phase, so there is nothing a liveness
    * reclaim could delete out from under a live writer, and a writer that
    * lost the race has no later write that could clobber the winner (the
    * previous empty-claim protocol had exactly that hole: a stalled
    * claimant could resume after its claim was reclaimed and overwrite
    * the history file AND pointer the reclaiming ingest had since
    * committed, silently dropping the ingested segment). A crash before
    * the link leaves only an invisible `.tmp`; a crash after the link is
    * a COMPLETED commit (see [[current]] — the pointer is a cache), so
    * no version number is ever wedged by a dead writer. */
  def commitIf(root: String, expected: Option[Long], segments: Seq[String],
      lastBatch: Long, schemaFp: String): Option[Manifest] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    if (current(root).map(_.version) != expected) return None
    val next = Manifest(expected.map(_ + 1).getOrElse(0L),
      segments, lastBatch, schemaFp)
    val h = hist(root, next.version)
    val tmp = h.resolveSibling(
      s"${h.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    java.nio.file.Files.writeString(tmp, render(next))
    try java.nio.file.Files.createLink(h, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        java.nio.file.Files.deleteIfExists(tmp)
        return None
    }
    java.nio.file.Files.deleteIfExists(tmp)
    AtomicFiles.writePointer(ptr(root), render(next)) // cache refresh only
    Some(next)
  }

  /** Delete history files older than the newest `keep` (never the
    * current pointer's own version). Callers with an O(1)-state contract
    * (IncrementalAgg) prune on every commit; append-only callers prune
    * at vacuum time for versions whose data is gone anyway. Returns the
    * pruned versions. */
  def pruneHistory(root: String, keep: Int): Seq[Long] = {
    val cur = current(root).map(_.version).getOrElse(-1L)
    val prune = versions(root).filter(_ <= cur).dropRight(math.max(keep, 1))
    prune.foreach(v => java.nio.file.Files.deleteIfExists(hist(root, v)))
    prune
  }

  /** Serializes [[reclaimOrphans]] per root: reclaim is check-then-delete,
    * and two CONCURRENT reclaimers re-open the very hole reclaim exists to
    * avoid — reclaimer A sees v torn, reclaimer B deletes v, a writer
    * links a fresh COMPLETE commit at v, then A's stale delete kills that
    * commit and v can be won twice (the contention fuzz caught it). With
    * one reclaimer at a time the torn name stays occupied — blocking every
    * `link(2)` — for A's whole check→delete window, so nothing A deletes
    * can have become a commit. Writers never delete, so they need no lock.
    * Cross-process, reclaim is driver-side maintenance: one supervising
    * process per state root (the same single-maintainer contract as a
    * Delta VACUUM). */
  private val reclaimLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Serialize MAINTENANCE passes (compact/vacuum) per state root, across
    * processes: an exclusive `flock` on `root/_MAINT.lock` wrapped in a
    * per-root JVM monitor (the [[reclaimOrphans]] discipline). Why vacuum
    * needs it: a compaction writes its new segment directory BEFORE its
    * CAS commit, so a concurrent vacuum — which deletes anything absent
    * from the current manifest — would rip the half-written segment out
    * from under the compactor; under one lock the vacuum runs either
    * before the segment exists or after the CAS decided its fate. Append
    * writers never take this lock; [[SegmentedState]] guards their
    * in-flight directories. Returns None — skipping the maintenance pass —
    * if the lock is held by a sibling classloader in this JVM (best-effort
    * maintenance, same as reclaim). */
  def withMaintenanceLock[T](root: String)(body: => T): Option[T] = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val key = "maint:" +
      java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString
    reclaimLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(root).resolve("_MAINT.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val fl = try ch.lock()
          catch { case _: java.nio.channels.OverlappingFileLockException =>
            return None }
        try Some(body) finally fl.release()
      } finally ch.close()
    }
  }

  /** Delete INCOMPLETE history files above the current version — stale
    * empty claims left by the pre-link commitIf protocol, or externally
    * torn files. Under the link protocol a commit only ever appears as a
    * complete file, so nothing this deletes can be (or become) a commit:
    * a name that exists blocks every `link(2)`, and only this reclaim
    * removes names (serialized per root — see [[reclaimLocks]]).
    * Returns the reclaimed version numbers.
    *
    * Cross-process serialization comes from an exclusive `flock` on
    * `root/_RECLAIM.lock`: ingest retry loops call reclaim inline, and a
    * duplicate scheduler legitimately runs two ingest JVMs — without the
    * file lock, reclaimer A's stale delete could kill a COMPLETE commit
    * that reclaimer B's delete + a writer's fresh link placed at the same
    * version between A's check and A's delete. The JVM-level monitor
    * still wraps the flock (one acquisition per JVM — overlapping
    * FileLock requests from one JVM throw rather than block). */
  def reclaimOrphans(root: String): Seq[Long] = {
    // a root with no directory yet has no orphans — match versions()'s
    // tolerance instead of throwing NoSuchFileException from the lock open
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(root)))
      return Seq.empty
    val key = java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString
    reclaimLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(root).resolve("_RECLAIM.lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        // FileLock scope is per-JVM while the reclaimLocks monitor is
        // per-classloader: a sibling classloader in this JVM (REPL reload,
        // two Spark apps sharing a JVM) can already hold the lock, which
        // surfaces as OverlappingFileLockException rather than blocking.
        // Reclaim is best-effort maintenance — skip this pass and let the
        // holder's reclaim (or the next call) pick the orphans up.
        val fl = try ch.lock() // exclusive, blocks other processes' reclaims
          catch { case _: java.nio.channels.OverlappingFileLockException =>
            return Seq.empty }
        try {
          val cur = current(root).map(_.version).getOrElse(-1L)
          val orphans = versions(root).filter(v => v > cur && at(root, v).isEmpty)
          orphans.foreach(v => java.nio.file.Files.deleteIfExists(hist(root, v)))
          orphans
        } finally fl.release()
      } finally ch.close()
    }
  }
}
