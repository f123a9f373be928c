package graft.api

/** The single implementation of the write-then-rename pointer-file write,
  * whose one caller is the [[StateManifest]]'s `_MANIFEST` read cache (a
  * state root's batch ledger lives in its manifest, not in a file of its
  * own). Write the new content to a sibling `.tmp`, then atomically rename
  * over the pointer.
  * Readers see the old or the new pointer, never a torn one. Centralized
  * because this is crash-safety-critical code — a future hardening
  * (parent-dir fsync, a fallback for filesystems without ATOMIC_MOVE) must
  * reach every state store at once. */
object AtomicFiles {
  def writePointer(p: java.nio.file.Path, content: String): Unit = {
    // writer-unique temp: with a FIXED temp name, two racing callers
    // (e.g. back-to-back commitIf winners both refreshing the pointer
    // cache) truncate each other's temp and the loser's rename throws
    // NoSuchFile — the contention fuzz caught it. Last rename wins the
    // pointer, which is safe everywhere writePointer is used: the
    // manifest pointer is a read cache corrected by the history scan.
    val tmp = p.resolveSibling(
      s"${p.getFileName}.${java.util.UUID.randomUUID()}.tmp")
    java.nio.file.Files.writeString(tmp, content)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Recursive directory delete (deepest-first; a missing entry is not an
    * error). The ONE copy of the walk-and-reverse-delete loop that segment
    * vacuum and version GC use — symlink or IO-error hardening lands here
    * once, for all of them. */
  def rmTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.isDirectory(dir)) {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
}
