package graft

import graft.api.{Manifest, StateManifest}
import org.scalatest.funsuite.AnyFunSuite

/** The single manifest format behind every versioned state directory
  * (segmented states, single-version roots, ModelStore artifacts) and its
  * one commit, `commitIf`: commit monotonicity, history retention,
  * round-trip fidelity, and the crash shapes (a torn history file is
  * absent, a complete one above the pointer is current). */
class StateManifestSpec extends AnyFunSuite {

  private def tmp() =
    java.nio.file.Files.createTempDirectory("manifest-spec").toString

  test("commits are monotone; current and history round-trip exactly") {
    val root = tmp()
    assert(StateManifest.current(root).isEmpty)
    val m0 = StateManifest.commitIf(root, None, Seq("seg00000"), -1L, "abc").get
    val m1 = StateManifest.commitIf(root, Some(0L), Seq("seg00000", "seg00001"), 7L, "abc").get
    assert(m0.version == 0L && m1.version == 1L)
    assert(StateManifest.current(root).contains(m1))
    assert(StateManifest.at(root, 0L).contains(m0))
    assert(StateManifest.at(root, 1L).contains(m1))
    assert(StateManifest.versions(root) == Seq(0L, 1L))
    assert(StateManifest.at(root, 99L).isEmpty)
  }

  test("empty segment list and empty fingerprint round-trip") {
    val root = tmp()
    val m = StateManifest.commitIf(root, None, Seq.empty, -1L, "").get
    assert(StateManifest.current(root).contains(
      Manifest(0L, Seq.empty, -1L, "")))
    assert(m.segments.isEmpty)
  }

  test("externally corrupted numeric fields read as ABSENT, never a reader crash") {
    val root = tmp()
    StateManifest.commitIf(root, None, Seq("a"), 1L, "fp")
    // corruption shapes a torn external write can leave: truncated-digit
    // version, non-numeric version, malformed lastBatch — each must parse
    // as "no manifest here" so current()/at()/reclaimOrphans keep working
    // (a thrown NumberFormatException would wedge the root permanently)
    for (bad <- Seq("version=\nseg=x\neof=1\n", "version=1x\nseg=x\neof=1\n",
        "version=2\nlastBatch=oops\nseg=x\neof=1\n")) {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "_MANIFEST.v2"), bad)
      assert(StateManifest.at(root, 2L).isEmpty, s"parsed corrupt file: $bad")
      assert(StateManifest.current(root).map(_.version).contains(0L))
      assert(StateManifest.reclaimOrphans(root) == Seq(2L),
        "reclaim must clean the corrupt file, not crash on it")
    }
    // progress resumes: the slot is free again for a real commit
    assert(StateManifest.commitIf(root, Some(0L), Seq("a", "b"), 2L, "fp")
      .map(_.version).contains(1L))
  }

  test("commitIf: of N racing writers on one expected version, exactly one wins") {
    val root = tmp()
    StateManifest.commitIf(root, None, Seq("base"), -1L, "fp")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val results = (0 until 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Option[Manifest]] {
          def call(): Option[Manifest] =
            StateManifest.commitIf(root, Some(0L), Seq("base", s"seg-$i"), -1L, "fp")
        })
      }.map(_.get())
      assert(results.count(_.isDefined) == 1,
        s"exactly one CAS commit must win: $results")
      val winner = results.flatten.head
      assert(StateManifest.current(root).contains(winner))
      assert(winner.version == 1L)
    } finally pool.shutdown()
  }

  test("commitIf conflict keeps both writers' segments reachable (no silent drop)") {
    // the compaction-vs-ingest shape: maintenance reads version 0, an
    // ingest commits version 1 meanwhile — maintenance's stale commit
    // must FAIL, so the ingest's segment is never dropped from the list
    val root = tmp()
    StateManifest.commitIf(root, None, Seq("seg0", "seg1"), -1L, "fp") // v0
    val maintExpected = StateManifest.current(root).map(_.version)
    // a racing ingest advances the manifest
    assert(StateManifest.commitIf(root, maintExpected,
      Seq("seg0", "seg1", "seg2"), -1L, "fp").isDefined)
    // maintenance's stale commit (would replace the list with the merged
    // segment computed from v0, dropping seg2) must be refused
    assert(StateManifest.commitIf(root, maintExpected,
      Seq("merged"), -1L, "fp").isEmpty,
      "stale maintenance commit must lose the race")
    assert(StateManifest.current(root).map(_.segments)
      .contains(Seq("seg0", "seg1", "seg2")))
    // maintenance retries on the fresh snapshot and succeeds
    assert(StateManifest.commitIf(root,
      StateManifest.current(root).map(_.version),
      Seq("merged2"), -1L, "fp").isDefined)
  }

  test("reclaimOrphans restores progress after a crashed CAS claim") {
    val root = tmp()
    StateManifest.commitIf(root, None, Seq("a"), -1L, "fp") // v0
    // crashed claimant: history file for v1 exists, pointer still at v0
    java.nio.file.Files.createFile(java.nio.file.Paths.get(root, "_MANIFEST.v1"))
    assert(StateManifest.commitIf(root, Some(0L), Seq("a", "b"), -1L, "fp").isEmpty,
      "an orphan claim must surface as a conflict, not a torn manifest")
    assert(StateManifest.reclaimOrphans(root) == Seq(1L))
    assert(StateManifest.commitIf(root, Some(0L), Seq("a", "b"), -1L, "fp").isDefined,
      "progress must resume after orphan reclaim")
  }

  test("a COMPLETE history file above the pointer IS current (pointer = cache)") {
    // simulate a commitIf that crashed between the history link (the
    // commit point) and the pointer refresh: the commit must be visible,
    // not rolled back — otherwise a later plain commit would reuse the
    // version number and two different manifests would share it
    val root = tmp()
    StateManifest.commitIf(root, None, Seq("a"), 1L, "fp") // v0, pointer at v0
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_MANIFEST.v1"),
      "version=1\nlastBatch=2\nschemaFp=fp\nseg=a\nseg=b\neof=1\n")
    assert(StateManifest.current(root).map(_.version).contains(1L),
      "the complete history file is the commit point")
    assert(StateManifest.current(root).map(_.segments).contains(Seq("a", "b")))
    // and reclaimOrphans must NOT delete it — it is a commit, not a claim
    assert(StateManifest.reclaimOrphans(root).isEmpty,
      "reclaim must never delete a complete commit")
    assert(StateManifest.current(root).map(_.version).contains(1L))
    // the next CAS commit builds on it
    assert(StateManifest.commitIf(root, Some(1L), Seq("a", "b", "c"), 2L, "fp")
      .map(_.version).contains(2L))
  }

  test("a commitIf loser can never clobber the winner's history or pointer") {
    val root = tmp()
    StateManifest.commitIf(root, None, Seq("base"), -1L, "fp") // v0
    val winner = StateManifest.commitIf(root, Some(0L),
      Seq("base", "ingested"), -1L, "fp")
    assert(winner.isDefined)
    // a stale writer that also read v0 (the stalled-compactor shape)
    // loses atomically at the link — there is no post-claim write path
    // left that could overwrite _MANIFEST.v1 or regress the pointer
    assert(StateManifest.commitIf(root, Some(0L), Seq("merged"), -1L, "fp").isEmpty)
    assert(StateManifest.at(root, 1L).map(_.segments)
      .contains(Seq("base", "ingested")),
      "winner's history file must be untouched by the loser")
    assert(StateManifest.current(root).map(_.segments)
      .contains(Seq("base", "ingested")),
      "winner's manifest must stay current")
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(root)).toArray
      .map(_.toString).count(_.endsWith(".tmp")) == 0,
      "loser's temp must be cleaned up")
  }

  test("buildOnce: 8 racing directory builders commit one segment, all serve it, losers' dirs go") {
    import graft.api.ModelStore
    import java.nio.file.{Files, Paths}
    val root = tmp()
    val n = 8
    val building = new java.util.concurrent.CountDownLatch(n)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val paths = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = ModelStore.buildOnce(root, "idx", "dir")(
              d => Some(d).filter(p => Files.isDirectory(Paths.get(p)))) { d =>
            builds.incrementAndGet()
            // no commit lands before every thread has missed and is building
            building.countDown()
            building.await(10, java.util.concurrent.TimeUnit.SECONDS)
            Files.createDirectories(Paths.get(d, "cell=0"))
            Files.writeString(Paths.get(d, "cell=0", "part-0"), s"builder $i")
            d
          }
        })
      }.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get == n, "every thread must have raced the build")
      val cur = StateManifest.current(s"$root/idx").get
      assert(StateManifest.versions(s"$root/idx") == Seq(0L) && cur.segments.size == 1,
        s"exactly one segment must commit: $cur")
      assert(paths.distinct == Seq(s"$root/idx/${cur.segments.head}"),
        s"every caller must get the committed path: ${paths.distinct}")
      val dirs = Option(new java.io.File(s"$root/idx").listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(_.getName)
      assert(dirs == cur.segments, s"losers' directories must be gone: $dirs")
    } finally pool.shutdown()
  }

  test("sustained contention fuzz: linear gap-free history under racing " +
      "writers, concurrent prune/reclaim, and injected torn files") {
    // The single-shot races above pin one interleaving each; this drives
    // the WHOLE protocol at once — 8 writers in commitIf retry loops, a
    // maintenance thread running pruneHistory+reclaimOrphans the entire
    // time, and an adversary dropping torn (parse-incomplete) history
    // files above the head. Invariants at the end: the version chain is
    // gap-free, every writer's commit landed exactly once and in the
    // final segment list, and no temp debris remains. This is the
    // many-ingests-plus-compactor-plus-crashed-peer shape a 100 TB state
    // directory lives under continuously.
    val root = tmp()
    StateManifest.commitIf(root, None, Seq("base"), -1L, "fp") // v0
    val writers = 8; val commitsPer = 25
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers + 2)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // maintenance: prune old history, reclaim torn claims, continuously
    pool.submit(new Runnable { def run(): Unit =
      try while (!stop.get()) {
        StateManifest.pruneHistory(root, keep = 50)
        StateManifest.reclaimOrphans(root)
        Thread.sleep(1)
      } catch { case t: Throwable => failed.set(t) } })
    // adversary: a torn file just above the head blocks that version's
    // link for every writer until reclaim removes it (a crashed external
    // peer); it must stall nobody permanently and never become current
    pool.submit(new Runnable { def run(): Unit =
      try (0 until 20).foreach { _ =>
        val head = StateManifest.current(root).map(_.version).getOrElse(0L)
        val p = java.nio.file.Paths.get(root, s"_MANIFEST.v${head + 1}")
        // CREATE_NEW: a torn file may only take a FREE name — racing a
        // landed commit must fail, never truncate it (a crashed peer
        // leaves its own partial file; it cannot corrupt others')
        try java.nio.file.Files.writeString(p,
          s"version=${head + 1}\nseg=torn\n",
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        Thread.sleep(3)
      } catch { case t: Throwable => failed.set(t) } })
    val tasks = (0 until writers).map { w =>
      pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
        def call(): Seq[Long] = (0 until commitsPer).map { i =>
          var done = Option.empty[Manifest]
          while (done.isEmpty) {
            val cur = StateManifest.current(root).get
            done = StateManifest.commitIf(root, Some(cur.version),
              cur.segments :+ s"w$w-c$i", i.toLong, "fp")
            // liveness against the adversary's torn file on OUR next
            // version: the caller-side retry protocol is reclaim-then-retry
            if (done.isEmpty) StateManifest.reclaimOrphans(root)
          }
          done.get.version
        }
      })
    }
    val versionsWon = tasks.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    stop.set(true); pool.shutdown()
    pool.awaitTermination(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(failed.get() == null, s"background thread failed: ${failed.get()}")
    StateManifest.reclaimOrphans(root) // drop any final torn leftover
    val total = writers * commitsPer
    assert(versionsWon.distinct.size == total,
      "every CAS win must take a distinct version (no two commits share one)")
    val cur = StateManifest.current(root).get
    assert(cur.version == total.toLong, s"head must be v$total, got ${cur.version}")
    assert(cur.segments.size == total + 1 &&
      cur.segments.distinct.size == total + 1,
      "final list must hold base + every writer commit exactly once (no lost updates)")
    val retained = StateManifest.versions(root)
    assert(retained == (retained.min to cur.version),
      s"retained history must be a gap-free suffix chain, got $retained")
    retained.foreach(v => assert(StateManifest.at(root, v).isDefined,
      s"retained v$v must parse as complete"))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(root)).toArray
      .map(_.toString).count(_.endsWith(".tmp")) == 0, "no temp debris")
  }

  test("two-JVM contention drill: no lost segment across 100 commits from " +
      "two real processes") {
    // The in-process fuzz above shares one JVM, so its FileLocks and
    // monitors never cross a process boundary. This is the actual
    // duplicate-scheduler story the scaladoc tells: a SECOND JVM
    // ([[ManifestStressChild]], spawned with this test JVM's classpath)
    // races 50 optimistic ingest commits against 50 from this process,
    // both sides also running the flock'd reclaimOrphans. Exactly one
    // writer wins each version; the final manifest must carry every
    // segment from BOTH processes — the silently-dropped-segment failure
    // commitIf exists to prevent, now pinned across real process and
    // file-lock scope boundaries.
    val root = tmp()
    val commitsPer = 50
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val child = new ProcessBuilder(
      javaBin, "-cp", System.getProperty("java.class.path"),
      "graft.ManifestStressChild", root, "B", commitsPer.toString)
      .redirectErrorStream(true).start()
    ManifestStressChild.writerLoop(root, "A", commitsPer)
    val out = new String(child.getInputStream.readAllBytes())
    assert(child.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
      s"child JVM did not finish:\n$out")
    assert(child.exitValue() == 0, s"child JVM failed:\n$out")
    val cur = StateManifest.current(root).get
    val expected = (0 until commitsPer).flatMap(i => Seq(s"A-$i", s"B-$i")).toSet
    assert(cur.version == (2 * commitsPer - 1).toLong,
      s"head must be v${2 * commitsPer - 1}, got ${cur.version}")
    assert(cur.segments.toSet == expected && cur.segments.size == expected.size,
      s"lost/duplicated segment across processes: ${cur.segments.sorted}")
    val retained = StateManifest.versions(root)
    assert(retained == (retained.min to cur.version),
      s"history must be gap-free, got $retained")
  }

  test("decimal precision widening does not move the schema fingerprint") {
    import org.apache.spark.sql.types._
    val narrow = StructType(Seq(StructField("s", DecimalType(18, 6)),
      StructField("c", LongType)))
    val wide = StructType(Seq(StructField("s", DecimalType(38, 6)),
      StructField("c", LongType)))
    val renamed = StructType(Seq(StructField("x", DecimalType(18, 6)),
      StructField("c", LongType)))
    assert(StateManifest.schemaFingerprint(narrow) ==
      StateManifest.schemaFingerprint(wide),
      "associative-merge decimal widening is not drift")
    assert(StateManifest.schemaFingerprint(narrow) !=
      StateManifest.schemaFingerprint(renamed),
      "a renamed column IS drift")
  }
}
