package graft.api

import java.nio.file.{Files, Paths}

/** Durable, fingerprint-keyed storage for fitted model artifacts (IVF
  * centroids, PQ codebooks) — the disk layer under [[ModelCache]].
  *
  * Why: [[ModelCache]] is JVM-local, so every new process re-fits. A
  * production deployment trains the quantizer once per corpus snapshot and
  * SHIPS the model — queries on any executor/driver load it by fingerprint.
  * Each key gets its own [[StateManifest]]-versioned root ([[buildOnce]]):
  * the artifact directory is written first, then published with an
  * optimistic `commitIf` — two processes racing the same first build
  * resolve to exactly one committed artifact (the loser serves the
  * winner's, which determinism makes bit-identical anyway). This is the
  * one writer that stays on raw `commitIf` rather than
  * [[SegmentedState.publish]]: a conflict here means "serve the winner",
  * not "re-apply the edit".
  *
  * Serialization is raw IEEE-754 bits (hex) per component — lossless
  * round-trip by construction, so persisted ≡ cached ≡ fresh is exact
  * (pinned by ModelCacheSpec). A torn/corrupt artifact parses as ABSENT
  * and is re-fit + re-committed as the next manifest version, never
  * served.
  *
  * Keys embed the source-data fingerprint ([[ModelCache.fingerprint]]), so
  * a regenerated corpus can never be served a stale model — it simply
  * misses to a fresh fit under a new key.
  */
object ModelStore {

  /** Default store root; override with GRAFT_MODEL_DIR. Lives outside the
    * repo (tmp) — the store is a cache of derivable artifacts, not source. */
  def defaultRoot: String = sys.env.getOrElse("GRAFT_MODEL_DIR",
    s"${System.getProperty("java.io.tmpdir")}/graft-model-store")

  private def bits(d: Double): String =
    java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
  private def unbits(s: String): Double =
    java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(s, 16))

  private def renderMatrix(m: Array[Array[Double]]): String =
    (s"rows=${m.length}" +: m.toSeq.map(r => s"row=${r.map(bits).mkString(",")}"))
      .mkString("", "\n", "\n")

  /** Upper bound on a parsed row/book count. A corrupt header must parse as
    * ABSENT (refit), never as a crash: a negative count would throw
    * NegativeArraySizeException and a huge one would attempt an OOM-sized
    * allocation before any row is read. Real models are ≤ thousands of rows. */
  private val MaxParsedCount = 1 << 24

  private def saneCount(n: Int): Boolean = n >= 0 && n <= MaxParsedCount

  private def parseMatrix(lines: Iterator[String]): Option[Array[Array[Double]]] = {
    if (!lines.hasNext) return None
    val h = lines.next()
    if (!h.startsWith("rows=")) return None
    h.drop(5).toIntOption.filter(saneCount).flatMap { n =>
      val rows = new Array[Array[Double]](n)
      var i = 0
      while (i < n) {
        if (!lines.hasNext) return None
        val l = lines.next()
        if (!l.startsWith("row=")) return None
        val body = l.drop(4)
        rows(i) =
          if (body.isEmpty) Array.empty[Double]
          else try body.split(",", -1).map(unbits)
          catch { case _: NumberFormatException => return None }
        i += 1
      }
      Some(rows)
    }
  }

  private def renderCube(c: ProductQuant.Codebooks): String =
    (s"books=${c.length}\n" +: c.toSeq.map(renderMatrix)).mkString

  private def parseCube(text: String): Option[ProductQuant.Codebooks] = {
    val lines = text.linesIterator
    if (!lines.hasNext) return None
    val h = lines.next()
    if (!h.startsWith("books=")) return None
    h.drop(6).toIntOption.filter(saneCount).flatMap { n =>
      val books = new Array[Array[Array[Double]]](n)
      var i = 0
      while (i < n) {
        parseMatrix(lines) match {
          case Some(m) => books(i) = m
          case None => return None
        }
        i += 1
      }
      Some(books)
    }
  }

  /** Load-or-build under `root/key`, the one build-once publish: serve
    * what `load` reads from the committed segment directory when its tag
    * `schemaFp` matches (a tag mismatch or a torn/corrupt artifact is a
    * miss), else `build` into a writer-unique segment directory — nothing
    * else ever writes it — and commit that with `commitIf` on the version
    * the miss was read at. The first commit wins: a loser deletes its
    * directory and serves the winner's. A rebuild after a miss commits as
    * the next manifest version. */
  private[graft] def buildOnce[T](root: String, key: String, schemaFp: String)(
      load: String => Option[T])(build: String => T): T = {
    val dirRoot = s"$root/$key"
    def loaded(m: Manifest): Option[T] =
      m.segments.headOption.filter(_ => m.schemaFp == schemaFp)
        .flatMap(seg => load(s"$dirRoot/$seg"))
    val cur = StateManifest.current(dirRoot)
    cur.flatMap(loaded).getOrElse {
      val seg = s"v${cur.map(_.version + 1).getOrElse(0L)}-${java.util.UUID.randomUUID()}"
      val built = build(s"$dirRoot/$seg")
      if (StateManifest.commitIf(dirRoot, cur.map(_.version), Seq(seg),
          lastBatch = -1L, schemaFp = schemaFp).nonEmpty) built
      else StateManifest.current(dirRoot).flatMap(loaded) match {
        case Some(winner) => AtomicFiles.rmTree(Paths.get(dirRoot, seg)); winner
        case None => built
      }
    }
  }

  /** [[buildOnce]] of one `model.txt` per segment. `render`/`parse` are
    * the lossless codec for T; `schemaFp` tags the artifact type so a key
    * collision across types is loud, not a mis-parse. */
  private def cachedArtifact[T](root: String, key: String, schemaFp: String,
      render: T => String, parse: String => Option[T])(fit: => T): T =
    buildOnce(root, key, schemaFp)(dir =>
      try parse(Files.readString(Paths.get(dir, "model.txt")))
      catch { case _: java.io.IOException => None }) { dir =>
      val model = fit
      Files.createDirectories(Paths.get(dir))
      Files.writeString(Paths.get(dir, "model.txt"), render(model))
      model
    }

  /** Persistent 2-D model (IVF centroids): disk-or-fit. */
  def matrix(root: String, key: String)(fit: => Array[Array[Double]]): Array[Array[Double]] =
    cachedArtifact[Array[Array[Double]]](root, key, "matrix",
      renderMatrix, t => parseMatrix(t.linesIterator))(fit)

  /** Persistent 3-D model (PQ codebooks): disk-or-fit. */
  def cube(root: String, key: String)(fit: => ProductQuant.Codebooks): ProductQuant.Codebooks =
    cachedArtifact[ProductQuant.Codebooks](root, key, "cube",
      renderCube, parseCube)(fit)
}
