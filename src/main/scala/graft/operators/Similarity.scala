package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.CrossHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over the `embeddings` table (SURVEY.md §2.B north-star
  * row): brute-force cosine top-k as the verified baseline and sign-LSH
  * bucketing as the scale path.
  *
  * Scale design:
  *   - the brute-force path broadcasts the (small) query set against the
  *     partitioned corpus — one pass, no shuffle of the corpus, per-query
  *     top-k via window over (query × corpus) rows;
  *   - the LSH path reduces each vector to an 8-bit hyperplane-sign bucket
  *     first, so the candidate join is an equi-join on the bucket key —
  *     at 100 TB this is the difference between N·Q and N+Q·bucket work;
  *   - all arithmetic is double with a fixed fold order, so the DuckDB
  *     oracle reproduces results bit-for-bit (ordering included).
  */
object Similarity {

  /** Sequential-fold dot product — same operation order in both engines.
    * Codegen'd custom Expression (graft.functions.DotProduct): bit-identical
    * to the higher-order `aggregate(zip_with(...))` form but ~10× faster —
    * the HOF route interprets the lambda per element. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot_product(a, b)

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), i -> $a[i] * $b[i])), (acc, x) -> acc + x)"

  private def norm(v: Column): Column =
    graft.functions.VectorExprs.l2_norm(v)

  private def normSql(v: String): String =
    s"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform($v, x -> x * x)), (acc, x) -> acc + x))"

  /** Base vectors cast to double, with norms; `label` rides the same
    * single scan of embeddings (no re-join on id). */
  private def normed(s: SparkSession, d: String): DataFrame =
    graft.api.VectorSearch
      .withNorm(Tables.embeddings(s, d), col("vec_id"), col("embedding"), col("label"))

  private val normedCte: String =
    s"""e AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL
       |),
       |n AS (SELECT vec_id, label, v, ${normSql("v")} AS nrm FROM e)""".stripMargin

  /** Near-dup corpus: embeddings plus exactly-colinear (×2) copies of every
    * `vec_id % 10 == 0` vector — cosine exactly 1.0 by IEEE arithmetic. */
  private def eCorpus(s: SparkSession, d: String): DataFrame = {
    // null embeddings skipped like withNorm's ingest seam (mirrored in the CTE)
    val e = Tables.embeddings(s, d).where(col("embedding").isNotNull)
    val base = e.select(col("vec_id").as("id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val scaled = e.where(col("vec_id") % 10 === 0).select(
      (col("vec_id") + 100000L).as("id"), col("label"),
      transform(col("embedding"), x => x.cast("double") * 2).as("v"))
    base.unionAll(scaled).withColumn("nrm", norm(col("v")))
  }

  private val eCorpusCte: String =
    s"""ec AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL
       |  UNION ALL
       |  SELECT vec_id + 100000, label, list_transform(embedding, x -> CAST(x AS DOUBLE) * 2)
       |  FROM embeddings WHERE vec_id % 10 = 0 AND embedding IS NOT NULL
       |),
       |n AS (SELECT vec_id, label, v, ${normSql("v")} AS nrm FROM ec)""".stripMargin

  /** Fingerprint-keyed fit cache ([[graft.api.ModelCache]] in memory,
    * [[graft.api.ModelStore]] on disk): the coarse quantizer and the PQ
    * codebooks are deterministic functions of the embeddings table but are
    * consumed by six different queries AND by every later process — fit
    * once per source-data fingerprint, reuse everywhere, persist through
    * the unified StateManifest so a NEW process loads instead of
    * re-fitting (the production shape at 100 TB: train the quantizer once
    * per corpus snapshot, ship the model). Cached ≡ fresh ≡ persisted is
    * pinned by ModelCacheSpec; a regenerated dataset moves the
    * fingerprint and re-fits under a new key.
    *
    * Model sizing is SCALE-ADAPTIVE (r13's one weak finding — fixed
    * 8-cell models measured collapsing at 10× data): nCells ≈ √N
    * ([[graft.api.VectorSearch.ivfCellsFor]]), PQ codebook cells ≈ √N
    * ([[graft.api.ProductQuant.codebookCellsFor]]), nprobe ≈ √nCells —
    * all exact-integer functions of the corpus row count, replayed by the
    * oracles' `ksz` sizing CTEs so both engines derive identical models
    * at every scale factor. The count itself is one job per fingerprint
    * (cached alongside the models). */
  private def embFp(d: String): String =
    graft.api.ModelCache.fingerprint(d, "embeddings")

  private def nCorpus(s: SparkSession, d: String): Long =
    graft.api.ModelCache.cached(s"cnt:n:${embFp(d)}")(
      java.lang.Long.valueOf(normed(s, d).count())).longValue

  private def nCorpusE(s: SparkSession, d: String): Long =
    graft.api.ModelCache.cached(s"cnt:ec:${embFp(d)}")(
      java.lang.Long.valueOf(eCorpus(s, d).count())).longValue

  private[graft] def ivfNCells(s: SparkSession, d: String): Int =
    graft.api.VectorSearch.ivfCellsFor(nCorpus(s, d))

  private[graft] def ivfNprobe(s: SparkSession, d: String): Int =
    graft.api.VectorSearch.nprobeFor(ivfNCells(s, d))

  private def pqKFor(s: SparkSession, d: String): Int =
    graft.api.ProductQuant.codebookCellsFor(nCorpus(s, d))

  /** Memory → disk → fit, all keyed by (params, source fingerprint). */
  private def cachedMatrix(key: String)(fit: => Array[Array[Double]]): Array[Array[Double]] =
    graft.api.ModelCache.cached(key)(
      graft.api.ModelStore.matrix(graft.api.ModelStore.defaultRoot, key)(fit))

  private[graft] def ivfCents(s: SparkSession, d: String): Array[Array[Double]] = {
    val nc = ivfNCells(s, d)
    cachedMatrix(s"ivf:$nc:2:n:${embFp(d)}")(
      graft.api.VectorSearch.ivfFitKMeans(normed(s, d), nCells = nc, iters = 2))
  }

  private def ivfCentsE(s: SparkSession, d: String): Array[Array[Double]] = {
    val nc = graft.api.VectorSearch.ivfCellsFor(nCorpusE(s, d))
    cachedMatrix(s"ivf:$nc:2:ec:${embFp(d)}")(
      graft.api.VectorSearch.ivfFitKMeans(eCorpus(s, d), nCells = nc, iters = 2))
  }

  /** Build-once cell-partitioned ANN index ([[graft.api.AnnIndex]]):
    * the normed corpus assigned and written Hive-partitioned by IVF cell,
    * keyed by (nCells, embeddings fingerprint) — a regenerated dataset
    * moves the fingerprint and builds under a new key, so a stale layout
    * can never serve a query. The index is the committed segment of its
    * `graft-ann/<key>` root ([[graft.api.ModelStore.buildOnce]]: racing
    * builders in other processes commit exactly one), and this process
    * resolves it once ([[graft.api.ModelCache.cached]]). First touch
    * prices build+search; every later run (and every later process)
    * prices the pruned search alone, the write-once/read-forever
    * amortization the layout exists for. */
  private[graft] def ivfIndexDir(s: SparkSession, d: String): String = {
    val cents = ivfCents(s, d)
    // "seg": the index is a manifest-committed segment; the key never
    // names a directory of the earlier marker-file layout
    val stamp = s"ivfidx:seg:${ivfNCells(s, d)}:2:n:${embFp(d)}"
    graft.api.ModelCache.cached(stamp)(graft.api.ModelStore.buildOnce(
        s"${sys.props("java.io.tmpdir")}/graft-ann", graft.api.ModelCache.sha16(stamp),
        "ann-index")(dir => Some(dir).filter(new java.io.File(_).isDirectory)) {
      dir => graft.api.AnnIndex.build(normed(s, d), cents, dir); dir
    })
  }

  private[graft] def pqBooks(s: SparkSession, d: String): graft.api.ProductQuant.Codebooks = {
    val k = pqKFor(s, d)
    // "u" = unit-sphere fit (round 14): codebooks train on v/‖v‖ so ADC
    // squared-L2 is 2−2·cos — monotone in the cosine ground truth
    val key = s"pq:u:$PqM:$PqSub:$k:$PqRounds:${embFp(d)}"
    graft.api.ModelCache.cached(key)(
      graft.api.ModelStore.cube(graft.api.ModelStore.defaultRoot, key)(
        graft.api.ProductQuant.fit(unitized(normed(s, d)), PqM, PqSub, k, PqRounds)))
  }

  /** Embedding-cosine near-dup detection, blocked by label. The oracle
    * mirrors the Spark-side block cap (blocks > 10000 rows excluded), so
    * both engines compute the identical algorithm at every scale factor —
    * at sf0.01 no label block is near the cap and the filter is a no-op. */
  val qEmbedNeardup: QueryDef = QueryDef.sql(
    "q_embed_neardup",
    s"""WITH $eCorpusCte,
       |bigblk AS (SELECT label FROM n GROUP BY label HAVING count(*) > 10000)
       |SELECT a.vec_id AS a, b.vec_id AS b,
       |       round(${dotSql("a.v", "b.v")} / (a.nrm * b.nrm), 4) AS cos
       |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.99
       |  AND NOT EXISTS (SELECT 1 FROM bigblk g WHERE g.label = a.label)
       |ORDER BY a, b""".stripMargin) { (s, d) =>
    graft.api.VectorSearch
      .nearDuplicates(eCorpus(s, d), block = col("label"), minCosine = 0.99)
      .orderBy("a", "b")
  }

  /** Brute-force cosine top-10: broadcast query set × partitioned corpus. */
  val qSimTopk: QueryDef = QueryDef.sql(
    "q_sim_topk",
    s"""WITH $normedCte,
       |q AS (SELECT * FROM n WHERE vec_id < 10),
       |s AS (
       |  SELECT q.vec_id AS qid, n.vec_id AS nid,
       |         ${dotSql("q.v", "n.v")} / (q.nrm * n.nrm) AS cos
       |  FROM q JOIN n ON n.vec_id <> q.vec_id
       |)
       |SELECT qid, nid, rnk, round(cos, 4) AS cos
       |FROM (SELECT qid, nid, cos,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rnk
       |      FROM s)
       |WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val n = normed(s, d)
    graft.api.VectorSearch.topK(n, n.where(col("id") < 10), k = 10)
      .orderBy("qid", "rnk")
  }

  private val Planes = CrossHash.hyperplanes(8, 64)

  /** DuckDB literal hyperplane table. */
  private val planesCte: String = {
    val rows = Planes.zipWithIndex.map { case (h, p) =>
      s"SELECT $p AS p, [${h.mkString(", ")}]::DOUBLE[] AS h"
    }
    s"hp AS (\n  ${rows.mkString("\n  UNION ALL ")}\n)"
  }

  /** Sign-LSH: 8 hyperplane sign bits → bucket; exact cosine re-rank within
    * the query's bucket (the scale path for ANN at 100 TB). */
  val qSimLsh: QueryDef = QueryDef.sql(
    "q_sim_lsh",
    s"""WITH $normedCte,
       |$planesCte,
       |sig AS (
       |  SELECT n.vec_id,
       |         sum(CASE WHEN ${dotSql("n.v", "hp.h")} > 0
       |                  THEN CAST(1 AS BIGINT) << hp.p ELSE 0 END) AS sig
       |  FROM n, hp GROUP BY n.vec_id
       |),
       |ns AS (SELECT n.*, sig.sig FROM n JOIN sig ON sig.vec_id = n.vec_id),
       |q AS (SELECT * FROM ns WHERE vec_id < 10),
       |s AS (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid,
       |         ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
       |  FROM q JOIN ns c ON c.sig = q.sig AND c.vec_id <> q.vec_id
       |)
       |SELECT qid, nid, rnk, round(cos, 4) AS cos
       |FROM (SELECT qid, nid, cos,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rnk
       |      FROM s)
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val ns = graft.api.VectorSearch.signLsh(normed(s, d), nPlanes = 8, dim = 64)
    graft.api.VectorSearch.annTopK(ns, ns.where(col("id") < 10), k = 5)
      .orderBy("qid", "rnk")
  }

  /** Scale-adaptive model sizing, replayed in SQL — the exact-integer
    * derivation of [[graft.api.VectorSearch.ivfCellsFor]] /
    * [[graft.api.VectorSearch.nprobeFor]] /
    * [[graft.api.ProductQuant.codebookCellsFor]] from count(n): `isq` is
    * the exact integer √ (floor(sqrt) with the two ±1 corrections, immune
    * to IEEE edge rounding), clamps interpolated from the ONE Scala copy.
    * Every fit CTE reads its size from `ksz`, so both engines derive
    * identical models at every corpus size. */
  private val sizingCtes: String = sizingCtesOver("n", "")

  /** [[sizingCtes]] generalized: the identical exact-integer sizing chain
    * computed over corpus CTE `src`, emitting `${pfx}ksz`-prefixed names —
    * so a query whose model trains on a SUBSET (q_incr_ann's frozen
    * bootstrap quantizer) replays the same rules over that subset. */
  private def sizingCtesOver(src: String, pfx: String): String = {
    import graft.api.{ProductQuant => PQ, VectorSearch => VS}
    s"""${pfx}ksz0 AS (SELECT count(*) AS nn,
       |                CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS r0 FROM $src),
       |${pfx}ksz1 AS (SELECT nn, CASE WHEN (r0+1)*(r0+1) <= nn THEN r0+1
       |                         WHEN r0*r0 > nn THEN r0-1 ELSE r0 END AS isq FROM ${pfx}ksz0),
       |${pfx}ksz2 AS (SELECT nn, GREATEST(${VS.IvfCellsMin}, LEAST(${VS.IvfCellsMax}, isq)) AS ncells,
       |                GREATEST(${PQ.CodebookCellsMin}, LEAST(${PQ.CodebookCellsMax}, isq)) AS pqk
       |         FROM ${pfx}ksz1),
       |${pfx}ksz3 AS (SELECT nn, ncells, pqk,
       |                CAST(floor(sqrt(CAST(ncells AS DOUBLE))) AS BIGINT) AS c0 FROM ${pfx}ksz2),
       |${pfx}ksz4 AS (SELECT nn, ncells, pqk,
       |               GREATEST(${VS.NprobeMin},
       |                        CASE WHEN c0*c0 >= ncells THEN c0 ELSE c0+1 END,
       |                        (ncells + ${VS.NprobeDenom - 1}) // ${VS.NprobeDenom}) AS np
       |        FROM ${pfx}ksz3),
       |${pfx}ksz AS (SELECT ncells, pqk, np,
       |               GREATEST(100, ((nn * np) // ncells) // 5) AS shortk FROM ${pfx}ksz4)""".stripMargin
  }

  /** DuckDB CTE chain replaying the Lloyd fit ([[graft.api.VectorSearch
    * .ivfFitKMeans]]): `cn0` = the ksz.ncells lowest-id seed vectors; each
    * round t assigns every vector to its max-cosine cell (ties → lowest
    * cell, matching the engine's argmax-by-Double.compare) and
    * re-centroids with the DECIMAL(18,6)-exact per-dim mean rounded to
    * 4 dp (`+ 0.0` canonicalizes −0.0) — the identical arithmetic the
    * Spark fit runs, so both engines derive bit-identical trained
    * centroids. Empty cells keep the previous centroid via the LEFT JOIN
    * + COALESCE. Requires [[sizingCtes]] earlier in the WITH. */
  private def kmeansCtes(rounds: Int): String = kmeansCtesOver(rounds, "n", "")

  /** [[kmeansCtes]] generalized to train over corpus CTE `src` with
    * `${pfx}`-prefixed names (sizing read from `${pfx}ksz` —
    * [[sizingCtesOver]] must appear earlier in the WITH). */
  private def kmeansCtesOver(rounds: Int, src: String, pfx: String): String = {
    val seed =
      s"""${pfx}cent0 AS (
         |  SELECT CAST(rn - 1 AS INTEGER) AS cell, v FROM (
         |    SELECT row_number() OVER (ORDER BY vec_id) AS rn, v FROM $src)
         |  WHERE rn <= (SELECT ncells FROM ${pfx}ksz)
         |),
         |${pfx}cn0 AS (SELECT cell, v, ${normSql("v")} AS nrm FROM ${pfx}cent0)""".stripMargin
    val iter = (1 to rounds).map { t =>
      val p = t - 1
      s"""${pfx}asg$t AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) DESC, c.cell) AS rn
         |    FROM $src n, ${pfx}cn$p c) WHERE rn = 1
         |),
         |${pfx}mean$t AS (
         |  SELECT a.cell, CAST(g.dim AS INTEGER) AS dim,
         |         round(CAST(sum(CAST(n.v[g.dim + 1] AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) + 0.0 AS c
         |  FROM ${pfx}asg$t a JOIN $src n ON n.vec_id = a.vec_id, (SELECT unnest(range(0, 64)) AS dim) g
         |  GROUP BY a.cell, g.dim
         |),
         |${pfx}cent$t AS (
         |  SELECT p.cell, COALESCE(m.v, p.v) AS v
         |  FROM ${pfx}cn$p p LEFT JOIN
         |    (SELECT cell, list(c ORDER BY dim) AS v FROM ${pfx}mean$t GROUP BY cell) m
         |    ON m.cell = p.cell
         |),
         |${pfx}cn$t AS (SELECT cell, v, ${normSql("v")} AS nrm FROM ${pfx}cent$t)""".stripMargin
    }
    (seed +: iter).mkString(",\n")
  }

  /** IVF-style ANN: a scale-adaptive (nCells ≈ √N) coarse quantizer
    * trained with two Lloyd rounds from the deterministic lowest-id seeds
    * ([[graft.api.VectorSearch.ivfFitKMeans]]), nprobe ≈ √nCells, exact
    * re-rank in the probed cells. The data-adaptive scale path next to the
    * fixed sign-LSH buckets: at 100 TB, the fit moves only the model
    * (cells × dims doubles per round), assignment stays a narrow
    * projection, and the search reads the PERSISTED cell-partitioned
    * index ([[ivfIndexDir]]) — directory-level pruning to the probed
    * cells, plan-gated per run, so bytes touched per query track
    * nprobe/nCells of the corpus instead of its size. */
  val qSimIvf: QueryDef = QueryDef.sql(
    "q_sim_ivf",
    s"""WITH $normedCte,
       |$sizingCtes,
       |${kmeansCtes(rounds = 2)},
       |cc AS (
       |  SELECT n.vec_id, c.cell, ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) AS ccos
       |  FROM n, cn2 c
       |),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc)
       |  WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc WHERE vec_id < 10)
       |  WHERE rn <= (SELECT np FROM ksz)
       |),
       |s AS (
       |  SELECT p.qid, a.vec_id AS nid, ${dotSql("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
       |  FROM probes p
       |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
       |  JOIN n q ON q.vec_id = p.qid
       |  JOIN n t ON t.vec_id = a.vec_id
       |)
       |SELECT qid, nid, rnk, round(cos, 4) AS cos
       |FROM (SELECT qid, nid, cos,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rnk
       |      FROM s)
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val n = normed(s, d)
    val cents = ivfCents(s, d)
    // the search runs over the PERSISTED cell-partitioned index and
    // SELF-GATES on the scan listing only the probed cells' directories
    // (AnnIndex.assertPruned) — the oracle hash-compare then proves the
    // pruned read returns exactly the full-frame answer
    graft.api.AnnIndex
      .ivfTopKIndexed(s, ivfIndexDir(s, d), cents, n.where(col("id") < 10),
        k = 5, nprobe = ivfNprobe(s, d))
      .orderBy("qid", "rnk")
  }

  /** The filtered-search predicate shared by the filtered queries and
    * their recall gauge: a 4-of-10 category bucket. */
  private val FLabels = Seq(0, 3, 6, 9)
  private def fPred = col("label").isin(FLabels.map(Int.box): _*)
  private val fPredSql = s"label IN (${FLabels.mkString(", ")})"

  /** Matching-row census for the selectivity-adaptive nprobe — one
    * narrow-column count, cached per source fingerprint like [[nCorpus]]. */
  private def nMatching(s: SparkSession, d: String): Long =
    graft.api.ModelCache.cached(s"cnt:f${FLabels.mkString("")}:${embFp(d)}")(
      java.lang.Long.valueOf(normed(s, d).where(fPred).count())).longValue

  /** Effective probe count of the filtered route ([[graft.api
    * .VectorSearch.nprobeForFiltered]] — round 19, VERDICT r18 #1: the
    * trade q_ann_filtered's own docs flagged, now shipped): base nprobe
    * scaled by 1/selectivity, capped at nCells. */
  private def fNprobe(s: SparkSession, d: String): Int =
    graft.api.VectorSearch.nprobeForFiltered(ivfNCells(s, d),
      ivfNprobe(s, d), nCorpus(s, d), nMatching(s, d))

  /** The `fnp` oracle CTE: the identical integer rule over `ksz4`
    * (`LEAST(ncells, ceil(np·total/matching))`), so both engines derive
    * the same effective probe count at every scale and selectivity.
    * `kszPfx` selects which sizing chain supplies base np/ncells; `nn`
    * is read from the FULL corpus CTE `n` (the live index rows), which
    * for the bootstrap-sized chain differs from its training count. */
  private def fnpCte(kszPfx: String): String =
    s"""fsel AS (SELECT count(*) AS m, (SELECT count(*) FROM n) AS t
       |          FROM n WHERE $fPredSql),
       |fnp AS (SELECT CASE WHEN f.m = 0 THEN k.ncells
       |               ELSE LEAST(k.ncells, (k.np * f.t + f.m - 1) // f.m)
       |               END AS np
       |        FROM ${kszPfx}ksz4 k, fsel f)""".stripMargin

  /** Filtered top-k over the FROZEN persisted index: adaptive-nprobe
    * probes, pruned directory read, predicate pushed into that same
    * scan, exact re-rank — both plan gates live. */
  private def filteredIndexTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    import graft.api.{AnnIndex, VectorSearch}
    val n = normed(s, d)
    val qs = n.where(col("id") < 10)
    val cents = ivfCents(s, d)
    val dir = ivfIndexDir(s, d)
    val np = fNprobe(s, d)
    val cells = AnnIndex.probedCells(VectorSearch.ivfProbes(qs, cents, np))
    if (cells.isEmpty)
      s.range(0).select(col("id").as("qid"), col("id").as("nid"),
        col("id").cast("int").as("rnk"), col("id").cast("double").as("cos"))
    else {
      val candidates = AnnIndex.readCells(s, dir, cells).where(fPred)
      val out = VectorSearch.ivfTopK(candidates, cents, qs, k, np)
      AnnIndex.assertPruned(out, dir, cells)
      AnnIndex.assertFilterPushed(out, dir, "In(label")
      out
    }
  }

  /** FILTERED vector search (round 18; adaptive nprobe round 19): top-k
    * cosine neighbors among corpus rows satisfying a metadata predicate
    * (`label IN (0,3,6,9)`) — the "search within a category / tenant /
    * license bucket" shape every production retrieval deployment needs
    * beside unfiltered ANN (cf. the reference-class filtered-search APIs
    * in FAISS IDSelector / Milvus expr / Lucene KNN pre-filtering).
    * Strategy: PRE-FILTER at the candidate stage of the persisted
    * cell-partitioned index — the probed cells' directories are listed
    * (plan-gated, [[graft.api.AnnIndex.assertPruned]]) and the predicate
    * is PUSHED into the parquet reader of that pruned read (plan-gated
    * too, [[graft.api.AnnIndex.assertFilterPushed]] — row groups whose
    * min/max exclude the labels never decode), then the exact re-rank
    * sees only matching candidates.
    *
    * Scale shape at 100 TB: bytes touched = (nprobe_eff/nCells) × corpus
    * × predicate row-group selectivity — BOTH prunings compose on the
    * same scan, no second pass. nprobe_eff is SELECTIVITY-ADAPTIVE
    * (round 19 — [[graft.api.VectorSearch.nprobeForFiltered]]): the
    * predicate thins candidates per probed cell by ~selectivity, so the
    * probe count scales by its inverse and the matching-candidate pool
    * stays what the unfiltered search would see — a selective filter
    * costs the unfiltered query's bytes instead of under-filling k. The
    * oracle replays the identical census → probe → filter → re-rank
    * chain, so the gate is exact at any selectivity. */
  val qAnnFiltered: QueryDef = QueryDef.sql(
    "q_ann_filtered",
    s"""WITH $normedCte,
       |$sizingCtes,
       |${fnpCte("")},
       |${kmeansCtes(rounds = 2)},
       |cc AS (
       |  SELECT n.vec_id, c.cell, ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) AS ccos
       |  FROM n, cn2 c
       |),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc)
       |  WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc WHERE vec_id < 10)
       |  WHERE rn <= (SELECT np FROM fnp)
       |),
       |s AS (
       |  SELECT p.qid, a.vec_id AS nid, ${dotSql("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
       |  FROM probes p
       |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
       |  JOIN n q ON q.vec_id = p.qid
       |  JOIN n t ON t.vec_id = a.vec_id
       |  WHERE t.$fPredSql
       |)
       |SELECT qid, nid, rnk, round(cos, 4) AS cos
       |FROM (SELECT qid, nid, cos,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rnk
       |      FROM s)
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    filteredIndexTopK(s, d, k = 5).orderBy("qid", "rnk")
  }

  /** Recall@10 of the IVF route against brute-force ground truth — the
    * evaluation query an approximate index REQUIRES before anyone trusts
    * it ("measure, don't guess" applied to the ANN stack itself). Both
    * legs run with the identical deterministic tie-break (cos DESC, nid),
    * so the top-10 SETS are exactly replayable and recall is an exact
    * integer: hits = |brute ∩ ivf| per query, recall_bp = hits·1000.
    *
    * Scale shape: the brute leg is |Q|·N with the FIXED 10-query probe set
    * broadcast — at 100 TB you run exactly this query over a sampled query
    * set to calibrate nprobe, paying one corpus scan per calibration, while
    * the ivf leg prices the production path (equi-join on probed cells).
    * The intersection joins are on (qid, nid) pairs — model-sized frames,
    * 10·10 rows each. */
  val qAnnRecall: QueryDef = QueryDef.sql(
    "q_ann_recall",
    s"""WITH $normedCte,
       |$sizingCtes,
       |${kmeansCtes(rounds = 2)},
       |brute AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, n.vec_id AS nid,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotSql("q.v", "n.v")} / (q.nrm * n.nrm) DESC, n.vec_id) AS rnk
       |    FROM (SELECT * FROM n WHERE vec_id < 10) q JOIN n ON n.vec_id <> q.vec_id)
       |  WHERE rnk <= 10
       |),
       |cc AS (
       |  SELECT n.vec_id, c.cell, ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) AS ccos
       |  FROM n, cn2 c
       |),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc)
       |  WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc WHERE vec_id < 10)
       |  WHERE rn <= (SELECT np FROM ksz)
       |),
       |ivf AS (
       |  SELECT qid, nid FROM (
       |    SELECT s.qid, s.nid,
       |           row_number() OVER (PARTITION BY s.qid ORDER BY s.cos DESC, s.nid) AS rnk
       |    FROM (
       |      SELECT p.qid, a.vec_id AS nid, ${dotSql("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
       |      FROM probes p
       |      JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
       |      JOIN n q ON q.vec_id = p.qid
       |      JOIN n t ON t.vec_id = a.vec_id) s)
       |  WHERE rnk <= 10
       |),
       |h AS (
       |  SELECT b.qid, count(*) AS hits
       |  FROM brute b JOIN ivf i ON i.qid = b.qid AND i.nid = b.nid
       |  GROUP BY b.qid
       |)
       |SELECT CAST(q.vec_id AS BIGINT) AS qid,
       |       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |       CAST(10 AS BIGINT) AS k,
       |       CAST(COALESCE(h.hits, 0) * 1000 AS BIGINT) AS recall_bp
       |FROM (SELECT vec_id FROM n WHERE vec_id < 10) q
       |LEFT JOIN h ON h.qid = q.vec_id
       |ORDER BY qid""".stripMargin) { (s, d) =>
    val n = normed(s, d)
    val qs = n.where(col("id") < 10)
    val brute = graft.api.VectorSearch.topK(n, qs, k = 10).select("qid", "nid")
    val cents = ivfCents(s, d)
    val assigned = graft.api.VectorSearch.ivfAssign(n, cents)
    val ivf = graft.api.VectorSearch
      .ivfTopK(assigned, cents, qs, k = 10, nprobe = ivfNprobe(s, d)).select("qid", "nid")
    val hits = brute.join(ivf, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    qs.select(col("id").cast("long").as("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).cast("long").as("hits"),
        lit(10L).as("k"),
        (coalesce(col("hits"), lit(0L)) * 1000).cast("long").as("recall_bp"))
      .orderBy("qid")
  }

  /** Recall@10 of the FILTERED route ([[qAnnFiltered]]'s adaptive-nprobe
    * index search) against brute-force FILTERED ground truth — the 4th
    * recall gauge, closing VERDICT r18 watch item #4: without it the
    * filtered search was graded on its easy case only (the unfiltered
    * gauges say nothing about how much the predicate's candidate
    * thinning costs). Both legs restrict candidates to the predicate
    * BEFORE ranking (pre-filter semantics — post-filtering a top-k
    * would under-count the ground truth itself), and the ivf leg probes
    * with the selectivity-adaptive nprobe, so this row measures exactly
    * the rule [[graft.api.VectorSearch.nprobeForFiltered]] ships.
    * Deterministic tie-breaks make recall an exact integer, DuckDB
    * replays both legs, and the decade bench re-runs the gauge at 10×
    * so a selectivity-vs-scale cliff is caught one decade early. */
  val qAnnfRecall: QueryDef = QueryDef.sql(
    "q_annf_recall",
    s"""WITH $normedCte,
       |$sizingCtes,
       |${fnpCte("")},
       |${kmeansCtes(rounds = 2)},
       |brute AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, n.vec_id AS nid,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotSql("q.v", "n.v")} / (q.nrm * n.nrm) DESC, n.vec_id) AS rnk
       |    FROM (SELECT * FROM n WHERE vec_id < 10) q
       |    JOIN n ON n.vec_id <> q.vec_id AND n.$fPredSql)
       |  WHERE rnk <= 10
       |),
       |cc AS (
       |  SELECT n.vec_id, c.cell, ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) AS ccos
       |  FROM n, cn2 c
       |),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc)
       |  WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc WHERE vec_id < 10)
       |  WHERE rn <= (SELECT np FROM fnp)
       |),
       |ivf AS (
       |  SELECT qid, nid FROM (
       |    SELECT s.qid, s.nid,
       |           row_number() OVER (PARTITION BY s.qid ORDER BY s.cos DESC, s.nid) AS rnk
       |    FROM (
       |      SELECT p.qid, a.vec_id AS nid, ${dotSql("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
       |      FROM probes p
       |      JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
       |      JOIN n q ON q.vec_id = p.qid
       |      JOIN n t ON t.vec_id = a.vec_id
       |      WHERE t.$fPredSql) s)
       |  WHERE rnk <= 10
       |),
       |h AS (
       |  SELECT b.qid, count(*) AS hits
       |  FROM brute b JOIN ivf i ON i.qid = b.qid AND i.nid = b.nid
       |  GROUP BY b.qid
       |)
       |SELECT CAST(q.vec_id AS BIGINT) AS qid,
       |       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |       CAST(10 AS BIGINT) AS k,
       |       CAST(COALESCE(h.hits, 0) * 1000 AS BIGINT) AS recall_bp
       |FROM (SELECT vec_id FROM n WHERE vec_id < 10) q
       |LEFT JOIN h ON h.qid = q.vec_id
       |ORDER BY qid""".stripMargin) { (s, d) =>
    val n = normed(s, d)
    val qs = n.where(col("id") < 10)
    val brute = graft.api.VectorSearch.topK(n.where(fPred), qs, k = 10)
      .select("qid", "nid")
    val ivf = filteredIndexTopK(s, d, k = 10).select("qid", "nid")
    val hits = brute.join(ivf, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    qs.select(col("id").cast("long").as("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).cast("long").as("hits"),
        lit(10L).as("k"),
        (coalesce(col("hits"), lit(0L)) * 1000).cast("long").as("recall_bp"))
      .orderBy("qid")
  }

  /** The k-means training step itself as an oracle-gated operator: the
    * model after two Lloyd rounds, materialized as the THIRD round's
    * assignment + per-cell sizes + per-dim means (lazily — the last
    * re-centroid never collects). Every arithmetic step is the
    * deterministic DECIMAL-exact mean of [[graft.api.VectorSearch
    * .ivfFitKMeans]], so the oracle replays the whole iterative fit
    * bit-for-bit — the ANN "fit" is verified directly, not just via its
    * consumers ([[qSimIvf]]). */
  val qKmeansFit: QueryDef = QueryDef.sql(
    "q_kmeans_fit",
    s"""WITH $normedCte,
       |$sizingCtes,
       |${kmeansCtes(rounds = 2)},
       |asgf AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) DESC, c.cell) AS rn
       |    FROM n, cn2 c) WHERE rn = 1
       |)
       |SELECT a.cell, CAST(g.dim AS INTEGER) AS dim, count(*) AS n_vecs,
       |       round(CAST(sum(CAST(n.v[g.dim + 1] AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) + 0.0 AS c
       |FROM asgf a JOIN n ON n.vec_id = a.vec_id, (SELECT unnest(range(0, 64)) AS dim) g
       |GROUP BY a.cell, g.dim
       |ORDER BY cell, dim""".stripMargin) { (s, d) =>
    val n = normed(s, d)
    val cents = ivfCents(s, d)
    graft.api.VectorSearch.ivfAssign(n, cents)
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("cell", "dim")
      .agg(
        count(lit(1)).as("n_vecs"),
        (round(sum(col("x").cast("decimal(18,6)")).cast("double") / count(lit(1)), 4) + 0.0).as("c"))
      .select(col("cell"), col("dim").cast("int").as("dim"), col("n_vecs"), col("c"))
      .orderBy("cell", "dim")
  }

  /** Per-label centroids — supervised (label-keyed) centroids next to the
    * unsupervised Lloyd fit ([[qKmeansFit]]); one re-centroid step of the
    * same arithmetic. posexplode shuffles (label, dim, x) — 8-byte keyed
    * doubles, map-side combined — never whole vectors; DECIMAL partial
    * sums keep each centroid component independent of partition order. */
  val qEmbedCentroids: QueryDef = QueryDef.sql(
    "q_embed_centroids",
    s"""WITH $normedCte,
       |g AS (SELECT unnest(range(0, 64)) AS dim)
       |SELECT label, CAST(dim AS INTEGER) AS dim,
       |       count(*) AS n_vecs,
       |       round(CAST(sum(CAST(v[dim + 1] AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) + 0.0 AS c
       |FROM n, g
       |GROUP BY label, dim
       |ORDER BY label, dim""".stripMargin) { (s, d) =>
    normed(s, d)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(
        count(lit(1)).as("n_vecs"),
        // + 0.0 canonicalizes IEEE -0.0 (a centroid component can round to
        // negative zero, which hashes differently from 0.0)
        (round(sum(col("x").cast("decimal(18,6)")).cast("double") / count(lit(1)), 4) + 0.0).as("c"))
      .select(col("label"), col("dim").cast("int").as("dim"), col("n_vecs"), col("c"))
      .orderBy("label", "dim")
  }

  // ---- product quantization (q_pq_ann) ------------------------------------

  // PQ layout: 8 subspaces × 8 dims = the classic 8 B/vector code (FAISS
  // PQ8x8 shape) — dimension-driven statics. Round 14 widened m 4→8: the
  // measured decade showed 4×16 codebooks (≈28 quantization bits) could
  // not separate near-tie copy families at 10× data even after k scaled
  // with √N; 8 codes double the bit budget at 2× ADC cost.
  private val PqM = 8        // subspaces (64 = 8 × 8)
  private[graft] val PqSub = 8      // dims per subspace
  // centroids per codebook are SCALE-ADAPTIVE (≈ √N, see pqKFor /
  // ProductQuant.codebookCellsFor) — the r13 decade measured the old
  // fixed k=8 collapsing at 10× data
  private val PqRounds = 2   // Lloyd rounds per codebook
  /** Scale-adaptive ADC refine shortlist (FAISS refine's k_factor as a
    * RULE — r15 verdict #1, the third fixed-constant cliff caught one
    * decade early): `max(10·k, pool/5)` where `pool` = the EXPECTED
    * ADC-scored candidates per query, (N · nprobe) / nCells. Why a rule:
    * the r15 gauge decomposed IVF-PQ's recall loss as ~1000 bp probing +
    * ~2800 bp ADC RANKING — true neighbors inside the probed pool ranked
    * below a FIXED 100-entry shortlist among ~4000 candidates; lifting to
    * ~10% of the pool recovered 8000 bp. A constant repeats the failure
    * at the next decade (400 is ~1% of a 10× pool). Why /5 and not /10:
    * the expected pool systematically UNDER-counts the actual one —
    * a query probes where mass is, so probed cells are larger than the
    * mean cell (measured ~1.6× at the sf1 gauge: ~4000 actual vs 2550
    * expected) — /5 is the 10%-of-pool policy with a 2× bias guard.
    * Exact-integer arithmetic, mirrored by the `shortk` field of the
    * oracles' `ksz` sizing CTE. Refine cost stays a constant fraction of
    * the ADC scan it follows (one exact cosine per ~5 ADC-scored codes at
    * scale). */
  private[graft] def pqShortlistFor(pool: Long, k: Int): Int =
    math.min(math.max(10L * k, pool / 5L), Int.MaxValue.toLong).toInt

  /** The shipped shortlist for this corpus: [[pqShortlistFor]] over the
    * IVF-probed pool implied by the cached sizing rules (k = 10, the
    * inventory's ANN k). */
  private[graft] def pqShortlist(s: SparkSession, d: String): Int =
    pqShortlistFor(
      nCorpus(s, d) * ivfNprobe(s, d).toLong / ivfNCells(s, d).toLong, 10)

  /** UNIT-SPHERE projection of the normed corpus — the PQ route trains,
    * encodes, and scores on v/‖v‖: squared L2 between unit vectors is
    * 2−2·cos, so the ADC ranking is monotone in the exact-cosine ground
    * truth the recall gauges grade against. Encoding raw vectors (pre
    * round 14) made ADC rank by unnormalized L2 — a metric MISMATCH that
    * capped recall regardless of codebook size. One narrow projection;
    * both engines divide the identical doubles. */
  private[graft] def unitized(n: DataFrame): DataFrame =
    n.select(col("id"), transform(col("v"), x => x / col("nrm")).as("v"))

  /** The unit-sphere CTE (`nu`) the PQ oracle CTEs read — mirror of
    * [[unitized]]. */
  private val pqUnitCte: String =
    "nu AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS v FROM n)"

  /** Exact-decimal squared L2 between v's subspace slice (0-based `off`)
    * and centroid list `c` — scale-12 decimal, associative, so a
    * list_reduce fold equals Spark's expression-tree fold exactly. */
  private def pqDistSql(v: String, off: Int, c: String): String =
    s"list_reduce(list_transform(range(1, ${PqSub + 1}), i -> " +
      s"(CAST($v[$off + i] AS DECIMAL(12,6)) - CAST($c[i] AS DECIMAL(12,6))) * " +
      s"(CAST($v[$off + i] AS DECIMAL(12,6)) - CAST($c[i] AS DECIMAL(12,6)))), " +
      "(acc, x) -> acc + x)"

  /** One subspace's Lloyd fit + final code assignment + query LUT, as CTEs
    * (the [[kmeansCtes]] pattern on the slice, L2 instead of cosine) —
    * over the UNIT-SPHERE corpus `nu` ([[pqUnitCte]]), so ADC distance is
    * monotone in exact cosine. Codebook size comes from the shared `ksz`
    * sizing CTE — requires [[sizingCtes]] and [[pqUnitCte]] earlier in
    * the WITH. */
  private def pqCtes(s: Int): String = {
    val off = s * PqSub
    val seed =
      s"""pq${s}c0 AS (
         |  SELECT CAST(rn - 1 AS INTEGER) AS cell, cv FROM (
         |    SELECT row_number() OVER (ORDER BY vec_id) AS rn,
         |           v[${off + 1}:${off + PqSub}] AS cv FROM nu)
         |  WHERE rn <= (SELECT pqk FROM ksz)
         |)""".stripMargin
    val iters = (1 to PqRounds).map { t =>
      val p = t - 1
      s"""pq${s}a$t AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY ${pqDistSql("n.v", off, "c.cv")} ASC, c.cell) AS rn
         |    FROM nu n, pq${s}c$p c) WHERE rn = 1
         |),
         |pq${s}m$t AS (
         |  SELECT a.cell, CAST(g.dim AS INTEGER) AS dim,
         |         round(CAST(sum(CAST(n.v[$off + g.dim + 1] AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) + 0.0 AS c
         |  FROM pq${s}a$t a JOIN nu n ON n.vec_id = a.vec_id, (SELECT unnest(range(0, $PqSub)) AS dim) g
         |  GROUP BY a.cell, g.dim
         |),
         |pq${s}c$t AS (
         |  SELECT p.cell, COALESCE(m.cv, p.cv) AS cv
         |  FROM pq${s}c$p p LEFT JOIN
         |    (SELECT cell, list(c ORDER BY dim) AS cv FROM pq${s}m$t GROUP BY cell) m
         |    ON m.cell = p.cell
         |)""".stripMargin
    }
    val fin =
      s"""pq${s}code AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY ${pqDistSql("n.v", off, "c.cv")} ASC, c.cell) AS rn
         |    FROM nu n, pq${s}c$PqRounds c) WHERE rn = 1
         |),
         |pq${s}lut AS (
         |  SELECT q.vec_id AS qid, c.cell, ${pqDistSql("q.v", off, "c.cv")} AS d2
         |  FROM (SELECT * FROM nu WHERE vec_id < 5) q, pq${s}c$PqRounds c
         |)""".stripMargin
    (seed +: iters :+ fin).mkString(",\n")
  }

  /** PQ-ADC approximate nearest neighbor ([[graft.api.ProductQuant]]):
    * 8×8-dim codebooks (≈√N cells each, 2 Lloyd rounds) trained on the
    * unit sphere, corpus compressed to 8 codes/vector, query distance = 8
    * LUT lookups monotone in cosine. Entirely decimal-exact — fit, codes,
    * and ADC scores replay in the oracle bit-for-bit. The memory-scale
    * ANN path: the scored representation is 8 B/vector (the classic PQ8
    * point), so a 10⁹-vector corpus scans from RAM; compose with IVF
    * cells to also cut the candidate count. */
  val qPqAnn: QueryDef = QueryDef.sql(
    "q_pq_ann",
    s"""WITH $normedCte,
       |$sizingCtes,
       |$pqUnitCte,
       |${(0 until PqM).map(pqCtes).mkString(",\n")},
       |k AS (${(0 until PqM).map(s => s"SELECT vec_id, $s AS sub, cell FROM pq${s}code").mkString("\n  UNION ALL ")}),
       |l AS (${(0 until PqM).map(s => s"SELECT qid, $s AS sub, cell, d2 FROM pq${s}lut").mkString("\n  UNION ALL ")}),
       |sc AS (
       |  SELECT l.qid, k.vec_id AS nid, sum(l.d2) AS d2
       |  FROM k JOIN l ON l.sub = k.sub AND l.cell = k.cell
       |  WHERE k.vec_id <> l.qid
       |  GROUP BY l.qid, k.vec_id
       |)
       |SELECT qid, nid, rnk, round(CAST(d2 AS DOUBLE), 4) + 0.0 AS dist2
       |FROM (SELECT qid, nid, d2,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, nid) AS INTEGER) AS rnk
       |      FROM sc)
       |WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    import graft.api.ProductQuant
    val nu = graft.Persisting.maybe(unitized(normed(s, d)))
    val books = pqBooks(s, d)
    val codes = ProductQuant.encode(nu, books, PqSub)
    val lutDf = ProductQuant.lut(nu.where(col("id") < 5), books, PqSub)
    ProductQuant.adcTopK(codes, lutDf, k = 10)
      .orderBy("qid", "rnk")
  }

  /** IVF-PQ composition with exact re-rank — the FAISS-style production
    * ANN shape (`IVF,PQ8` + refine): the IVF coarse quantizer (trained,
    * nprobe ≈ √nCells) decides WHICH vectors a query scores, PQ codes
    * decide how cheaply each candidate is scored (8 LUT lookups on the
    * unit sphere — monotone in cosine), and the ADC top-`10k` shortlist is
    * re-scored by EXACT cosine so compression decides what gets
    * exact-scored, never the final order. At 10⁹ vectors this scans
    * 8 B/vector over 1/nCells of the corpus and touches raw floats for
    * only 10k rows per query. Every stage replays in the oracle: IVF cells
    * via the cosine k-means CTEs, PQ codebooks via the decimal Lloyd CTEs
    * over `nu`, candidates = probed-cell members, ADC = exact-decimal LUT
    * sums, refine = the brute-force cosine over the shortlist. */
  val qIvfPqAnn: QueryDef = QueryDef.sql(
    "q_ivfpq_ann",
    s"""WITH $normedCte,
       |$sizingCtes,
       |$pqUnitCte,
       |${kmeansCtes(rounds = 2)},
       |${(0 until PqM).map(pqCtes).mkString(",\n")},
       |cc AS (
       |  SELECT n.vec_id, c.cell, ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) AS ccos
       |  FROM n, cn2 c
       |),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc)
       |  WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc WHERE vec_id < 5)
       |  WHERE rn <= (SELECT np FROM ksz)
       |),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probes p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
       |),
       |k AS (${(0 until PqM).map(s => s"SELECT vec_id, $s AS sub, cell FROM pq${s}code").mkString("\n  UNION ALL ")}),
       |l AS (${(0 until PqM).map(s => s"SELECT qid, $s AS sub, cell, d2 FROM pq${s}lut").mkString("\n  UNION ALL ")}),
       |sc AS (
       |  SELECT c.qid, c.nid, sum(l.d2) AS d2
       |  FROM cand c
       |  JOIN k ON k.vec_id = c.nid
       |  JOIN l ON l.qid = c.qid AND l.sub = k.sub AND l.cell = k.cell
       |  GROUP BY c.qid, c.nid
       |),
       |short AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, nid) AS rnk
       |    FROM sc)
       |  WHERE rnk <= (SELECT shortk FROM ksz)
       |),
       |ref AS (
       |  SELECT s.qid, s.nid, ${dotSql("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
       |  FROM short s
       |  JOIN n q ON q.vec_id = s.qid
       |  JOIN n t ON t.vec_id = s.nid
       |)
       |SELECT qid, nid, rnk, round(cos, 4) AS cos
       |FROM (SELECT qid, nid, cos,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rnk
       |      FROM ref)
       |WHERE rnk <= 10
       |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    import graft.api.{AnnIndex, ProductQuant, VectorSearch}
    val n = graft.Persisting.maybe(normed(s, d))
    val nu = unitized(n)
    val cents = ivfCents(s, d)
    val books = pqBooks(s, d)
    val codes = ProductQuant.encode(nu, books, PqSub)
    val q = n.where(col("id") < 5)
    val probes = VectorSearch.ivfProbes(q, cents, nprobe = ivfNprobe(s, d))
      .select(col("id").as("qid"), col("pcell"))
    // candidates come from the PERSISTED cell-partitioned index: only the
    // probed cells' directories enter the scan (gated below), so the
    // candidate-generation read is ∝ probed cells even as the corpus grows
    val idxDir = ivfIndexDir(s, d)
    val cells = AnnIndex.probedCells(probes)
    if (cells.isEmpty)
      // empty corpus / degenerate model: nothing probed, nothing returned
      // (same early-out as AnnIndex.ivfTopKIndexed — never open the index)
      s.range(0).select(col("id").as("qid"), col("id").as("nid"),
        col("id").cast("int").as("rnk"), col("id").cast("double").as("cos"))
    else {
      val cand = AnnIndex.readCells(s, idxDir, cells)
        .join(broadcast(probes), col("cell") === col("pcell") && col("id") =!= col("qid"))
        .select(col("qid"), col("id"))
      val out = ProductQuant.adcRefineTopK(codes,
        ProductQuant.lut(nu.where(col("id") < 5), books, PqSub), cand,
        corpus = n, k = 10, shortlist = pqShortlist(s, d))
        .orderBy("qid", "rnk")
      AnnIndex.assertPruned(out, idxDir, cells)
      out
    }
  }

  /** Recall@10 of the IVF-PQ route against brute-force ground truth — the
    * companion of [[qAnnRecall]] for the COMPRESSED path: [[qAnnRecall]]
    * grades only the coarse quantizer (exact distances over probed cells);
    * this grades the full production stack — candidates from the probed
    * cells, every candidate scored by the 8-lookup unit-sphere ADC
    * approximation, and the ADC top-10k shortlist exact-re-ranked (the
    * shipped [[qIvfPqAnn]] pipeline, stage for stage). The two recall
    * numbers bracket the loss budget: IVF recall - IVFPQ recall is the
    * cost of scanning 8 B/vector codes instead of raw floats — nonzero
    * exactly when quantization pushes a true neighbor out of the
    * shortlist — the number that decides m/k/shortlist sizing before
    * anyone ships the index.
    *
    * Both legs use deterministic tie-breaks (brute: cos DESC, nid; ADC:
    * d2 ASC, nid), so the top-10 sets replay exactly and recall is an
    * exact integer (recall_bp = hits·1000). Scale shape matches
    * [[qAnnRecall]]: the brute leg is the calibration scan you pay once
    * per query-sample, the IVF-PQ leg prices the production path. */
  val qAnnPqRecall: QueryDef = QueryDef.sql(
    "q_annpq_recall",
    s"""WITH $normedCte,
       |$sizingCtes,
       |$pqUnitCte,
       |${kmeansCtes(rounds = 2)},
       |${(0 until PqM).map(pqCtes).mkString(",\n")},
       |brute AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, n.vec_id AS nid,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotSql("q.v", "n.v")} / (q.nrm * n.nrm) DESC, n.vec_id) AS rnk
       |    FROM (SELECT * FROM n WHERE vec_id < 5) q JOIN n ON n.vec_id <> q.vec_id)
       |  WHERE rnk <= 10
       |),
       |cc AS (
       |  SELECT n.vec_id, c.cell, ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) AS ccos
       |  FROM n, cn2 c
       |),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc)
       |  WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc WHERE vec_id < 5)
       |  WHERE rn <= (SELECT np FROM ksz)
       |),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probes p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
       |),
       |k AS (${(0 until PqM).map(s => s"SELECT vec_id, $s AS sub, cell FROM pq${s}code").mkString("\n  UNION ALL ")}),
       |l AS (${(0 until PqM).map(s => s"SELECT qid, $s AS sub, cell, d2 FROM pq${s}lut").mkString("\n  UNION ALL ")}),
       |sc AS (
       |  SELECT c.qid, c.nid, sum(l.d2) AS d2
       |  FROM cand c
       |  JOIN k ON k.vec_id = c.nid
       |  JOIN l ON l.qid = c.qid AND l.sub = k.sub AND l.cell = k.cell
       |  GROUP BY c.qid, c.nid
       |),
       |short AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, nid) AS rnk
       |    FROM sc)
       |  WHERE rnk <= (SELECT shortk FROM ksz)
       |),
       |ref AS (
       |  SELECT s.qid, s.nid, ${dotSql("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
       |  FROM short s
       |  JOIN n q ON q.vec_id = s.qid
       |  JOIN n t ON t.vec_id = s.nid
       |),
       |ipq AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid,
       |           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
       |    FROM ref)
       |  WHERE rnk <= 10
       |),
       |h AS (
       |  SELECT b.qid, count(*) AS hits
       |  FROM brute b JOIN ipq i ON i.qid = b.qid AND i.nid = b.nid
       |  GROUP BY b.qid
       |)
       |SELECT CAST(q.vec_id AS BIGINT) AS qid,
       |       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |       CAST(10 AS BIGINT) AS k,
       |       CAST(COALESCE(h.hits, 0) * 1000 AS BIGINT) AS recall_bp
       |FROM (SELECT vec_id FROM n WHERE vec_id < 5) q
       |LEFT JOIN h ON h.qid = q.vec_id
       |ORDER BY qid""".stripMargin) { (s, d) =>
    import graft.api.{ProductQuant, VectorSearch}
    val n = graft.Persisting.maybe(normed(s, d))
    val qs = n.where(col("id") < 5)
    val brute = VectorSearch.topK(n, qs, k = 10).select("qid", "nid")
    val cents = ivfCents(s, d)
    val assigned = VectorSearch.ivfAssign(n, cents)
    val books = pqBooks(s, d)
    val nu = unitized(n)
    val codes = ProductQuant.encode(nu, books, PqSub)
    val probes = VectorSearch.ivfProbes(qs, cents, nprobe = ivfNprobe(s, d))
      .select(col("id").as("qid"), col("pcell"))
    val cand = assigned
      .join(broadcast(probes), col("cell") === col("pcell") && col("id") =!= col("qid"))
      .select(col("qid"), col("id"))
    val ipq = ProductQuant
      .adcRefineTopK(codes,
        ProductQuant.lut(nu.where(col("id") < 5), books, PqSub), cand,
        corpus = n, k = 10, shortlist = pqShortlist(s, d))
      .select("qid", "nid")
    val hits = brute.join(ipq, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    qs.select(col("id").cast("long").as("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).cast("long").as("hits"),
        lit(10L).as("k"),
        (coalesce(col("hits"), lit(0L)) * 1000).cast("long").as("recall_bp"))
      .orderBy("qid")
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup via cluster-blocked
    * embedding similarity. Unlike [[qEmbedNeardup]]'s label blocking (needs
    * a curated key), the blocking key here is LEARNED: the corpus is
    * assigned to a k-means coarse quantizer trained by the same
    * deterministic Lloyd fit the IVF index uses, near-dup pairs form only
    * WITHIN a cell, and every vector with a lower-id ≥0.99-cosine neighbor
    * in its cell is dropped. Output is the per-vector keep/drop
    * materialization (the [[Dedup.qDedupKeep]] shape) a corpus pipeline
    * joins against.
    *
    * Scale: the fit moves only the model; assignment is a narrow
    * projection (no exchange); candidate pairs are an equi-join on the
    * cell id with [[graft.api.BucketCap]] dropping degenerate cells
    * (mirrored in the oracle); the drop set shuffles bare 8-byte ids. At
    * 100 TB the quadratic term is bounded per cell — raise nCells so
    * corpus/nCells stays under the cap, exactly how SemDeDup shards its
    * pairwise pass in practice. */
  val qSemanticDedup: QueryDef = QueryDef.sql(
    "q_semantic_dedup",
    s"""WITH $eCorpusCte,
       |$sizingCtes,
       |${kmeansCtes(rounds = 2)},
       |asgf AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) DESC, c.cell) AS rn
       |    FROM n, cn2 c) WHERE rn = 1
       |),
       |av AS (SELECT a.cell, n.vec_id, n.v, n.nrm FROM asgf a JOIN n ON n.vec_id = a.vec_id),
       |bigcell AS (SELECT cell FROM av GROUP BY cell HAVING count(*) > 10000),
       |drops AS (
       |  SELECT DISTINCT b.vec_id AS vid
       |  FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.99
       |    AND NOT EXISTS (SELECT 1 FROM bigcell g WHERE g.cell = a.cell)
       |)
       |SELECT av.vec_id, av.cell, (d.vid IS NULL) AS kept
       |FROM av LEFT JOIN drops d ON d.vid = av.vec_id
       |ORDER BY av.vec_id""".stripMargin) { (s, d) =>
    val n = eCorpus(s, d)
    val cents = ivfCentsE(s, d)
    val assigned = graft.Persisting.maybe(
      graft.api.VectorSearch.ivfAssign(n, cents))
    val drops = graft.api.VectorSearch
      .nearDuplicates(assigned, block = col("cell"), minCosine = 0.99)
      .select(col("b").as("id")).distinct()
      .withColumn("__dup", lit(true))
    assigned.select(col("id"), col("cell"))
      .join(drops, Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cell"), col("__dup").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** Hybrid retrieval: reciprocal-rank fusion (Cormack et al. 2009) of the
    * BM25 keyword leg ([[TextAnalysis.qBm25Search]]'s scorer) and an exact
    * cosine vector leg (query = corpus vector 0), joined on the shared
    * document/vector id space. Each leg contributes 10⁶ ÷ (60 + rank) in
    * exact integer micro-units (k = 60, the published constant); a doc in
    * one leg only gets 0 from the other — the full-outer fusion every
    * RAG-ish retrieval stack runs.
    *
    * Scale: each leg reduces to its top-50 BEFORE fusing (keyword leg via
    * TakeOrderedAndProject, vector leg via the bounded-heap [[graft
    * .functions.TopKAgg]]); the rank windows then run over ≤50-row frames,
    * and the fusion join moves 100 rows. Nothing rank-related ever sees
    * the full corpus — the global-sort-free fusion shape. */
  val qHybridSearch: QueryDef = QueryDef.sql(
    "q_hybrid_search",
    s"""WITH ${TextAnalysis.bm25Ctes},
       |kw AS (
       |  SELECT doc_id, rank_kw FROM (
       |    SELECT doc_id,
       |           CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rank_kw
       |    FROM kws) WHERE rank_kw <= 50),
       |$normedCte,
       |q AS (SELECT v, nrm FROM n WHERE vec_id = 0),
       |vs AS (
       |  SELECT n.vec_id, ${dotSql("n.v", "q.v")} / (n.nrm * q.nrm) AS cos
       |  FROM n, q WHERE n.vec_id <> 0),
       |vec AS (
       |  SELECT vec_id, rank_vec FROM (
       |    SELECT vec_id,
       |           CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INTEGER) AS rank_vec
       |    FROM vs) WHERE rank_vec <= 50),
       |f AS (
       |  SELECT COALESCE(kw.doc_id, vec.vec_id) AS id, rank_kw, rank_vec
       |  FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.vec_id)
       |SELECT id, rank_kw, rank_vec,
       |       COALESCE(CAST(1000000 // (60 + rank_kw) AS BIGINT), 0)
       |     + COALESCE(CAST(1000000 // (60 + rank_vec) AS BIGINT), 0) AS rrf_micro
       |FROM f
       |ORDER BY rrf_micro DESC, id
       |LIMIT 20""".stripMargin) { (s, d) =>
    val rankW = Window.orderBy(col("score_micro").desc, col("doc_id"))
    val kw = TextAnalysis.bm25Scored(s, d)
      .orderBy(col("score_micro").desc, col("doc_id")).limit(50)
      .select(col("doc_id").as("id"),
        row_number().over(rankW).as("rank_kw"))
    val n = normed(s, d)
    val vec = graft.api.VectorSearch.topK(n, n.where(col("id") === 0), k = 50)
      .select(col("nid").as("id"), col("rnk").as("rank_vec"))
    kw.join(vec, Seq("id"), "full_outer")
      .selectExpr("id", "rank_kw", "rank_vec",
        "coalesce(1000000 div (60 + rank_kw), 0) + coalesce(1000000 div (60 + rank_vec), 0) AS rrf_micro")
      .orderBy(col("rrf_micro").desc, col("id"))
      .limit(20)
  }

  /** Recall@5 of the sign-LSH route ([[qSimLsh]]) against brute-force
    * ground truth — the third recall gauge, completing the set: every ANN
    * route the engine ships (fixed-hyperplane LSH here, learned-IVF
    * [[qAnnRecall]], compressed IVF-PQ [[qAnnPqRecall]]) now carries its
    * own oracle-gated quality row. LSH recall − IVF recall is the price of
    * the fixed non-learned partition; at 100 TB this is the number that
    * decides nPlanes/band sizing (and whether to pay the k-means fit at
    * all) before anyone ships the index. Same shape as the siblings: the
    * brute leg is the once-per-calibration corpus scan over a sampled
    * query set, the LSH leg prices the production path (one equi-join on
    * the 8-bit signature), and deterministic tie-breaks (cos DESC, nid)
    * make recall an exact integer — recall_bp = hits·2000 at k=5. */
  val qLshRecall: QueryDef = QueryDef.sql(
    "q_lsh_recall",
    s"""WITH $normedCte,
       |$planesCte,
       |brute AS (
       |  SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, n.vec_id AS nid,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${dotSql("q.v", "n.v")} / (q.nrm * n.nrm) DESC, n.vec_id) AS rnk
       |    FROM (SELECT * FROM n WHERE vec_id < 10) q JOIN n ON n.vec_id <> q.vec_id)
       |  WHERE rnk <= 5
       |),
       |sig AS (
       |  SELECT n.vec_id,
       |         sum(CASE WHEN ${dotSql("n.v", "hp.h")} > 0
       |                  THEN CAST(1 AS BIGINT) << hp.p ELSE 0 END) AS sig
       |  FROM n, hp GROUP BY n.vec_id
       |),
       |ns AS (SELECT n.*, sig.sig FROM n JOIN sig ON sig.vec_id = n.vec_id),
       |lsh AS (
       |  SELECT qid, nid FROM (
       |    SELECT s.qid, s.nid,
       |           row_number() OVER (PARTITION BY s.qid ORDER BY s.cos DESC, s.nid) AS rnk
       |    FROM (
       |      SELECT q.vec_id AS qid, c.vec_id AS nid,
       |             ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos
       |      FROM (SELECT * FROM ns WHERE vec_id < 10) q
       |      JOIN ns c ON c.sig = q.sig AND c.vec_id <> q.vec_id) s)
       |  WHERE rnk <= 5
       |),
       |h AS (
       |  SELECT b.qid, count(*) AS hits
       |  FROM brute b JOIN lsh l ON l.qid = b.qid AND l.nid = b.nid
       |  GROUP BY b.qid
       |)
       |SELECT CAST(q.vec_id AS BIGINT) AS qid,
       |       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |       CAST(5 AS BIGINT) AS k,
       |       CAST(COALESCE(h.hits, 0) * 2000 AS BIGINT) AS recall_bp
       |FROM (SELECT vec_id FROM n WHERE vec_id < 10) q
       |LEFT JOIN h ON h.qid = q.vec_id
       |ORDER BY qid""".stripMargin) { (s, d) =>
    import graft.api.VectorSearch
    val n = graft.Persisting.maybe(normed(s, d))
    val qs = n.where(col("id") < 10)
    val brute = VectorSearch.topK(n, qs, k = 5).select("qid", "nid")
    val ns = VectorSearch.signLsh(n, nPlanes = 8, dim = 64)
    val lsh = VectorSearch.annTopK(ns, ns.where(col("id") < 10), k = 5)
      .select("qid", "nid")
    val hits = brute.join(lsh, Seq("qid", "nid"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    qs.select(col("id").cast("long").as("qid"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).cast("long").as("hits"),
        lit(5L).as("k"),
        (coalesce(col("hits"), lit(0L)) * 2000).cast("long").as("recall_bp"))
      .orderBy("qid")
  }

  /** Frozen-model sizing for the MAINTAINED index ([[qIncrAnn]]): cells
    * and probes derive from the BOOTSTRAP corpus count (the model is
    * frozen at bootstrap — later ingests must not move the sizing, or
    * assignment would stop being replayable). */
  private def nBootstrap(s: SparkSession, d: String): Long =
    graft.api.ModelCache.cached(s"cnt:nb:${embFp(d)}")(
      java.lang.Long.valueOf(normed(s, d).where(col("id") % 3 =!= 0).count())).longValue

  private def incCells(s: SparkSession, d: String): Int =
    graft.api.VectorSearch.ivfCellsFor(nBootstrap(s, d))

  private def incCents(s: SparkSession, d: String): Array[Array[Double]] = {
    val nc = incCells(s, d)
    cachedMatrix(s"ivfinc:$nc:2:nb:${embFp(d)}")(
      graft.api.VectorSearch.ivfFitKMeans(
        normed(s, d).where(col("id") % 3 =!= 0), nCells = nc, iters = 2))
  }

  /** INCREMENTAL maintenance of the cell-partitioned ANN index
    * ([[graft.api.AnnIngest]]): the quantizer trains once on the
    * bootstrap corpus (`vec_id % 3 <> 0`) and FREEZES; the remaining
    * vectors arrive as two delta ingests that assign with the frozen
    * model and append one cell-partitioned segment each — O(Δ) work per
    * ingest, the full corpus never re-encodes. The history compacts
    * MID-SEQUENCE (between the ingests, + vacuum), and the final search
    * reads the union of live segments pruned to the probed cells
    * (plan-gated). The oracle replays the whole lifecycle declaratively:
    * train on the bootstrap subset, assign the union, probe, re-rank —
    * so the hash-compare proves ingest ∘ compact ∘ search ≡ one-shot
    * index build over everything ingested.
    *
    * The 100 TB story this row pins: a production ANN index is
    * MAINTAINED, not rebuilt — a day's new vectors cost one assignment
    * pass over the delta plus an append, searches stay ∝ probed cells
    * across however many ingests landed, and compaction (the same
    * manifest-CAS lifecycle as the dedup band index and the join-MV
    * history) keeps per-cell file counts flat. */
  val qIncrAnn: QueryDef = QueryDef.sql(
    "q_incr_ann",
    s"""WITH $normedCte,
       |nb AS (SELECT * FROM n WHERE vec_id % 3 <> 0),
       |${sizingCtesOver("nb", "b")},
       |${kmeansCtesOver(2, "nb", "b")},
       |cc AS (
       |  SELECT n.vec_id, c.cell, ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) AS ccos
       |  FROM n, bcn2 c
       |),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc)
       |  WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc WHERE vec_id < 10)
       |  WHERE rn <= (SELECT np FROM bksz)
       |),
       |s AS (
       |  SELECT p.qid, a.vec_id AS nid, ${dotSql("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
       |  FROM probes p
       |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
       |  JOIN n q ON q.vec_id = p.qid
       |  JOIN n t ON t.vec_id = a.vec_id
       |)
       |SELECT qid, nid, rnk, round(cos, 4) AS cos
       |FROM (SELECT qid, nid, cos,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rnk
       |      FROM s)
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val root = incrAnnRoot(s, d)
    graft.api.AnnIngest.searchTopK(s, root, incCents(s, d),
      normed(s, d).where(col("id") < 10),
      k = 5, nprobe = graft.api.VectorSearch.nprobeFor(incCells(s, d)))
      .orderBy("qid", "rnk")
  }

  /** Run (or replay — the ledger makes every step a no-op on re-entry)
    * the maintained-index lifecycle q_incr_ann pins: bootstrap, ingest
    * Δ1, compact + vacuum MID-SEQUENCE, ingest Δ2, final compact (so the
    * search layout — and its plan budget — is one segment
    * deterministically; AnnIngestSpec covers the multi-segment search
    * path on its own roots). Shared with the filtered search so both
    * queries serve one maintained root. */
  private def incrAnnRoot(s: SparkSession, d: String): String = {
    import graft.api.AnnIngest
    val n = normed(s, d)
    val cents = incCents(s, d)
    val stamp = s"annInc:${incCells(s, d)}:${embFp(d)}"
    val root = s"${sys.props("java.io.tmpdir")}/graft-ann-inc/" +
      graft.api.ModelCache.sha16(stamp) // collision-resistant (ADVICE r17)
    AnnIngest.ingest(s, root, n.where(col("id") % 3 =!= 0), cents, 0L)
    AnnIngest.ingest(s, root,
      n.where(col("id") % 3 === 0 && col("id") % 2 === 0), cents, 1L)
    AnnIngest.compact(s, root)
    AnnIngest.vacuum(root)
    AnnIngest.ingest(s, root,
      n.where(col("id") % 3 === 0 && col("id") % 2 === 1), cents, 2L)
    AnnIngest.compact(s, root)
    AnnIngest.vacuum(root)
    root
  }

  /** FILTERED search over the MAINTAINED index (round 19, VERDICT r18
    * #1): the production composition "live index + tenant filter" —
    * [[qIncrAnn]]'s lifecycle (frozen bootstrap quantizer, O(Δ) ingests,
    * mid-sequence compaction) plus [[qAnnFiltered]]'s predicate, served
    * by [[graft.api.AnnIngest.searchTopKFiltered]]: the predicate is
    * pushed into the pruned live-segment union scan and nprobe adapts to
    * predicate selectivity, both plan-gated on the same scan. The oracle
    * replays census → adaptive probes → filter → re-rank over the frozen
    * bootstrap-trained model declaratively, so the hash-compare proves
    * filtered-search-over-maintained-index ≡ filtered search over a
    * one-shot index of everything ingested. */
  val qIncrAnnFiltered: QueryDef = QueryDef.sql(
    "q_incr_ann_filtered",
    s"""WITH $normedCte,
       |nb AS (SELECT * FROM n WHERE vec_id % 3 <> 0),
       |${sizingCtesOver("nb", "b")},
       |${fnpCte("b")},
       |${kmeansCtesOver(2, "nb", "b")},
       |cc AS (
       |  SELECT n.vec_id, c.cell, ${dotSql("n.v", "c.v")} / (n.nrm * c.nrm) AS ccos
       |  FROM n, bcn2 c
       |),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc)
       |  WHERE rn = 1
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM cc WHERE vec_id < 10)
       |  WHERE rn <= (SELECT np FROM fnp)
       |),
       |s AS (
       |  SELECT p.qid, a.vec_id AS nid, ${dotSql("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
       |  FROM probes p
       |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
       |  JOIN n q ON q.vec_id = p.qid
       |  JOIN n t ON t.vec_id = a.vec_id
       |  WHERE t.$fPredSql
       |)
       |SELECT qid, nid, rnk, round(cos, 4) AS cos
       |FROM (SELECT qid, nid, cos,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rnk
       |      FROM s)
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val root = incrAnnRoot(s, d)
    graft.api.AnnIngest.searchTopKFiltered(s, root, incCents(s, d),
      normed(s, d).where(col("id") < 10), k = 5,
      nprobe = graft.api.VectorSearch.nprobeFor(incCells(s, d)),
      pred = fPred, pushedNeedle = "In(label")
      .orderBy("qid", "rnk")
  }

  /** Run (or replay) the DELETE lifecycle [[qIncrAnnDelete]] pins:
    * bootstrap, ingest Δ1, DELETE every `id % 7 = 0` (hits bootstrap AND
    * Δ1 rows), then ingest Δ2 — whose rows include some deleted ids
    * (`id ≡ 21 (mod 42)`), which RESURRECT because the tombstone only
    * erases segments older than itself. No compaction: the query serves
    * the tombstone-live layout (the broadcast anti-join path a
    * production index runs between merges; AnnIngestSpec pins
    * compact ≡ same result on its own roots). */
  private def incrAnnDelRoot(s: SparkSession, d: String): String = {
    import graft.api.AnnIngest
    val n = normed(s, d)
    val cents = incCents(s, d)
    val stamp = s"annIncDel:${incCells(s, d)}:${embFp(d)}"
    val root = s"${sys.props("java.io.tmpdir")}/graft-ann-inc/" +
      graft.api.ModelCache.sha16(stamp)
    AnnIngest.ingest(s, root, n.where(col("id") % 3 =!= 0), cents, 0L)
    AnnIngest.ingest(s, root,
      n.where(col("id") % 3 === 0 && col("id") % 2 === 0), cents, 1L)
    AnnIngest.delete(s, root,
      n.where(col("id") % 7 === 0).select(col("id")), 2L)
    AnnIngest.ingest(s, root,
      n.where(col("id") % 3 === 0 && col("id") % 2 === 1), cents, 3L)
    root
  }

  /** DELETES on the maintained ANN index (round 19): the missing half of
    * the production write path — FAISS `remove_ids` / the Milvus/Lucene
    * tombstone-and-merge design. [[graft.api.AnnIngest.delete]] appends
    * an id-sized tombstone segment under the same batch ledger as
    * ingests; search subtracts tombstones with a BROADCAST anti-join at
    * the candidate stage (cost ∝ candidates already read, never ∝
    * corpus), and compaction folds them in physically. Ordering is
    * batch-exact — a tombstone erases only rows from segments OLDER than
    * itself, so this query's Δ2 (ingested AFTER the delete) resurrects
    * the ids it re-adds, exactly what replaying the ledger reproduces.
    *
    * The oracle replays the visible set declaratively — (bootstrap ∪ Δ1)
    * minus the deleted ids, plus all of Δ2 — then probes and re-ranks
    * with the frozen bootstrap model, so the hash-compare proves
    * ingest ∘ delete ∘ ingest ∘ search ≡ a one-shot index of exactly the
    * visible rows. 100 TB shape: a delete costs one tiny append; the
    * per-query price is a broadcast anti-join against deletion-sized
    * tombstones; compaction reclaims the space and retires the
    * tombstones on the existing maintenance cadence. */
  val qIncrAnnDelete: QueryDef = QueryDef.sql(
    "q_incr_ann_delete",
    s"""WITH $normedCte,
       |nb AS (SELECT * FROM n WHERE vec_id % 3 <> 0),
       |${sizingCtesOver("nb", "b")},
       |${kmeansCtesOver(2, "nb", "b")},
       |nlive AS (
       |  SELECT * FROM n
       |  WHERE (vec_id % 3 <> 0 OR vec_id % 2 = 0) AND vec_id % 7 <> 0
       |  UNION ALL
       |  SELECT * FROM n WHERE vec_id % 3 = 0 AND vec_id % 2 = 1
       |),
       |ccl AS (
       |  SELECT v.vec_id, c.cell, ${dotSql("v.v", "c.v")} / (v.nrm * c.nrm) AS ccos
       |  FROM nlive v, bcn2 c
       |),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM ccl)
       |  WHERE rn = 1
       |),
       |ccq AS (
       |  SELECT q.vec_id, c.cell, ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS ccos
       |  FROM (SELECT * FROM n WHERE vec_id < 10) q, bcn2 c
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM ccq)
       |  WHERE rn <= (SELECT np FROM bksz)
       |),
       |s AS (
       |  SELECT p.qid, a.vec_id AS nid, ${dotSql("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
       |  FROM probes p
       |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
       |  JOIN n q ON q.vec_id = p.qid
       |  JOIN nlive t ON t.vec_id = a.vec_id
       |)
       |SELECT qid, nid, rnk, round(cos, 4) AS cos
       |FROM (SELECT qid, nid, cos,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rnk
       |      FROM s)
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val root = incrAnnDelRoot(s, d)
    graft.api.AnnIngest.searchTopK(s, root, incCents(s, d),
      normed(s, d).where(col("id") < 10),
      k = 5, nprobe = graft.api.VectorSearch.nprobeFor(incCells(s, d)))
      .orderBy("qid", "rnk")
  }

  /** TIME-TRAVEL search over the maintained index (round 19b):
    * [[qIncrAnnDelete]]'s root retains four manifest commits (bootstrap,
    * Δ1, the delete wave, the resurrecting Δ2) — this query searches
    * AS OF version 2: after the delete, BEFORE the resurrection, so the
    * result differs from both the v1 prefix and the current index
    * exactly where the lifecycle wrote. The reproducibility contract a
    * retrieval experiment needs (Delta/Iceberg `VERSION AS OF` on the
    * ANN surface): pin the index version beside the model checkpoint
    * and the candidate set replays identically months later, whatever
    * ingests/deletes landed since — bounded by vacuum retention, which
    * is what sizes the reproducibility window at 100 TB. The oracle
    * replays the v2 visible set declaratively ((bootstrap ∪ Δ1) minus
    * the deleted ids) with the frozen bootstrap model. */
  val qIncrAnnAsof: QueryDef = QueryDef.sql(
    "q_incr_ann_asof",
    s"""WITH $normedCte,
       |nb AS (SELECT * FROM n WHERE vec_id % 3 <> 0),
       |${sizingCtesOver("nb", "b")},
       |${kmeansCtesOver(2, "nb", "b")},
       |nlive AS (
       |  SELECT * FROM n
       |  WHERE (vec_id % 3 <> 0 OR vec_id % 2 = 0) AND vec_id % 7 <> 0
       |),
       |ccl AS (
       |  SELECT v.vec_id, c.cell, ${dotSql("v.v", "c.v")} / (v.nrm * c.nrm) AS ccos
       |  FROM nlive v, bcn2 c
       |),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM ccl)
       |  WHERE rn = 1
       |),
       |ccq AS (
       |  SELECT q.vec_id, c.cell, ${dotSql("q.v", "c.v")} / (q.nrm * c.nrm) AS ccos
       |  FROM (SELECT * FROM n WHERE vec_id < 10) q, bcn2 c
       |),
       |probes AS (
       |  SELECT vec_id AS qid, cell FROM (
       |    SELECT vec_id, cell,
       |           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
       |    FROM ccq)
       |  WHERE rn <= (SELECT np FROM bksz)
       |),
       |s AS (
       |  SELECT p.qid, a.vec_id AS nid, ${dotSql("q.v", "t.v")} / (q.nrm * t.nrm) AS cos
       |  FROM probes p
       |  JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.qid
       |  JOIN n q ON q.vec_id = p.qid
       |  JOIN nlive t ON t.vec_id = a.vec_id
       |)
       |SELECT qid, nid, rnk, round(cos, 4) AS cos
       |FROM (SELECT qid, nid, cos,
       |             CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS INTEGER) AS rnk
       |      FROM s)
       |WHERE rnk <= 5
       |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
    val root = incrAnnDelRoot(s, d)
    graft.api.AnnIngest.searchTopKAsOf(s, root, version = 2L, incCents(s, d),
      normed(s, d).where(col("id") < 10),
      k = 5, nprobe = graft.api.VectorSearch.nprobeFor(incCells(s, d)))
      .orderBy("qid", "rnk")
  }

  val all: Seq[QueryDef] = Seq(
    qEmbedNeardup, qSimTopk, qSimLsh, qSimIvf, qAnnFiltered, qAnnfRecall,
    qAnnRecall, qKmeansFit, qEmbedCentroids, qPqAnn, qIvfPqAnn, qAnnPqRecall,
    qLshRecall, qSemanticDedup, qHybridSearch, qIncrAnn, qIncrAnnFiltered,
    qIncrAnnDelete, qIncrAnnAsof)
}

