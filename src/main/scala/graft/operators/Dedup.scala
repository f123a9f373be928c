package graft.operators

import graft.QueryDef
import graft.functions.CrossHash._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication suite (SURVEY.md §2.B north-star rows): exact, MinHash+LSH
  * banding, SimHash, and n-gram Jaccard verification — each designed as the
  * 100 TB-scale pipeline shape, not an all-pairs loop:
  *
  *   - exact dedup is one hash-aggregate on the content key (map-side
  *     combined; at scale, `text` would first be reduced to a digest so the
  *     shuffle carries 8-byte keys, which is exactly what grouping by the
  *     md5-derived key does here);
  *   - MinHash: per-doc signatures are one explode + one groupBy (16 `min`
  *     aggregates, map-side combined), candidates come from a shuffle join
  *     on (band, band-hash) buckets — never an all-pairs product;
  *   - SimHash: same banding trick on 12-bit fingerprint chunks;
  *   - Jaccard runs only on LSH candidate pairs (verify stage), so its cost
  *     is proportional to candidates, not N².
  *
  * All hashes are md5-derived (engine-portable) so every stage is verified
  * against a DuckDB oracle computing the identical algorithm.
  */
object Dedup {

  private val with16Mins: Seq[(String, String)] =
    (0 until 16).map(j => (s"m$j", permSql(j, "hv")))

  /** `mh` CTE: doc_id → 16-permutation MinHash signature (DuckDB). */
  private val mhCte: String =
    s"""mh AS (
       |  SELECT doc_id, ${with16Mins.map { case (n, e) => s"min($e) AS $n" }.mkString(", ")}
       |  FROM hd GROUP BY doc_id
       |)""".stripMargin

  private def bandExprSql(b: Int): String =
    s"md5(concat_ws(',', ${(0 until 4).map(r => s"m${4 * b + r}").mkString(", ")}))"

  private val bandsCte: String =
    s"""bands AS (
       |  ${(0 until 4).map(b => s"SELECT doc_id, $b AS band, ${bandExprSql(b)} AS bv FROM mh")
            .mkString("\n  UNION ALL ")}
       |)""".stripMargin

  /** Oracle mirror of the Spark-side bucket cap (BucketCap.cap, default
    * 10000): buckets above the cap are excluded in BOTH engines, so the
    * algorithms stay identical at any scale factor. At test SFs no bucket
    * is near the cap and the filter is a no-op. */
  private val candCte: String =
    """bigb AS (
      |  SELECT band, bv FROM bands GROUP BY band, bv HAVING count(*) > 10000
      |),
      |cand AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_bands
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
      |  WHERE NOT EXISTS (SELECT 1 FROM bigb g WHERE g.band = x.band AND g.bv = x.bv)
      |  GROUP BY x.doc_id, y.doc_id
      |)""".stripMargin

  private def minhashPrelude: String =
    s"""WITH ${Corpora.dedupCorpusCte},
       |${Corpora.shingleHashesCte},
       |$mhCte,
       |$bandsCte,
       |$candCte""".stripMargin

  /** Spark: doc_id → (band, bv) LSH bucket keys, via the public API.
    * Persisted: the candidate generator self-joins bands with itself, and
    * without materialization each side re-derives signatures from scratch. */
  private def sparkBands(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.api.TextDedup
      .minhashBands(Corpora.shingleHashes(s, d).withColumnRenamed("doc_id", "id"),
        numPerms = 16, bands = 4)
      .transform(graft.Persisting.maybe)

  private def sparkCand(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.api.TextDedup.candidatePairs(sparkBands(s, d))

  /** Exact dedup: hash-groupBy on content (SURVEY.md dedup row). */
  val qDedupExact: QueryDef = QueryDef.sql(
    "q_dedup_exact",
    s"""WITH ${Corpora.dedupCorpusCte}
       |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM corpus
       |GROUP BY text
       |ORDER BY keep_id""".stripMargin) { (s, d) =>
    graft.api.TextDedup
      .exact(Corpora.dedupCorpus(s, d), col("doc_id"), col("text"))
      .orderBy("keep_id")
  }

  /** MinHash + LSH banding: candidate near-dup pairs with shared-band count. */
  val qDedupMinhash: QueryDef = QueryDef.sql(
    "q_dedup_minhash",
    s"""$minhashPrelude
       |SELECT a, b, n_bands FROM cand ORDER BY a, b""".stripMargin) { (s, d) =>
    sparkCand(s, d).orderBy("a", "b")
  }

  /** n-gram Jaccard as the verify stage over MinHash candidates. */
  val qDedupNgram: QueryDef = QueryDef.sql(
    "q_dedup_ngram",
    s"""$minhashPrelude,
       |sizes AS (SELECT doc_id, count(*) AS n FROM hd GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a, c.b, count(*) AS ni
       |  FROM cand c
       |  JOIN hd x ON x.doc_id = c.a
       |  JOIN hd y ON y.doc_id = c.b AND y.hv = x.hv
       |  GROUP BY c.a, c.b
       |)
       |SELECT i.a, i.b,
       |       round(CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni), 4) AS jaccard
       |FROM inter i
       |JOIN sizes sa ON sa.doc_id = i.a
       |JOIN sizes sb ON sb.doc_id = i.b
       |WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= 0.5
       |ORDER BY i.a, i.b""".stripMargin) { (s, d) =>
    graft.api.TextDedup
      .jaccardVerify(
        Corpora.shingleHashes(s, d).withColumnRenamed("doc_id", "id"),
        sparkCand(s, d), minJaccard = 0.5)
      .orderBy("a", "b")
  }

  /** SimHash: 48-bit weighted-bit fingerprint, 4×12-bit band candidates,
    * Hamming-distance filter.
    *
    * The fingerprint is computed as 48 `sum` aggregates in ONE groupBy over
    * word occurrences (map-side combined, single shuffle of 48 counters per
    * doc) — not by exploding 48 bit-rows per word, which would shuffle 48×
    * the corpus token count. */
  val qDedupSimhash: QueryDef = QueryDef.sql(
    "q_dedup_simhash",
    s"""WITH ${Corpora.dedupCorpusCte},
       |tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
       |wc AS (
       |  SELECT doc_id, word, count(*) AS cnt
       |  FROM tok, unnest(w) AS u(word)
       |  GROUP BY doc_id, word
       |),
       |wh AS (SELECT doc_id, ${md5LongSql("word")} AS h, cnt FROM wc),
       |bs AS (
       |  SELECT doc_id,
       |         ${(0 until 48).map(i => s"sum(cnt * (2 * ((h >> $i) & 1) - 1)) AS s$i").mkString(",\n         ")}
       |  FROM wh GROUP BY doc_id
       |),
       |fp AS (
       |  SELECT doc_id,
       |         ${(0 until 48).map(i => s"(CASE WHEN s$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)").mkString(" + ")} AS f
       |  FROM bs
       |),
       |sbands AS (
       |  SELECT doc_id, b AS band, (f >> (12 * b)) & 4095 AS bv
       |  FROM fp, (SELECT unnest(range(0, 4)) AS b) g
       |),
       |sbig AS (
       |  SELECT band, bv FROM sbands GROUP BY band, bv HAVING count(*) > 10000
       |),
       |scand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM sbands x JOIN sbands y
       |    ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
       |  WHERE NOT EXISTS (SELECT 1 FROM sbig g WHERE g.band = x.band AND g.bv = x.bv)
       |)
       |SELECT c.a, c.b, CAST(bit_count(xor(fa.f, fb.f)) AS INTEGER) AS hamming
       |FROM scand c
       |JOIN fp fa ON fa.doc_id = c.a
       |JOIN fp fb ON fb.doc_id = c.b
       |WHERE bit_count(xor(fa.f, fb.f)) <= 8
       |ORDER BY c.a, c.b""".stripMargin) { (s, d) =>
    val fp = graft.api.TextDedup
      .simhash(Corpora.dedupCorpus(s, d), col("doc_id"), col("text"), bits = 48)
      // two consumers below (pair sides) — materialize the fingerprints
      .transform(graft.Persisting.maybe)
    graft.api.TextDedup
      .simhashPairs(fp, bands = 4, bitsPerBand = 12, maxHamming = 8)
      .orderBy("a", "b")
  }

  /** Duplicate-cluster assembly: connected components over the MinHash
    * candidate pairs — every document in a near-dup cluster maps to the
    * cluster's minimum doc_id (the canonical "keep" choice). Spark side is
    * iterative min-label propagation ([[graft.api.TextDedup.connectedComponents]],
    * O(log n) join+agg rounds); the oracle computes the same fixpoint as a
    * recursive transitive closure — tractable at oracle SFs, where cluster
    * sizes are tiny. */
  val qDedupCluster: QueryDef = QueryDef.sql(
    "q_dedup_cluster",
    s"""${minhashPrelude.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |e2 AS (SELECT a AS s, b AS t FROM cand UNION ALL SELECT b AS s, a AS t FROM cand),
       |reach AS (
       |  SELECT s AS src, t AS dst FROM e2
       |  UNION
       |  SELECT r.src, e.t FROM reach r JOIN e2 e ON e.s = r.dst
       |)
       |SELECT src AS id, least(src, min(dst)) AS component
       |FROM reach
       |GROUP BY src
       |ORDER BY id""".stripMargin) { (s, d) =>
    graft.api.TextDedup.connectedComponents(sparkCand(s, d)).orderBy("id")
  }

  /** Edit-distance verification over LSH candidates: exact Levenshtein as
    * the strictest verify stage (character-level, order-sensitive — catches
    * what set-based Jaccard can't, e.g. word reorders). O(len²) per pair,
    * so it runs ONLY on candidate pairs — never all-pairs: at 100 TB the
    * cost is ∝ LSH candidates, same contract as [[qDedupNgram]]. */
  val qDedupEditdist: QueryDef = QueryDef.sql(
    "q_dedup_editdist",
    s"""$minhashPrelude
       |SELECT c.a, c.b, CAST(levenshtein(x.text, y.text) AS INTEGER) AS dist
       |FROM cand c
       |JOIN corpus x ON x.doc_id = c.a
       |JOIN corpus y ON y.doc_id = c.b
       |WHERE levenshtein(x.text, y.text) <= 60
       |ORDER BY a, b""".stripMargin) { (s, d) =>
    val corpus = Corpora.dedupCorpus(s, d)
    sparkCand(s, d)
      .join(corpus.select(col("doc_id").as("ida"), col("text").as("ta")), col("ida") === col("a"))
      .join(corpus.select(col("doc_id").as("idb"), col("text").as("tb")), col("idb") === col("b"))
      .withColumn("dist", levenshtein(col("ta"), col("tb")))
      .where(col("dist") <= 60)
      .select(col("a"), col("b"), col("dist").cast("int").as("dist"))
      .orderBy("a", "b")
  }

  /** The materialization step: per-document keep/drop decision — cluster
    * minima and unclustered documents keep, everything else drops. What a
    * corpus pipeline joins against to emit the deduplicated dataset. */
  val qDedupKeep: QueryDef = QueryDef.sql(
    "q_dedup_keep",
    s"""${minhashPrelude.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |e2 AS (SELECT a AS s, b AS t FROM cand UNION ALL SELECT b AS s, a AS t FROM cand),
       |reach AS (
       |  SELECT s AS src, t AS dst FROM e2
       |  UNION
       |  SELECT r.src, e.t FROM reach r JOIN e2 e ON e.s = r.dst
       |),
       |comp AS (
       |  SELECT src AS id, least(src, min(dst)) AS component
       |  FROM reach GROUP BY src
       |)
       |SELECT c.doc_id AS id,
       |       (comp.component IS NULL OR comp.component = c.doc_id) AS keep
       |FROM corpus c
       |LEFT JOIN comp ON comp.id = c.doc_id
       |ORDER BY id""".stripMargin) { (s, d) =>
    graft.api.TextDedup
      .keepList(Corpora.dedupCorpus(s, d), col("doc_id"), sparkCand(s, d))
      .orderBy("id")
  }

  /** Incremental ingest dedup against the persisted fingerprint index
    * ([[graft.api.IncrementalDedup]]): history (original docs) bootstraps
    * the index, then the two synthetic duplicate waves ingest as ordered
    * increments — near-dups (ids 1M..2M) first, exact copies (ids ≥ 2M)
    * second — each deciding keep/drop against ONLY the stored band index,
    * never the historical text. The decisions are replayable as one batch
    * query (`keep(b) ⟺ ¬∃ a < b sharing a band bucket`), which is exactly
    * what the oracle computes over the whole union — proving increment ≡
    * whole-corpus, the property that lets a production pipeline ingest
    * 100 TB continuously without quadratic rescans.
    *
    * Bucket-cap caveat: each ingest's flood-guard census runs over
    * index ∪ increment at that step, the oracle's over the final union; the
    * two can diverge only for buckets that cross 10 000 rows mid-history —
    * none are within 3 orders of magnitude at test SFs. */
  val qIncrDedup: QueryDef = QueryDef.sql(
    "q_incr_dedup",
    s"""$minhashPrelude,
       |prior AS (SELECT b, count(*) AS n_prior FROM cand GROUP BY b)
       |SELECT c.doc_id, coalesce(p.n_prior, 0) AS n_prior, (p.b IS NULL) AS keep
       |FROM corpus c
       |LEFT JOIN prior p ON p.b = c.doc_id
       |WHERE c.doc_id >= 1000000
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val root = java.nio.file.Files.createTempDirectory("graft-incr-dedup").toString
    // each wave filters the SHARED persisted band stage (sparkBands — the
    // same cache q_dedup_minhash/_ngram/_keep read) instead of re-running
    // the minhash aggregation per wave: a doc's bands are independent of
    // the rest of the corpus, so filter-after ≡ aggregate-after-filter,
    // and the r15 sub-profile attributed ~60% of each ingest phase to
    // exactly this recomputation (seg_write 1.8 s/wave → the band agg,
    // not the parquet write)
    def bands(cond: org.apache.spark.sql.Column) = sparkBands(s, d).where(cond)
    // ingest's decisions cover only fingerprint-bearing docs (its coverage
    // contract); the oracle emits a row for EVERY corpus doc of the wave —
    // a doc shorter than the shingle width trivially keeps. Compensate
    // from the corpus, which owns the document set.
    def full(dec: DataFrame, cond: org.apache.spark.sql.Column): DataFrame =
      Corpora.dedupCorpus(s, d).where(cond).select(col("doc_id")).distinct()
        .join(dec, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_prior"), lit(0L)).as("n_prior"),
          coalesce(col("keep"), lit(true)).as("keep"))
    // bootstrap: history fingerprints only — the returned decision frame is
    // ignored and therefore never computed; only the segment write runs.
    // The bootstrap is a deterministic function of the documents table, so
    // it is built once per source fingerprint ([[graft.api.ModelCache]])
    // and tree-copied into this run's fresh root — the run then mutates
    // its own copy (waves + compaction) without touching the cached one.
    val bootSrc = graft.api.ModelCache.cached(
      s"incrdedup-boot:${graft.api.ModelCache.fingerprint(d, "documents")}") {
      val dir = java.nio.file.Files.createTempDirectory("graft-incr-boot").toString
      graft.api.IncrementalDedup.ingest(s, dir, bands(col("id") < 1000000L))
      dir
    }
    graft.api.ModelCache.copyTree(bootSrc, root)
    val w1 = col("doc_id") >= 1000000L && col("doc_id") < 2000000L
    val d1 = full(graft.api.IncrementalDedup.ingest(s, root,
      bands(col("id") >= 1000000L && col("id") < 2000000L)), w1)
    // compact mid-sequence: the second wave decides against the merged
    // segment — layout maintenance must not change one decision, which
    // this oracle row now gates. No vacuum here: d1 is lazy and still
    // reads the pre-compact directories (see IncrementalDedup.vacuum).
    graft.api.IncrementalDedup.compactIndex(s, root)
    val d2 = full(graft.api.IncrementalDedup.ingest(s, root,
      bands(col("id") >= 2000000L)), col("doc_id") >= 2000000L)
    d1.unionByName(d2).orderBy("doc_id")
  }

  val all: Seq[QueryDef] = Seq(
    qDedupExact, qDedupMinhash, qDedupNgram, qDedupSimhash, qDedupCluster,
    qDedupEditdist, qDedupKeep, qIncrDedup)
}
