package graft.api

import graft.functions.{CrossHash, TopKAgg, VectorExprs}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Public similarity-search API over arbitrary (id, vector) DataFrames.
  * Vectors are any numeric array column; everything computes in double with
  * the codegen'd [[graft.functions.DotProduct]].
  *
  * Scale shape: queries are broadcast against the partitioned corpus
  * (brute force), or both sides reduce to LSH bucket keys first (ANN) so
  * the join is an equi-join on an 8-bit key. At 100 TB the corpus never
  * shuffles for a search: signatures are a narrow projection (no exchange),
  * and per-query top-k is a bounded heap aggregate (map-side combined), not
  * a window whose parallelism would collapse to the number of queries.
  */
object VectorSearch {

  /** Exact integer √ (floor): `isqrt(n)² ≤ n < (isqrt(n)+1)²`. The ±1
    * correction terms make the result independent of IEEE `sqrt` edge
    * rounding, so a SQL engine replaying the same formula (floor(sqrt)
    * + the two CASE corrections) derives the identical value. */
  def isqrt(n: Long): Long = {
    if (n <= 0) return 0
    var r = math.floor(math.sqrt(n.toDouble)).toLong
    if ((r + 1) * (r + 1) <= n) r += 1
    else if (r * r > n) r -= 1
    r
  }

  /** Smallest p with p² ≥ n (exact, the ceil companion of [[isqrt]]). */
  def ceilSqrt(n: Long): Long = {
    val r = isqrt(n)
    if (r * r >= n) r else r + 1
  }

  /** [[ivfCellsFor]] clamps — also interpolated into the SQL oracles'
    * sizing CTEs, so keep the rule here the ONLY copy. The 128 upper clamp
    * of rounds 13-14 already BOUND at sf1 (√N > 128), undersizing the next
    * decade by construction; 4096 covers √N up to ~16.8M corpus rows, and
    * past the per-plan reference budget ([[IvfRefBudgetBytes]]) assignment
    * switches to the broadcast-handle gear ([[ivfAssignBc]]) instead of
    * growing the in-plan model without bound. */
  val IvfCellsMin = 8
  val IvfCellsMax = 4096
  val NprobeMin = 2

  /** Scale-adaptive IVF cell count: nCells ≈ √N (the standard IVF sizing
    * rule), clamped to [[[IvfCellsMin]], [[IvfCellsMax]]]. Why adaptive:
    * the measured decade (bench_pipeline_sf1.json, r13) showed FIXED
    * 8-cell models holding recall only by accident of corpus size — cells
    * must multiply as the corpus grows or each cell's member list (the
    * per-probe scan) grows linearly and the quantizer under-fits the
    * distribution. */
  def ivfCellsFor(n: Long): Int =
    math.max(IvfCellsMin.toLong, math.min(IvfCellsMax.toLong, isqrt(n))).toInt

  /** Per-plan budget for carrying the centroid model as a reference array
    * inside the assignment/probe EXPRESSIONS, in bytes of centroid doubles.
    * At or below it the model rides the (stage-broadcast) task binary and
    * assignment is a zero-exchange fused codegen loop ([[graft.functions
    * .IvfExprs]]). Above it the model moves behind a TORRENT-BROADCAST
    * handle instead ([[ivfAssignBc]]): the plan and every task binary
    * carry only the handle, the centroid blocks land once per executor,
    * and assignment stays the SAME zero-exchange codegen'd projection —
    * the gear for models too big to serialize into every plan (hundreds
    * of MB at 100 TB-scale cell counts). Specs exercise the broadcast
    * gear on small data by calling [[ivfAssignBc]]/[[ivfProbesBc]]
    * directly.
    *
    * (A third formulation exists for reference: [[ivfAssignJoin]], the
    * fully declarative broadcast centroid-TABLE + grouped-argmax. It is
    * NOT the dispatch target — its `first`/`max_by` aggregate carries
    * array buffers, which Spark can only plan as a SortAggregate, i.e. a
    * full sort of |corpus| × nCells scored rows; `bench_ivf_gear_r19.json`
    * records it against the broadcast-handle gear.) */
  val IvfRefBudgetBytes: Long = 16L << 20

  private def modelBytes(cents: Array[Array[Double]]): Long =
    cents.foldLeft(0L)((a, c) => a + 8L * c.length)

  /** One torrent-broadcast per fitted model per context, keyed by the
    * model array's IDENTITY (the fit caches hand back the same array
    * object). A weak-keyed cache can NEVER release these: the driver
    * BlockManager's broadcast block strongly references the IvfModel,
    * whose `cents` IS the key array, so the key stays reachable for the
    * life of the SparkContext and each above-budget model (including one
    * per Lloyd round in [[ivfFitKMeans]]) would leak model-sized blocks
    * on driver and executors. Lifecycle is therefore EXPLICIT: a bounded
    * LRU. Eviction `unpersist(blocking=false)`s the handle — the
    * EXECUTOR blocks (the replicated, expensive side) free eagerly while
    * the handle stays USABLE: a lazy plan still holding the evicted
    * broadcast re-ships it from the driver block on next use instead of
    * failing with destroyed-broadcast (destroy() here would break any
    * not-yet-evaluated frame built before eviction). The one driver-side
    * block per evicted model persists until context stop — bounded by
    * models-ever-fit, documented residual. Stale-context entries ARE
    * `destroy()`ed: no live frame of a stopped context can run again. */
  private val BcCacheMax = 4
  private final class BcKey(val arr: Array[Array[Double]]) {
    override def hashCode(): Int = System.identityHashCode(arr)
    override def equals(o: Any): Boolean = o match {
      case k: BcKey => k.arr eq arr
      case _ => false
    }
  }
  private type BcEntry =
    (org.apache.spark.SparkContext, org.apache.spark.broadcast.Broadcast[graft.functions.IvfModel])
  private def releaseQuietly(e: BcEntry, stale: Boolean): Unit = {
    val (ctx, bc) = e
    // a stopped context already tore its blocks down; either call throws
    if (!ctx.isStopped)
      try if (stale) bc.destroy() else bc.unpersist(false)
      catch { case scala.util.control.NonFatal(_) => () }
  }
  private val bcCache = new java.util.LinkedHashMap[BcKey, BcEntry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[BcKey, BcEntry]): Boolean =
      if (size > BcCacheMax) { releaseQuietly(e.getValue, stale = false); true }
      else false
  }

  private[graft] def modelBroadcast(spark: org.apache.spark.sql.SparkSession,
      cents: Array[Array[Double]])
      : org.apache.spark.broadcast.Broadcast[graft.functions.IvfModel] =
    bcCache.synchronized {
      val sc = spark.sparkContext
      val key = new BcKey(cents)
      Option(bcCache.get(key)).collect {
        case (ctx, bc) if (ctx eq sc) && !sc.isStopped => bc
      }.getOrElse {
        Option(bcCache.remove(key)).foreach(releaseQuietly(_, stale = true))
        val bc = sc.broadcast(
          graft.functions.IvfModel(cents, graft.functions.IvfCos.norms(cents)))
        bcCache.put(key, (sc, bc))
        bc
      }
    }

  /** The above-budget assignment gear: the same zero-exchange codegen'd
    * argmax projection as the in-plan expression, with the model behind a
    * broadcast handle ([[graft.functions.IvfArgmaxBc]]) — spec-pinned to
    * identical assignments. */
  def ivfAssignBc(corpus: DataFrame, cents: Array[Array[Double]]): DataFrame =
    corpus.withColumn("cell", graft.functions.IvfExprs.ivf_argmax_bc(
      col("v"), col("nrm"), modelBroadcast(corpus.sparkSession, cents)))

  /** The above-budget probe gear — see [[ivfAssignBc]]. */
  def ivfProbesBc(queries: DataFrame, cents: Array[Array[Double]],
      nprobe: Int): DataFrame =
    queries.withColumn("pcell", explode(graft.functions.IvfExprs.ivf_top_cells_bc(
      col("v"), col("nrm"), modelBroadcast(queries.sparkSession, cents), nprobe)))

  /** Floor on the scanned fraction nprobe/nCells: 1/8 = 12.5%. Pure
    * √-scaling lets the fraction shrink without bound as cells multiply,
    * and the r15 decade gauge measured the cost: the clamp lift moved sf1
    * from (128 cells, nprobe 12, 9.4% scanned) to (252 cells, nprobe 16,
    * 6.3%) and IVF cross-family recall fell 10000 → 9000 bp, IVF-PQ
    * 8200 → 6200. The floor is the recall-vs-cost POLICY knob: scanned
    * work per query is ≤ corpus/8 — still the IVF win — while recall
    * stops degrading with scale. Interpolated into the oracles' `ksz`
    * CTEs like every other sizing constant. */
  val NprobeDenom = 8

  /** Scale-adaptive probe count: nprobe ≈ max(√nCells, nCells/[[
    * NprobeDenom]]) (≥ [[NprobeMin]]). √nCells drives small models; the
    * 1/8 fraction floor takes over past 64 cells. */
  def nprobeFor(nCells: Int): Int =
    math.max(NprobeMin.toLong, math.max(ceilSqrt(nCells.toLong),
      (nCells.toLong + NprobeDenom - 1) / NprobeDenom)).toInt

  /** Selectivity-adaptive probe count for FILTERED search (round 19,
    * VERDICT r18 #1 — previously the documented-but-unshipped trade): a
    * predicate of selectivity s = matching/total thins the candidates in
    * every probed cell by ~s, so a FIXED nprobe under-fills k exactly
    * when the filter is selective. Scale the probe count by 1/s —
    * `ceil(base · total / matching)`, capped at nCells — so the EXPECTED
    * matching-candidate pool stays what the unfiltered search would see:
    * bytes touched remain (nprobe_eff/nCells) × corpus × row-group
    * selectivity, i.e. ≈ (base/nCells) × corpus — the filtered query
    * costs what the unfiltered one does, instead of silently returning
    * fewer-than-k neighbors (the FAISS/Milvus pre-filter guidance).
    * Exact integer arithmetic, mirrored verbatim by the oracles' `fnp`
    * CTE; a zero-matching census degenerates to probing everything
    * (finds nothing, costs one empty pruned read). */
  def nprobeForFiltered(nCells: Int, base: Int, total: Long, matching: Long): Int = {
    require(total >= 0 && matching <= total,
      s"selectivity census: matching=$matching total=$total")
    if (matching <= 0L) nCells
    else math.min(nCells.toLong,
      (base.toLong * total + matching - 1) / matching).toInt
  }

  /** Normalize input: (id, v ARRAY<DOUBLE>, nrm, keep...). Pass-through
    * columns (labels, block keys) ride the same single scan — don't
    * re-join them on id afterwards, that re-reads the corpus. */
  def withNorm(df: DataFrame, id: Column, vec: Column, keep: Column*): DataFrame =
    // a null vector has no norm and can participate in no similarity op —
    // malformed embedding records are skipped at this single ingest seam,
    // so fits/assignments downstream never see one (DegenerateInputSpec)
    df.where(vec.isNotNull)
      .select(id.as("id") +: transform(vec, x => x.cast("double")).as("v") +: keep: _*)
      .withColumn("nrm", VectorExprs.l2_norm(col("v")))

  private def cosine(qv: Column, qn: Column, v: Column, n: Column): Column =
    VectorExprs.dot_product(qv, v) / (qn * n)

  /** Two-phase per-qid top-k over scored (qid, nid, cos) rows: a bounded
    * min-heap aggregate reduces every map partition to ≤ k entries per qid
    * BEFORE the exchange, so the shuffle carries O(k × partitions) rows per
    * query instead of the full scored product. Row order and values are
    * identical to `row_number() OVER (PARTITION BY qid ORDER BY cos DESC,
    * nid)` + `rnk <= k`. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("qid"))
      .agg(TopKAgg.top_k_agg(col("cos"), col("nid"), k).as("tk"))
      .select(col("qid"), posexplode(col("tk")).as(Seq("pos", "x")))
      .select(col("qid"), col("x.id").as("nid"),
        (col("pos") + 1).cast("int").as("rnk"),
        round(col("x.score"), 4).as("cos"))

  /** Exact top-k cosine neighbors of each query vector (excluding self-id).
    * The query set is broadcast; corpus stays partitioned.
    *
    * Null handling: candidates whose cosine or id is null are ignored, and
    * a query whose every candidate scored null yields no output rows (a
    * DESC-nulls-last window would emit null-scored rows when a group has
    * fewer than k non-null candidates — see [[graft.functions.TopKAgg]]). */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val cos = cosine(col("qv"), col("qn"), col("v"), col("nrm"))
    val scored = corpus.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), cos.as("cos"))
    topKPerQuery(scored, k)
  }

  /** Sign-LSH bucket signature per vector: (id, v, nrm, sig).
    *
    * The hyperplanes are deterministic host-side constants
    * ([[CrossHash.hyperplanes]]), so the whole signature is ONE narrow
    * projection — `nPlanes` codegen'd dot products against literal arrays,
    * folded into a bit mask. No join, no aggregation, no exchange: the
    * corpus is read once and never shuffles to get its signatures. */
  def signLsh(corpus: DataFrame, nPlanes: Int = 8, dim: Int = 64): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 62, s"nPlanes $nPlanes out of range")
    val planes = CrossHash.hyperplanes(nPlanes, dim)
    val sig = (0 until nPlanes).map { p =>
      val plane = array(planes(p).toIndexedSeq.map(lit): _*)
      when(VectorExprs.dot_product(col("v"), plane) > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
    corpus.withColumn("sig", sig)
  }

  /** ANN top-k: exact cosine re-rank within the query's LSH bucket.
    * Null handling matches [[topK]]: null-scored candidates are ignored. */
  def annTopK(withSig: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("qid"), col("v").as("qv"),
      col("nrm").as("qn"), col("sig").as("qsig"))
    val cos = cosine(col("qv"), col("qn"), col("v"), col("nrm"))
    val scored = withSig.join(broadcast(q),
        col("sig") === col("qsig") && col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), cos.as("cos"))
    topKPerQuery(scored, k)
  }

  /** IVF seed "fit": the `nCells` lowest-id corpus vectors become cell
    * centroids, collected to the driver. Deterministic and cheap (one
    * TakeOrdered of nCells rows) but NOT data-adaptive — arbitrary seeds
    * won't track a skewed distribution, so recall and cell balance degrade
    * on real corpora. Use [[ivfFitKMeans]] for a trained quantizer; this
    * remains as its deterministic seeding step. */
  def ivfFit(corpus: DataFrame, nCells: Int): Array[Array[Double]] = {
    require(nCells >= 2, s"nCells $nCells < 2")
    corpus.orderBy("id").select("v").limit(nCells).collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** Distributed k-means (Lloyd) coarse-quantizer fit. Seeds from
    * [[ivfFit]] (deterministic lowest-id vectors), then `iters` rounds of:
    * assign every vector to its max-cosine cell ([[ivfAssign]] — a narrow
    * projection against literal centroids, no exchange), re-centroid with
    * one groupBy over (cell, dim) — DECIMAL(18,6) partial sums so each
    * component is independent of partition/accumulation order, rounded to
    * 4 dp (`+ 0.0` canonicalizes IEEE −0.0) so a SQL oracle reproduces the
    * trained model bit-for-bit. Cells that go empty keep their previous
    * centroid (deterministic, no respawn heuristic).
    *
    * Model-fit scale shape: per round the driver moves only the model
    * (nCells × dim doubles, independent of corpus size); the corpus is
    * re-scanned with NEW literal centroids each round, so the logical plan
    * stays O(1) across rounds (no lineage growth — nothing to checkpoint).
    * The explode shuffles (cell, dim, x) triples, map-side combined down
    * to ≤ nCells × dim rows per partition before the exchange. At 100 TB
    * persist the normalized corpus before calling; the loop itself makes
    * iters + 1 passes. */
  def ivfFitKMeans(corpus: DataFrame, nCells: Int, iters: Int = 2): Array[Array[Double]] = {
    require(iters >= 1, s"iters $iters < 1")
    var cents = ivfFit(corpus, nCells)
    for (_ <- 0 until iters) {
      val means = ivfAssign(corpus, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg((round(sum(col("x").cast("decimal(18,6)")).cast("double") / count(lit(1)), 4) + 0.0).as("c"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach(r => next(r.getAs[Int]("cell"))(r.getAs[Int]("dim")) = r.getAs[Double]("c"))
      cents = next
    }
    cents
  }

  /** Assign each vector to its max-cosine cell (ties → lowest cell id).
    * One narrow projection — a single codegen'd [[graft.functions
    * .IvfArgmax]] carrying the centroids by REFERENCE, so plan size and
    * generated-class count are O(1) in nCells (the literal greatest-of-
    * structs formulation recompiled a ~nCells×dim-literal class per Lloyd
    * round once cells scale with √N). No exchange. Degenerate models (a
    * fit over <2 vectors — the empty-partition / first-ingest case)
    * assign trivially: one centroid ⇒ everything in cell 0; no centroids
    * ⇒ no assignable cells ⇒ empty result (same schema), never an
    * analysis error. */
  def ivfAssign(corpus: DataFrame, cents: Array[Array[Double]]): DataFrame =
    cents.length match {
      case 0 => corpus.withColumn("cell", lit(0)).where(lit(false))
      case 1 => corpus.withColumn("cell", lit(0))
      case _ if modelBytes(cents) > IvfRefBudgetBytes => ivfAssignBc(corpus, cents)
      case _ => corpus.withColumn("cell",
        graft.functions.IvfExprs.ivf_argmax(col("v"), col("nrm"), cents))
    }

  /** Centroid model as a broadcast TABLE: (cell, cv, cnrm), norms computed
    * host-side with the exact [[graft.functions.IvfCos]] fold so both
    * assignment gears score identically. */
  private def centroidTable(corpus: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cn = graft.functions.IvfCos.norms(cents)
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq, cn(i)) }.toSeq
      .toDF("__cell", "__cv", "__cnrm")
  }

  /** Assignment over a broadcast centroid TABLE — the fully DECLARATIVE
    * above-budget formulation, kept for reference (priced in
    * `bench_ivf_gear_r19.json`) but no longer the dispatch target: its
    * `first`/`max_by` aggregate carries array-typed buffers, which Spark
    * plans as a SortAggregate — a full spilling sort of the |corpus| ×
    * nCells scored rows — where [[ivfAssignBc]] keeps the zero-exchange
    * codegen'd argmax at any model size. Mechanics:
    * an explicit broadcast-replicate of the model against the corpus
    * (never a corpus-side shuffle for the join), score, then per-row
    * argmax grouped by a per-row SURROGATE key (`monotonically_
    * increasing_id`, assigned BEFORE the replicate so all copies of a row
    * share it). Grouping by the corpus's own columns would silently
    * collapse rows identical in every column — diverging from the
    * expression gear, which preserves duplicates and so keeps cell means
    * honest — and fails outright for map-typed pass-through columns. The
    * replicate collapses map-side BEFORE the exchange only at the final
    * aggregate, so the one exchange this gear pays carries |corpus| rows —
    * the price of a model too big to ride every task binary. Tie rule
    * matches [[graft.functions.IvfCos.bestCell]] (max cosine, ties →
    * lowest cell) under Spark SQL double ordering — the one observable
    * difference is that SQL orders −0.0 = 0.0 where `Double.compare`
    * orders them, unreachable for real cosine scores. */
  def ivfAssignJoin(corpus: DataFrame, cents: Array[Array[Double]]): DataFrame = {
    val cos = VectorExprs.dot_product(col("v"), col("__cv")) / (col("nrm") * col("__cnrm"))
    // every replica of a row carries identical column values, so first()
    // is deterministic here — it only rebuilds the row beside the argmax
    val carry = corpus.columns.toIndexedSeq.map(c => first(col(c)).as(c))
    val am = max_by(col("__cell"), struct(cos, -col("__cell"))).as("cell")
    corpus.withColumn("__rid", monotonically_increasing_id())
      .crossJoin(broadcast(centroidTable(corpus, cents)))
      .groupBy(col("__rid"))
      .agg(carry.head, (carry.tail :+ am): _*)
      .drop("__rid")
  }

  /** Per-query top-`nprobe` cells by centroid cosine (ties → lowest cell):
    * one reference-carrying [[graft.functions.IvfTopCells]] projection +
    * explode — still no shuffle of the query side before the candidate
    * join. */
  def ivfProbes(queries: DataFrame, cents: Array[Array[Double]], nprobe: Int): DataFrame = {
    if (cents.isEmpty) // no cells to probe (empty-corpus fit) — empty, same schema
      return queries.withColumn("pcell", lit(0)).where(lit(false))
    if (modelBytes(cents) > IvfRefBudgetBytes)
      return ivfProbesBc(queries, cents, nprobe)
    queries.withColumn("pcell",
      explode(graft.functions.IvfExprs.ivf_top_cells(col("v"), col("nrm"), cents, nprobe)))
  }

  /** Probe side of the above-budget gear: top-`nprobe` cells per query via
    * the bounded-heap [[TopKAgg]] over the broadcast centroid table (same
    * order as [[graft.functions.IvfCos.topCells]]: cosine desc, ties →
    * lowest cell). Grouped by the same per-row surrogate key as
    * [[ivfAssignJoin]] — duplicate query rows each keep their probes, and
    * map-typed pass-through columns survive. The query set is small by
    * definition, so the grouped heap is cheap; the model never enters the
    * plan. */
  def ivfProbesJoin(queries: DataFrame, cents: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    val cos = VectorExprs.dot_product(col("v"), col("__cv")) / (col("nrm") * col("__cnrm"))
    val carry = queries.columns.toIndexedSeq.map(c => first(col(c)).as(c))
    val tk = TopKAgg.top_k_agg(cos, col("__cell").cast("long"), nprobe).as("__tk")
    queries.withColumn("__rid", monotonically_increasing_id())
      .crossJoin(broadcast(centroidTable(queries, cents)))
      .groupBy(col("__rid"))
      .agg(carry.head, (carry.tail :+ tk): _*)
      .select(queries.columns.toIndexedSeq.map(col) :+
        explode(col("__tk")).as("__x"): _*)
      .withColumn("pcell", col("__x.id").cast("int"))
      .drop("__x", "__tk")
  }

  /** IVF top-k: candidates come only from the query's `nprobe` probed
    * cells — an equi-join on the cell id — then exact cosine re-rank via
    * the bounded-heap aggregate. The 100 TB ANN shape when sign-LSH's
    * fixed buckets are too coarse: with an [[ivfFitKMeans]]-trained
    * quantizer the cells track the data distribution (the raw [[ivfFit]]
    * seeds do not — they are arbitrary lowest-id vectors). */
  def ivfTopK(assigned: DataFrame, cents: Array[Array[Double]], queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val q = ivfProbes(queries, cents, nprobe)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"), col("pcell"))
    val cos = cosine(col("qv"), col("qn"), col("v"), col("nrm"))
    val scored = assigned.join(broadcast(q),
        col("cell") === col("pcell") && col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nid"), cos.as("cos"))
    topKPerQuery(scored, k)
  }

  /** Near-duplicate vector pairs above a cosine threshold, blocked by a
    * coarse partition column (label / cluster / LSH bucket) so the
    * self-join never goes all-pairs.
    *
    * Blocks larger than `maxBlock` are excluded from the join entirely
    * (lazy broadcast anti-join, [[BucketCap.cap]]): the self-join is
    * quadratic PER BLOCK, so one hot block value (a dominant label, an
    * empty-string key) would otherwise reintroduce the all-pairs blowup
    * the blocking exists to prevent. Audit what a cap would drop with
    * `BucketCap.oversized(corpus.withColumn("b", block), Seq("b"), max)`;
    * prefer a finer block key (e.g. an LSH bucket) over raising the cap. */
  def nearDuplicates(corpus: DataFrame, block: Column, minCosine: Double,
      maxBlock: Int = 10000): DataFrame = {
    val blocked = BucketCap.cap(corpus.withColumn("__blk", block), Seq("__blk"), maxBlock)
    val cos = cosine(col("a.v"), col("a.nrm"), col("b.v"), col("b.nrm"))
    blocked.as("a").join(blocked.as("b"),
        col("a.__blk") === col("b.__blk") && col("a.id") < col("b.id"))
      .where(cos >= minCosine)
      .select(col("a.id").as("a"), col("b.id").as("b"), round(cos, 4).as("cos"))
  }
}
