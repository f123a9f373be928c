package graft.api

import graft.functions.CrossHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public deduplication API over arbitrary (id, text) DataFrames.
  *
  * Pipeline shape (the 100 TB design — every step is a bounded shuffle of
  * fixed-width keys, never an all-pairs product over documents):
  *
  * {{{
  *   val hashes = TextDedup.shingleHashes(docs, $"doc_id", $"text")   // narrow + 1 shuffle
  *   val bands  = TextDedup.minhashBands(hashes)                      // 1 agg shuffle
  *   val cand   = TextDedup.candidatePairs(bands)                     // bucket equi-join
  *   val dups   = TextDedup.jaccardVerify(hashes, cand, minJaccard = 0.8)
  * }}}
  *
  * All hashing is md5-derived ([[graft.functions.CrossHash]]) so results are
  * engine-reproducible; the `graft.operators.Dedup` queries are these same
  * functions instantiated on the test corpus and hash-verified vs DuckDB.
  */
object TextDedup {

  /** Exact dedup: one row per distinct text with the kept (min) id and the
    * multiplicity. The groupBy key is the text's FULL 128-bit md5 digest
    * (16-byte binary), NOT the text itself — the dedup shuffle carries
    * 16-byte keys instead of whole documents (at 100 TB that is the
    * difference between shuffling 16 bytes and shuffling kilobytes per
    * row). The collision bound is global over the whole keyspace, N²/2^129:
    * even at 10^12 documents the expected number of colliding pairs is
    * < 10^-12, so silent merges are genuinely negligible (a 56-bit key
    * would NOT be: its N²/2^57 bound predicts thousands of silent merges
    * at 10^10–10^11 docs). Use [[exactVerified]] when byte-exactness must
    * be proven rather than probabilistically assumed. */
  def exact(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("__id"), unhex(md5(text.cast("string"))).as("__digest"))
      .groupBy(col("__digest"))
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Collision-DETECTING exact dedup: groups on the same 128-bit digest as
    * [[exact]] and additionally counts distinct raw texts per digest group,
    * so a collision surfaces as `n_texts > 1` instead of a silent merge.
    * The digest is returned so callers can join colliding rows back to the
    * input and repair them (re-group just those digests by raw text) — a
    * merged row with `n_texts > 1` spans distinct documents and its
    * keep_id/n_copies must not be trusted as-is.
    *
    * Cost note: unlike [[exact]], the raw text still crosses the shuffle
    * here — it rides inside the partial `count_distinct` aggregation state —
    * so this variant trades the small-key saving for proof. Output:
    * (digest, keep_id, n_copies, n_texts); no text column is returned. */
  def exactVerified(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("__id"), text.as("__text"), unhex(md5(text.cast("string"))).as("__digest"))
      .groupBy(col("__digest"))
      .agg(
        min(col("__id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        count_distinct(col("__text")).as("n_texts"))
      .select(col("__digest").as("digest"), col("keep_id"), col("n_copies"), col("n_texts"))

  /** Distinct word-n-gram shingle hashes per document: (id, hv), hv < P.
    * posexplode + window `lead` keeps the whole stage codegen'd (see
    * operators/Corpora.scala for why HOFs are avoided here). */
  def shingleHashes(df: DataFrame, id: Column, text: Column, n: Int = 3): DataFrame = {
    require(n >= 2 && n <= 8, s"shingle size $n out of range")
    val w = Window.partitionBy("__id").orderBy("pos")
    val leads = (1 until n).map(i => lead(col("w0"), i).over(w).as(s"w$i"))
    val shingle = concat_ws(" ", (0 until n).map(i => col(s"w$i")): _*)
    df.select(id.as("__id"), posexplode(split(text, " ")).as(Seq("pos", "w0")))
      .select(col("__id") +: col("pos") +: col("w0") +: leads: _*)
      .where(col(s"w${n - 1}").isNotNull)
      .select(col("__id").as("id"), CrossHash.shingleHash(shingle).as("hv"))
      .distinct()
  }

  /** MinHash signatures folded into LSH band keys: (id, band, bv).
    * numPerms permutations, numPerms/bands rows per band. */
  def minhashBands(hashes: DataFrame, numPerms: Int = 16, bands: Int = 4): DataFrame = {
    require(numPerms % bands == 0, "bands must divide numPerms")
    require(numPerms <= CrossHash.Perms.size, s"at most ${CrossHash.Perms.size} permutations")
    val rows = numPerms / bands
    val mins = (0 until numPerms).map(j =>
      min(CrossHash.perm(j, col("hv"))).as(s"m$j"))
    val mh = hashes.groupBy(col("id")).agg(mins.head, mins.tail: _*)
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        md5(concat_ws(",", (0 until rows).map(r => col(s"m${rows * b + r}")): _*)).as("bv"))
    }
    mh.select(col("id"), explode(array(bandStructs: _*)).as("x"))
      .select(col("id"), col("x.band").as("band"), col("x.bv").as("bv"))
  }

  /** Oversized-bucket census for [[candidatePairs]]/[[simhashPairs]] inputs:
    * the (band, bv) buckets the cap will drop. Audit drops with this —
    * capping is deliberate but should never be invisible. */
  def oversizedBuckets(bands: DataFrame, maxBucket: Int = 10000): DataFrame =
    BucketCap.oversized(bands, Seq("band", "bv"), maxBucket)

  /** Candidate pairs from shared LSH buckets: (a, b, n_bands), a < b.
    * Equi-join on the bucket key — shuffle cost ∝ bucket sizes, with
    * buckets larger than `maxBucket` excluded (lazy broadcast anti-join,
    * [[BucketCap.cap]]; no job runs at plan-construction time). Inspect
    * drops with [[oversizedBuckets]]; persist `bands` so the census and
    * both join sides share one computed stage. */
  def candidatePairs(bands: DataFrame, maxBucket: Int = 10000): DataFrame = {
    val capped = BucketCap.cap(bands, Seq("band", "bv"), maxBucket)
    val x = capped.as("x")
    val y = capped.as("y")
    x.join(y,
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("a"), col("y.id").as("b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Exact n-gram Jaccard for candidate pairs (the verify stage): keeps
    * pairs with jaccard >= minJaccard. Cost ∝ candidates, not N². */
  def jaccardVerify(hashes: DataFrame, pairs: DataFrame, minJaccard: Double): DataFrame = {
    val sizes = hashes.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = pairs.select("a", "b")
      .join(hashes.as("x"), col("x.id") === col("a"))
      .join(hashes.as("y"), col("y.id") === col("b") && col("y.hv") === col("x.hv"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("ni"))
    val jac = col("ni").cast("double") / (col("na") + col("nb") - col("ni"))
    inter
      .join(sizes.toDF("da", "na"), col("da") === col("a"))
      .join(sizes.toDF("db", "nb"), col("db") === col("b"))
      .where(jac >= minJaccard)
      .select(col("a"), col("b"), round(jac, 4).as("jaccard"))
  }

  /** Connected components over undirected near-dup pairs `(a, b)` → one
    * `(id, component)` row per node, where `component` is the minimum id
    * reachable from the node — i.e. the canonical "keep" representative of
    * each duplicate cluster.
    *
    * Algorithm: min-label propagation with pointer jumping. Each round a
    * node takes the min of its own label and its neighbors' labels
    * (propagation — O(diameter) alone), then follows its label one hop
    * through the label map (`lbl := lbl(lbl)`, path halving). The jump
    * step halves label-chain lengths every round, so a chain of m
    * duplicates converges in O(log m) rounds instead of O(m) — the same
    * shortcutting idea as the large-star/small-star MapReduce CC
    * algorithm. Labels are always node ids within the same component
    * (neighbor-min stays in-component; the jump follows an in-component
    * id), so at fixpoint every node carries the component's minimum id.
    * Each round is two shuffle joins + one aggregate; the DRIVER sees
    * only the converged/not bit per round (an `isEmpty` over the already-
    * checkpointed frame), never data — the loop structure production CC
    * jobs run at 100 TB scale.
    *
    * Throws `IllegalStateException` if the budget is exhausted before the
    * fixpoint: non-converged labels would silently split one duplicate
    * cluster into several "canonical" ids downstream — wrong keep-lists —
    * so running out of rounds must be loud, never a return value.
    *
    * The edge list is persisted for the duration (every round joins it),
    * and each round's labels are `localCheckpoint`ed: the round's plan
    * references the previous labels three times (join + neighbor
    * aggregate + jump), so without truncating lineage the LOGICAL plan
    * grows geometrically — exponential analysis/explain cost by round
    * ~15 even though the persisted data is tiny. Checkpointing makes
    * every round's plan O(1), via [[graft.Checkpointing.cut]] — local
    * blocks by default; set `spark.graft.checkpointDir` for reliable
    * cluster checkpoints (lost-executor safety), same shape.
    *
    * `jumps`: pointer jumps through the previous round's label map per
    * round. The default 1 is the classic path-halving schedule; a
    * DIAMETER-BOUND graph (one long chain — e.g. gradient-image phash
    * components, where round count, not data volume, is the cost) cuts
    * rounds roughly ×jumps for the price of `jumps − 1` extra joins
    * against the small cached label frame. The fixpoint is identical for
    * any schedule (labels decrease monotonically to the component
    * minimum), so `jumps` is purely a performance knob.
    *
    * `driverCutoff` (0 = off): the broadcast-threshold idiom applied to
    * CC. Every distributed round costs a fixed number of jobs regardless
    * of data volume, so on a SMALL edge list (16 bytes/pair) a driver
    * union-find is strictly cheaper than even one round — measured ~8
    * rounds ≈ 5 s of pure scheduling overhead for a 10⁵-pair graph that
    * union-finds in milliseconds. When the edge count is ≤ the cutoff
    * (checked with a limit-probe, one job, no count-then-collect double
    * evaluation), pairs collect and path-compressed union-find labels
    * each node with its component minimum — bit-identical to the
    * distributed fixpoint. Larger graphs fall through to the distributed
    * loop unchanged; size the cutoff like a broadcast threshold
    * (2^20 pairs = 16 MB driver memory). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      jumps: Int = 1, driverCutoff: Long = 0L): DataFrame = {
    require(jumps >= 1, s"jumps must be >= 1, got $jumps")
    if (driverCutoff > 0) {
      val probe = edges.select(col("a"), col("b"))
        .limit(driverCutoff.toInt + 1).collect()
      if (probe.length <= driverCutoff) {
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        probe.foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = probe.iterator
          .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toArray.distinct
        // min-root union order makes every root its component's minimum id
        val out = nodes.sorted.map(n => (n, find(n))).toSeq
        import edges.sparkSession.implicits._
        return out.toDF("id", "component")
      }
      // fell past the cutoff: continue distributed (edges re-evaluates —
      // the rare path; callers with a borderline graph should persist)
    }
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(edges.select(col("b").as("src"), col("a").as("dst")))
      .persist()
    var labels = graft.Checkpointing.cut(
      sym.select(col("src").as("id")).distinct()
        .withColumn("lbl", col("id")))
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val nbrMin = sym.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min("lbl").as("nlbl"))
      val stepped = labels.join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
      // pointer jump (path halving) through the PREVIOUS round's label map:
      // lbl := min(lbl, labels(lbl)). A stale pointer still doubles the
      // covered distance per round (on a chain, d' = 2d+1), keeping the
      // loop O(log m) — and joining the checkpointed `labels` instead of
      // `stepped` avoids evaluating the neighbor aggregate twice.
      var jumped = stepped
      var j = 0
      while (j < jumps) {
        jumped = jumped.as("s")
          .join(labels.select(col("id").as("jid"), col("lbl").as("jlbl")),
            col("s.lbl") === col("jid"), "left")
          .select(col("s.id").as("id"), col("prev"),
            least(col("s.lbl"), coalesce(col("jlbl"), col("s.lbl"))).as("lbl"))
        j += 1
      }
      val next = graft.Checkpointing.cut(jumped)
      converged = next.where(col("lbl") =!= col("prev")).isEmpty
      labels = next.select("id", "lbl")
      it += 1
    }
    sym.unpersist()
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — a duplicate " +
        "cluster has diameter larger than the budget; raise maxIter " +
        "(rounds needed grow with log(max chain length), not corpus size)")
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** End-to-end dedup keep-list: one `(id, keep)` row per document, where
    * `keep` is true for every document outside any near-dup cluster and
    * for each cluster's canonical (minimum-id) representative. This is the
    * operator a corpus pipeline actually materializes — `docs.join(
    * keepList, "id").where($"keep")` IS the deduplicated corpus. Cost =
    * [[connectedComponents]] over the pairs + one left join against the
    * (tiny — only clustered ids) component map, broadcast-eligible at any
    * realistic duplicate rate. */
  def keepList(docs: DataFrame, id: Column, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val cc = connectedComponents(pairs, maxIter)
    docs.select(id.as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"),
        (col("component").isNull || col("component") === col("id")).as("keep"))
  }

  /** SimHash fingerprints: (id, f) with `bits`-bit weighted-bit signature.
    * One map-side-combined groupBy; md5 once per distinct (id, token). The
    * bit-sum fold runs in [[graft.functions.SimhashAgg]] — a custom
    * TypedImperativeAggregate with a primitive buffer; the equivalent
    * `bits` declarative sums generate a codegen unit too large to JIT in
    * time (PERF_NOTES.md). Results identical (oracle-pinned). */
  def simhash(df: DataFrame, id: Column, text: Column, bits: Int = 48): DataFrame = {
    require(bits >= 8 && bits <= 56, s"bits $bits out of range (md5Long is 56-bit)")
    val words = df.select(id.as("id"), explode(split(text, " ")).as("word"))
    val wc = words.groupBy("id", "word").agg(count(lit(1)).as("cnt"))
    val wh = wc.select(col("id"), CrossHash.md5Long(col("word")).as("h"), col("cnt"))
    wh.groupBy("id")
      .agg(graft.functions.SimhashAgg.simhash_agg(col("h"), col("cnt"), bits).as("f"))
  }

  /** Near-dup pairs from SimHash fingerprints: band on bit chunks, then
    * Hamming-filter. (a, b, hamming), a < b, hamming <= maxHamming.
    * Buckets larger than `maxBucket` are excluded from the band join
    * (lazy, [[BucketCap.cap]]; audit with [[oversizedBuckets]]). */
  def simhashPairs(fingerprints: DataFrame, bands: Int = 4, bitsPerBand: Int = 12,
      maxHamming: Int = 8, maxBucket: Int = 10000): DataFrame = {
    val mask = (1L << bitsPerBand) - 1
    val sbands0 = fingerprints
      .select(col("id"), col("f"), explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("id"), col("f"), col("band"),
        expr(s"shiftright(f, $bitsPerBand * band) & $mask").as("bv"))
    val sbands = BucketCap.cap(sbands0, Seq("band", "bv"), maxBucket)
    val scand = sbands.as("x")
      .join(sbands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()
    val hamming = expr("bit_count(fa.f ^ fb.f)")
    scand
      .join(fingerprints.toDF("ida", "fa_f").as("fa0"), col("ida") === col("a"))
      .join(fingerprints.toDF("idb", "fb_f").as("fb0"), col("idb") === col("b"))
      .withColumn("hamming", expr("bit_count(fa_f ^ fb_f)").cast("int"))
      .where(col("hamming") <= maxHamming)
      .select("a", "b", "hamming")
  }
}
