package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Decade scale-up proof for the LLM-data-pipeline core (`runMain
  * graft.PipelineScaleBench`) — the companion to [[TpchScaleBench]] for
  * the non-relational surface: dedup, text analysis, curation,
  * similarity, and event-sequence operators timed at sf0.1 AND a derived
  * 10× dataset in the same process.
  *
  * Scaling semantics — copies must be genuinely NEW data, not 10×
  * duplicates (10× exact copies would trip every dedup flood guard and
  * measure the cap path, not growth):
  *   - documents: doc_id offset by copy×100M; every token suffixed with
  *     the copy index (`_c<rep>`), so all shingles/minhashes/simhashes
  *     differ across copies — 10× distinct documents with the same
  *     length/shape distribution (n_chars recomputed);
  *   - embeddings: vec_id offset; every component perturbed by a
  *     copy-dependent epsilon — 10× distinct vectors, same geometry;
  *   - events: event_id/user_id offset, timestamps kept — 10× event
  *     density in the same time range (what organic growth does to a
  *     funnel/session/hop-window workload).
  *
  * The within-run sf0.1 leg makes the ratio immune to host-window speed.
  * Ratios ≈ size ratio (or below) = the banding/bucketing/broadcast
  * claims in SCALE.md hold across a real decade, not just by argument.
  */
object PipelineScaleBench {

  private val Factor = 10
  private val Off = 100000000L

  def scaleUp(spark: SparkSession, src: String, dst: String): Unit = {
    val marker = java.nio.file.Paths.get(dst, "_GRAFT_SCALED_PIPE")
    // fingerprint EVERY table the derived dataset copies — the scaled
    // documents/embeddings/events AND the relational ride-alongs — so a
    // regenerated source of any of them invalidates the cached derivation
    val stamp = s"src=$src factor=$Factor fp=${graft.api.ModelCache
      .fingerprint(src, "documents", "embeddings", "events",
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem")}"
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == stamp) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    val reps = spark.range(Factor).select(col("id").as("__rep"))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("__rep") * Off).cast("long").as("doc_id"),
        // suffix every token with the copy index: all shingles differ
        // across copies, so the scaled corpus is 10x distinct documents
        when(col("__rep") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_c"), col("__rep")))).as("__text"),
        col("lang"), col("source"))
      .withColumn("text", col("__text")).drop("__text")
      .withColumn("n_chars", length(col("text")).cast(
        docs.schema("n_chars").dataType))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val embElem = emb.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    emb.crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("__rep") * Off).cast("long").as("vec_id"),
        transform(col("embedding"),
          x => (x + col("__rep").cast("double") * lit(0.0017)).cast(embElem))
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    val ev = spark.read.parquet(s"$src/events.parquet")
    val idT = ev.schema("event_id").dataType
    val uidT = ev.schema("user_id").dataType
    ev.crossJoin(broadcast(reps))
      .select(ev.columns.toSeq.map {
        case "event_id" =>
          (col("event_id").cast("long") + col("__rep") * Off).cast(idT).as("event_id")
        case "user_id" =>
          (col("user_id").cast("long") + col("__rep") * Off).cast(uidT).as("user_id")
        case c => col(c)
      }: _*)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    // the relational tables ride along unscaled so loaders that touch
    // them (q_curate_pipeline's corpus build etc.) resolve
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    java.nio.file.Files.writeString(marker, stamp)
  }

  private val Names = Seq(
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_ngram",
    "q_dedup_cluster", "q_incr_dedup",
    "q_text_tfidf", "q_text_tokens", "q_lang_id", "q_quality_filter",
    "q_bm25_search", "q_heavy_hitters", "q_curate_pipeline", "q_pack",
    "q_sim_topk", "q_sim_lsh", "q_sim_ivf", "q_ann_filtered",
    "q_incr_ann_filtered", "q_incr_ann_delete", "q_incr_ann_asof",
    "q_embed_neardup",
    "q_funnel", "q_sessionize", "q_hop_window", "q_asof_join")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/graft-pipe-sf1"
    val spark = TunedSession("graft-pipe-sf1")

    scaleUp(spark, src, dst)

    val defs = SparkEntry.defs.filter(q => Names.contains(q.name)).sortBy(_.name)
    Bench.warmTables(spark, src)
    Bench.warmTables(spark, dst)

    val shuffleCount = Bench.addShuffleCounter(spark)

    Bench.calibProbe(spark)
    val calibPre = Bench.calibrate(spark)
    val base0 = Bench.timeInventory(spark, src, defs, shuffleCounter = shuffleCount)
    val scaled0 = Bench.timeInventory(spark, dst, defs, shuffleCounter = shuffleCount)
    // stall re-measure, BOTH legs (see TpchScaleBench): a stalled base
    // inflates the ratio's denominator and flatters the decade — the r16
    // TPC-H artifact's failure mode — while a stalled scaled leg inflates
    // it. Pipeline base legs span 0.2-6 s steady, so the base gate is the
    // canceled-retry signal itself (retryCalib set = the reading stood
    // only because a degraded window suppressed retries) rather than an
    // absolute bound; scaled legs gate on 3× their own base. Re-runs
    // keep the min — genuine growth re-measures slow and stands.
    def remeasure(dir: String, ts: Seq[Bench.QueryTiming],
        flag: Bench.QueryTiming => Boolean): Seq[Bench.QueryTiming] =
      ts.map { t =>
        if (t.error.nonEmpty || !flag(t)) t
        else {
          val d = defs.find(_.name == t.name).get
          val again = Bench.timeInventory(spark, dir, Seq(d),
            shuffleCounter = shuffleCount, retrySlow = false).head
          System.err.println(f"[pipe-remeasure] ${t.name} ${t.sec}%.2fs -> ${again.sec}%.2fs")
          if (again.sec < t.sec)
            t.copy(sec = again.sec, attempts = t.attempts + 1, preTailSec = Some(t.sec))
          else t.copy(preTailSec = Some(t.sec))
        }
      }
    // base gate: canceled-retry signal OR an absolute bound above the
    // steadiest-largest base leg (~6.5 s, q_incr_dedup) — the r17
    // committed artifact carried a 20.4 s q_dedup_ngram base (steady:
    // ~1 s) that no retryCalib flagged and that flattered the decade
    // total to 1.03x; an absolute outlier bound catches that class the
    // way TpchScaleBench's 2.5 s bound does for its ≤1.7 s legs
    val base = remeasure(src, base0,
      t => t.sec > 8.0 || (t.retryCalib.nonEmpty && t.sec > 3.0))
    val baseSec = base.map(r => r.name -> r.sec).toMap
    val scaled = remeasure(dst, scaled0,
      t => t.sec > 3 * math.max(0.05, baseSec(t.name)))
    val calibPost = Bench.calibrate(spark)

    // Recall-vs-scale: the quality companion to the timing ratios — if
    // recall collapsed as the corpus grew, the "approximate index
    // survives 100 TB" claim would be timing-only. The gauges re-run
    // over the grown corpus with per-fingerprint fits, so each corpus
    // gets its own IVF/PQ/LSH models. Two scaled legs, because the raw
    // 10x corpus is the EASIER case for the fixed probe set (each probe
    // gained 9 planted near-copies that sit atop its true-neighbor list,
    // so sf1 recall is a non-collapse floor, not a hardness comparison):
    //   - sf1: the corpus as the dedup/timing legs see it (planted
    //     copies included) — recall of "find the near-duplicates";
    //   - sf1_xfam: the probes' own copy families removed (90 of ~10x N
    //     vectors), so every scaled-corpus neighbor is genuinely new
    //     data relative to the probe — the apples-to-apples
    //     recall-vs-growth number.
    // q_annf_recall (round 19): the FILTERED route's gauge rides the same
    // sweep, so the selectivity-adaptive nprobe is priced against scale
    // growth alongside the three unfiltered routes
    val recallNames =
      Seq("q_ann_recall", "q_lsh_recall", "q_annpq_recall", "q_annf_recall")
    def meanRecall(dir: String): Map[String, Double] = recallNames.map { nm =>
      nm -> SparkEntry.queries(nm)(spark, dir)
        .agg(avg(col("recall_bp"))).head.getDouble(0)
    }.toMap
    val xfam = s"$dst-xfam"
    val xMarker = java.nio.file.Paths.get(xfam, "_GRAFT_XFAM")
    val xStamp = s"dst=$dst probes=10 fp=${graft.api.ModelCache
      .fingerprint(dst, "embeddings")}"
    if (!java.nio.file.Files.exists(xMarker) ||
        java.nio.file.Files.readString(xMarker) != xStamp) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(xfam))
      spark.read.parquet(s"$dst/embeddings.parquet")
        .where(col("vec_id") < Off || col("vec_id") % Off >= 10)
        .write.mode("overwrite").parquet(s"$xfam/embeddings.parquet")
      java.nio.file.Files.writeString(xMarker, xStamp)
    }
    val recallBase = meanRecall(src)
    val recallScaled = meanRecall(dst)
    val recallXfam = meanRecall(xfam)

    // Cosine-regret companion: recall@k against exact ground truth
    // punishes ANY ordering disagreement inside near-ties, and the grown
    // corpus is built of 10-member near-tie copy families — a route can
    // return metrically-equal neighbors and still score near-zero recall.
    // Regret measures what recall can't: how much true cosine the
    // retrieved set actually gave up per result slot,
    //   regret_bp = 1e4 * (sum(brute cos) - sum(retrieved exact cos)) / (k*|Q|)
    // with unfilled slots contributing 0. Near-zero regret + low recall =
    // tie reshuffling (harmless); large regret = real quality loss. Same
    // probe sets, ks, and cached per-fingerprint fits as the recall rows.
    def regret(dir: String): Map[String, Double] = {
      import graft.api.{VectorSearch => VS, ProductQuant => PQ}
      import graft.operators.Similarity
      val n = VS.withNorm(Tables.embeddings(spark, dir),
        col("vec_id"), col("embedding"))
      def sumCos(df: org.apache.spark.sql.DataFrame): Double =
        df.agg(coalesce(sum("cos"), lit(0.0))).head.getDouble(0)
      val q10 = n.where(col("id") < 10)
      val q5 = n.where(col("id") < 5)
      val cents = Similarity.ivfCents(spark, dir)
      val nprobe = Similarity.ivfNprobe(spark, dir)
      val assigned = VS.ivfAssign(n, cents)
      val ivf = VS.ivfTopK(assigned, cents, q10, k = 10, nprobe = nprobe)
      val sigged = VS.signLsh(n)
      val lsh = VS.annTopK(sigged, sigged.where(col("id") < 10), k = 5)
      val books = Similarity.pqBooks(spark, dir)
      // the PQ route trains/encodes/scores on the unit sphere (round 14)
      val nu = Similarity.unitized(n)
      val codes = PQ.encode(nu, books, Similarity.PqSub)
      val probes = VS.ivfProbes(q5, cents, nprobe = nprobe)
        .select(col("id").as("qid"), col("pcell"))
      val cand = assigned
        .join(broadcast(probes), col("cell") === col("pcell") && col("id") =!= col("qid"))
        .select(col("qid"), col("id"))
      // the shipped route: ADC shortlist + exact re-rank (q_ivfpq_ann)
      val pq = PQ.adcRefineTopK(codes,
        PQ.lut(nu.where(col("id") < 5), books, Similarity.PqSub), cand,
        corpus = n, k = 10, shortlist = graft.operators.Similarity.pqShortlist(spark, dir))
      // score its picks by their EXACT cosine so regret compares like
      // with like (the refined route already ranks by exact cosine; the
      // re-join keeps the rounding identical to the brute leg)
      val pqCos = pq.select("qid", "nid")
        .join(n.select(col("id").as("nid"), col("v").as("nv"), col("nrm").as("nn")), "nid")
        .join(broadcast(q5.select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))), "qid")
        // rounded to 4dp like VectorSearch.topKPerQuery's cos, so both
        // sides of the subtraction carry identical rounding
        .select(round(graft.functions.VectorExprs.dot_product(col("qv"), col("nv"))
          / (col("qn") * col("nn")), 4).as("cos"))
      // the FILTERED route (round 19): brute ground truth and the ivf leg
      // both restrict candidates to the predicate before ranking, and the
      // ivf leg probes with the selectivity-adaptive nprobe — the same
      // route q_annf_recall gauges, priced here as cosine regret
      val nl = VS.withNorm(Tables.embeddings(spark, dir),
        col("vec_id"), col("embedding"), col("label"))
      val fPred = col("label").isin(0, 3, 6, 9)
      val q10l = nl.where(col("id") < 10)
      val npf = VS.nprobeForFiltered(cents.length, nprobe,
        nl.count(), nl.where(fPred).count())
      val fivf = VS.ivfTopK(VS.ivfAssign(nl, cents).where(fPred), cents,
        q10l, k = 10, nprobe = npf)
      Map(
        "q_ann_recall" -> (sumCos(VS.topK(n, q10, 10)) - sumCos(ivf)) / (10 * 10) * 1e4,
        "q_lsh_recall" -> (sumCos(VS.topK(n, q10, 5)) - sumCos(lsh)) / (5 * 10) * 1e4,
        "q_annpq_recall" -> (sumCos(VS.topK(n, q5, 10)) - sumCos(pqCos)) / (10 * 5) * 1e4,
        "q_annf_recall" -> (sumCos(VS.topK(nl.where(fPred), q10l, 10)) - sumCos(fivf)) / (10 * 10) * 1e4)
    }
    val regretBase = regret(src)
    val regretScaled = regret(dst)
    val regretXfam = regret(xfam)

    // Scanned-bytes ∝ probed-cells: the persisted cell-partitioned ANN
    // index ([[graft.api.AnnIndex]]) read by ONE query at each decade.
    // The plan gate (assertPruned) proves the scan listed only the probed
    // cells' directories; the bytes ratio is the measured scan fraction —
    // ≈ nprobe/nCells (the ≤1/8 policy floor), NOT a function of corpus
    // size. This is the query-time 100 TB story for the ANN surface.
    def annIndexLeg(dir: String): Map[String, Double] = {
      import graft.api.{AnnIndex, VectorSearch => VS}
      import graft.operators.Similarity
      val n = VS.withNorm(Tables.embeddings(spark, dir),
        col("vec_id"), col("embedding"))
      val cents = Similarity.ivfCents(spark, dir)
      val nprobe = Similarity.ivfNprobe(spark, dir)
      val idxDir = Similarity.ivfIndexDir(spark, dir)
      val q1 = n.where(col("id") === 0)
      val cells = AnnIndex.probedCells(VS.ivfProbes(q1, cents, nprobe))
      val pruned = AnnIndex.readCells(spark, idxDir, cells)
      AnnIndex.assertPruned(pruned, idxDir, cells)
      val scanned = AnnIndex.scannedBytes(pruned, idxDir)
      val total = AnnIndex.totalBytes(idxDir)
      Map(
        "cells_total" -> AnnIndex.existingCells(idxDir).size.toDouble,
        "cells_probed" -> cells.size.toDouble,
        "bytes_total" -> total.toDouble,
        "bytes_scanned" -> scanned.toDouble,
        "scan_frac" -> scanned.toDouble / math.max(total, 1L))
    }
    val annIdxBase = annIndexLeg(src)
    val annIdxScaled = annIndexLeg(dst)

    import Bench.num
    val baseMap = base.map(r => r.name -> r).toMap
    val rows = scaled.map(r => Bench.ratioRow(baseMap(r.name), r)).mkString(",\n")
    val doc = s"""{
  "src": "$src",
  "dst": "$dst",
  "factor": $Factor,
  "calib_pre_sec": ${num(calibPre, 4)},
  "calib_post_sec": ${num(calibPost, 4)},
  "total_sf01_sec": ${num(base.map(_.sec).sum, 4)},
  "total_sf1_sec": ${num(scaled.map(_.sec).sum, 4)},
  "total_ratio": ${num(scaled.map(_.sec).sum / math.max(base.map(_.sec).sum, 1e-9), 2)},
  "recall_note": "sf1 includes each probe's 9 planted near-copies (easier; a non-collapse floor); sf1_xfam removes the probes' own copy families, so it is the apples-to-apples recall over genuinely new 10x data",
  "recall_bp": {
${recallNames.map(nm => s"""    "$nm": {"sf01": ${num(recallBase(nm), 1)}, "sf1": ${num(recallScaled(nm), 1)}, "sf1_xfam": ${num(recallXfam(nm), 1)}}""").mkString(",\n")}
  },
  "regret_note": "cosine given up per retrieved slot vs exact ground truth, in bp of cosine; near-zero regret with low recall = near-tie reshuffling, large regret = real quality loss",
  "regret_bp": {
${recallNames.map(nm => s"""    "$nm": {"sf01": ${num(regretBase(nm), 1)}, "sf1": ${num(regretScaled(nm), 1)}, "sf1_xfam": ${num(regretXfam(nm), 1)}}""").mkString(",\n")}
  },
  "ann_index_note": "one query's pruned read over the persisted cell-partitioned IVF index, plan-gated (scan listed only the probed cells' directories): scan_frac tracks nprobe/nCells (<= 1/8 policy floor) at BOTH decades, independent of corpus size",
  "ann_index": {
${Seq("sf01" -> annIdxBase, "sf1" -> annIdxScaled).map { case (tag, m) =>
      s"""    "$tag": {"cells_total": ${m("cells_total").toLong}, "cells_probed": ${m("cells_probed").toLong}, "bytes_total": ${m("bytes_total").toLong}, "bytes_scanned": ${m("bytes_scanned").toLong}, "scan_frac": ${num(m("scan_frac"), 4)}}"""
    }.mkString(",\n")}
  },
  "queries": {
$rows
  }
}
"""
    val out = sys.env.getOrElse("GRAFT_PIPE_SF1_JSON", "bench_pipeline_sf1.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), doc)
    println(doc)
    spark.stop()
  }
}
