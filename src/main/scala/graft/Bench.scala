package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs the declared query inventory on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink — unlike `count()`, which
  * lets Catalyst prune the projections away, noop executes the full plan
  * including result expression evaluation, so timings reflect real work.
  *
  * The table warm-up and timing loops are factored out ([[warmTables]],
  * [[timeInventory]]) so `BenchSpec` can prove the fault-isolation
  * contract: one table loader or query plan broken by testdata drift costs
  * only its own rows, never the whole artifact (round 10 lost ALL numbers
  * to a single AnalysisException in the warm-up loop).
  */
object Bench {

  /** One timed inventory row. `error` is the first failure message if any
    * attempt threw — the timing then prices the failed attempt(s), and the
    * row still appears in every output map. `retryCalib` is the calibration
    * probe reading that CANCELLED further retries (degraded host window);
    * None when retries were never gated. `winCalib` is the query's NEAREST
    * calibration probe reading (assigned by [[Bench.assignWindows]]); 0
    * until assigned. */
  final case class QueryTiming(name: String, sec: Double, shuffleMb: Double,
      attempts: Int, median: Double, error: Option[String],
      retryCalib: Option[Double] = None, winCalib: Double = 0.0,
      preTailSec: Option[Double] = None) {
    /** Window correction factor this row divides by: winCalib expressed as
      * a multiple of the hot-host reference, CLAMPED at ≥ 1 — normalization
      * may only correct degradation, never claim sub-raw speed. Probes
      * taken between query bursts retain a small systematic overshoot
      * (measured ~1.1-1.4× beside queries running at ~1.04× hot even after
      * the settle+min-of-3 debiasing), and an unclamped factor would
      * deflate a hot run's total below what the code measurably did. The
      * clamp makes the bias ONE-SIDED by design; the artifact publishes the
      * per-query factor distribution (`norm_factors`) so a reader can see
      * exactly how much of total_norm_sec came from large corrections. */
    def normFactor: Double =
      if (winCalib > 0) math.max(1.0, winCalib / Bench.CalibRef) else 1.0

    /** Window-corrected seconds: `sec` expressed at hot-host speed per this
      * query's window factor (probes interpolated by [[Bench
      * .assignWindows]]). Run-bracketing probes cannot see a MID-RUN stall
      * (the r14 driver artifact doubled on identical plans that way);
      * dividing each query by its in-run window estimate corrects the
      * stalled block without touching the queries outside it. Raw `sec`
      * stays the primary record. */
    def normSec: Double = sec / normFactor
  }

  /** An inventory timed with interleaved calibration probes. `probes` are
    * (queries completed before the probe, probe seconds) — position p sits
    * between query p-1 and query p in run order. */
  final case class CalibratedRun(timings: Seq[QueryTiming],
      probes: Seq[(Int, Double)]) {
    def totalRaw: Double = timings.map(_.sec).sum
    def totalNorm: Double = timings.map(_.normSec).sum
  }

  /** watchdog hooks: the currently-running query and its start nanos */
  @volatile private var current = ""
  @volatile private var started = 0L

  /** Hot-host reference reading of [[calibProbe]] (BASELINE.md
    * "Calibration normalization") — the ONE copy every normalization and
    * degraded-window gate divides by (bench totals, the stream bench's
    * early-stop hot gate, the retry budget below). Re-measure here if the
    * reference host changes. */
  val CalibRef = 0.046

  /** Fixed CPU-bound host-speed probe (no IO, no real shuffle): totals
    * divided by its reading are comparable across host windows. Hot-host
    * reference: [[CalibRef]]. */
  def calibProbe(spark: SparkSession): Unit =
    spark.range(0L, 40000000L, 1L, 32)
      .selectExpr("max(xxhash64(id))").head() // max: ANSI-overflow-free

  /** Best of 3 probe readings — call [[calibProbe]] once first to JIT-warm. */
  def calibrate(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      calibProbe(spark)
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Interleaved probe: a settle pause, then min of 3 readings. The settle
    * + min matter: a probe taken IMMEDIATELY after a query burst reads the
    * JVM's residual work (async cleaner RPCs, GC debt, scheduler drain),
    * not the host window — measured 2.0-2.9× readings beside queries
    * running at 1.06× the hot artifact, which would falsely deflate the
    * normalized total by ~40%. A genuinely degraded window stays slow
    * through the pause and all three readings; transient self-inflicted
    * noise does not. Cost ≈ 0.6 s hot × ~19 probes per full run — outside
    * the query timings. */
  def probeOnce(spark: SparkSession): Double = {
    Thread.sleep(400)
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      calibProbe(spark)
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Probe cadence for [[timeInventoryCalibrated]]: mid-run stalls observed
    * on this host span tens of queries (the r14 driver artifact's two
    * alphabetically-contiguous blocks), so every-8 localizes them well
    * below the block width at negligible cost. */
  val ProbeEvery = 8

  /** Assign each query a window reading by LINEAR INTERPOLATION between
    * the two probes bracketing it in run order (round 16; was
    * nearest-probe). Nearest-probe has a mid-gap blind spot: a stall
    * boundary falling INSIDE a probe gap assigns every query between the
    * boundary and the gap's midpoint to the wrong side — the r15 driver
    * run showed exactly that (q_mv_having stalled but normalized against
    * a pre-stall probe, VERDICT r15 "What's wrong" #1). Interpolation
    * bounds the worst-case factor error at HALF the probe-to-probe swing
    * (nearest: the full swing) and reduces to the same answer when both
    * bracketing probes agree. A query's own `retry_calib` probe still
    * wins outright — it was taken immediately beside the stalled
    * attempts, closer than any interleaved probe. No probes at all leaves
    * rows unassigned (normSec = raw). */
  def assignWindows(timings: Seq[QueryTiming],
      probes: Seq[(Int, Double)]): Seq[QueryTiming] =
    if (probes.isEmpty) timings
    else {
      val ps = probes.sortBy(_._1)
      timings.zipWithIndex.map { case (t, i) =>
        val pos = i + 0.5
        val cal = t.retryCalib.getOrElse {
          val (lo, hi) = ps.partition(_._1 <= pos)
          (lo.lastOption, hi.headOption) match {
            case (Some((pb, cb)), Some((pa, ca))) =>
              cb + (ca - cb) * ((pos - pb) / (pa - pb))
            case (Some((_, cb)), None) => cb
            case (None, Some((_, ca))) => ca
            case _ => 0.0
          }
        }
        t.copy(winCalib = cal)
      }
    }

  /** Degraded-window gate for the adaptive probe stride: while the last
    * probe reads above this multiple of [[CalibRef]], the probe gap halves
    * (floor 2) — a stall BOUNDARY is then localized to within one query of
    * a probe instead of hiding anywhere in an 8-query gap. Same 1.5×
    * threshold as the retry-cancel gate. */
  val DegradedProbe = 1.5

  /** [[timeInventory]] with a calibration probe interleaved every
    * `probeEvery` queries (HALVED down to 2 while the window reads
    * degraded — see [[DegradedProbe]]) and each row normalized against the
    * interpolation of its bracketing probes. `queryHook(idx)` fires before
    * each query with its global run-order index and once more with
    * `defs.size` after the last — the deliberate-degrade drill hangs its
    * CPU burners off it (per-query granularity so a drill window can start
    * or end MID-GAP, the exact case the interpolation is for). */
  def timeInventoryCalibrated(spark: SparkSession, sfDir: String,
      defs: Seq[QueryDef], shuffleCounter: () => Long = () => 0L,
      retrySlow: Boolean = true, probeEvery: Int = ProbeEvery,
      queryHook: Int => Unit = _ => ()): CalibratedRun = {
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    val timings = scala.collection.mutable.ArrayBuffer.empty[QueryTiming]
    var last = probeOnce(spark)
    probes += 0 -> last
    var stride = probeEvery
    while (timings.size < defs.size) {
      stride =
        if (last > DegradedProbe * CalibRef) math.max(2, stride / 2)
        else probeEvery
      val base = timings.size
      val chunk = defs.slice(base, base + stride)
      timings ++= timeInventory(spark, sfDir, chunk, shuffleCounter,
        retrySlow, queryHook = j => queryHook(base + j))
      last = probeOnce(spark)
      probes += timings.size -> last
    }
    queryHook(defs.size)
    CalibratedRun(assignWindows(timings.toSeq, probes.toSeq), probes.toSeq)
  }

  /** Locale-pinned fixed-point rendering for the JSON artifacts: the `f`
    * interpolator uses the default locale, and a comma-decimal locale
    * would emit unparseable JSON. */
  def num(d: Double, places: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(d))

  /** (norm_sec, shuffle_mb) per query from a prior run's per-query
    * artifact — the reference the tail re-measure compares against. The
    * file is this main's own output format (one query per line), so a
    * line-regex parse is exact. Missing/unreadable file → empty map (the
    * tail pass is then a no-op — e.g. the very first run). */
  def loadRef(path: String, wantSf: Option[String] = None): Map[String, (Double, Double)] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isRegularFile(p)) return Map.empty
    val line = ("\"(q_\\w+)\": \\{\"sec\": [0-9.]+, \"norm_sec\": ([0-9.]+)," +
      ".*?\"shuffle_mb\": ([0-9.]+)").r
    try {
      val text = java.nio.file.Files.readString(p)
      // provenance gates: a deliberate-degrade drill's artifact must never
      // feed the tail-gate medians (its stalled norms would double the
      // median and blind the gate), and a run at a DIFFERENT scale factor
      // has incomparable timings/shuffles. Artifacts predating the
      // degrade stamp carry no marker — none of them were drills.
      if (text.contains("\"degrade_drill\": true")) return Map.empty
      if (wantSf.exists(sf => !text.contains(s""""sf": "$sf""""))) return Map.empty
      line.findAllMatchIn(text)
        .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble)).toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Per-query MEDIAN (norm_sec, shuffle_mb) across the last committed
    * run artifacts in `bench_runs/` — the cross-run reference the tail
    * re-measure gates on. A median over ≤6 runs is robust to one stalled
    * AND one anomalously-fast artifact; a single file (however chosen)
    * is not. */
  def loadRefMedians(runsDir: String = "bench_runs",
      wantSf: Option[String] = None): Map[String, (Double, Double)] = {
    val files = Option(new java.io.File(runsDir).list())
      .getOrElse(Array.empty[String])
      .filter(_.matches("per_query_.*\\.json")).sorted.takeRight(6)
    val parsed = files.toIndexedSeq.map(f => loadRef(s"$runsDir/$f", wantSf))
      .filter(_.nonEmpty)
    if (parsed.isEmpty) Map.empty
    else {
      def med(xs: Seq[Double]) = { val s = xs.sorted; s((s.size - 1) / 2) }
      parsed.flatMap(_.keys).distinct.map { n =>
        val vals = parsed.flatMap(_.get(n))
        n -> (med(vals.map(_._1)), med(vals.map(_._2)))
      }.toMap
    }
  }

  /** End-of-run tail re-measure (round 17, VERDICT r16 "What's wrong" #1):
    * a mid-run stall the interleaved probes UNDER-read survives the ≥1
    * normalization clamp and misprices the committed record — the r16 hot
    * artifact carried a 2-3.5× TPC-H block that all three r15 runs and the
    * same night's driver run priced at 0.7-1.0 s. Any query whose
    * norm_sec still exceeds 2× its cross-run committed median
    * ([[loadRefMedians]]) WITH matching shuffle volume (same plan work —
    * a real plan regression moves
    * shuffle or stays slow on the re-run) re-runs ONCE after the
    * inventory, normalized against its own fresh probe. The artifact
    * records both readings (`pre_tail_sec` beside the final `sec`), so a
    * genuine regression is still visible — it re-measures slow.
    *
    * SYMMETRIC (round 18, ADVICE r17): anomalously FAST readings re-run
    * too — a stalled calibration probe OVERSTATES the window factor and
    * deflates norm_sec, and a one-sided estimator combined with
    * best-of-N artifact selection biases committed totals optimistic. A
    * query landing under half its cross-run median (same shuffle, and a
    * median ≥ 0.5 s so the gap is signal, not sub-second jitter)
    * re-measures once beside a fresh probe, and the re-measured reading
    * is committed whichever direction it moves. `median` is NEVER
    * touched by this pass — it stays the attempt-median of the in-run
    * measurement (the tail swap is documented by `pre_tail_sec`), so
    * the field keeps exactly one meaning. */
  def tailRemeasure(spark: SparkSession, sfDir: String,
      timings: Seq[QueryTiming], defs: Seq[QueryDef],
      ref: Map[String, (Double, Double)]): Seq[QueryTiming] = {
    if (ref.isEmpty) return timings
    val byName = defs.map(d => d.name -> d).toMap
    timings.map { t =>
      def shuffleMatches(refShuffle: Double) =
        math.abs(t.shuffleMb - refShuffle) <= math.max(1.0, 0.1 * refShuffle)
      val slowHit = ref.get(t.name).exists { case (refNorm, refShuffle) =>
        t.error.isEmpty && refNorm > 0 && t.normSec > 2.0 * refNorm &&
          shuffleMatches(refShuffle)
      }
      val fastHit = !slowHit && ref.get(t.name).exists { case (refNorm, refShuffle) =>
        t.error.isEmpty && refNorm >= 0.5 && t.normSec < 0.5 * refNorm &&
          shuffleMatches(refShuffle)
      }
      if ((!slowHit && !fastHit) || !byName.contains(t.name)) t
      else {
        val probe = probeOnce(spark)
        val t0 = System.nanoTime()
        val ok = try {
          byName(t.name).fn(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); true
        } catch { case scala.util.control.NonFatal(_) => false }
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench-tail] ${t.name}: run ${t.sec}%.2fs " +
          f"(norm ${t.normSec}%.2fs, ${if (slowHit) "slow" else "fast"}%s outlier) " +
          f"vs ref ${ref(t.name)._1}%.2fs — re-measured ${s}%.2fs (probe $probe%.3fs)")
        if (!ok) t.copy(preTailSec = Some(t.sec))
        else if (slowHit && s >= t.sec)
          t.copy(preTailSec = Some(t.sec)) // slow again: the reading stands
        else
          // commit the re-measured reading (slow path: only when faster;
          // fast path: unconditionally — honesty must move totals UP too).
          // `median` stays the in-run attempt median (see scaladoc).
          t.copy(sec = s, winCalib = probe, retryCalib = None,
            attempts = t.attempts + 1, preTailSec = Some(t.sec))
      }
    }
  }

  /** Accumulating task-level shuffle-write counter; the delta around a
    * query is its real shuffle volume ("measure, don't guess"). */
  def addShuffleCounter(spark: SparkSession): () => Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      })
    () => bytes.get()
  }

  /** One per-query comparison row of the scale-up artifacts (sf0.1 leg vs
    * derived-10x leg), error messages scrubbed of JSON-unsafe chars. */
  def ratioRow(b: QueryTiming, r: QueryTiming): String = {
    val ratio = if (b.sec > 0) r.sec / b.sec else -1.0
    val err = (r.error.toSeq ++ b.error.toSeq).headOption.map(e =>
      s""", "error": "${e.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(160)}"""")
      .getOrElse("")
    s"""  "${b.name}": {"sf01_sec": ${num(b.sec, 4)}, "sf1_sec": ${num(r.sec, 4)}, "ratio": ${num(ratio, 2)}, "sf01_shuffle_mb": ${num(b.shuffleMb, 2)}, "sf1_shuffle_mb": ${num(r.shuffleMb, 2)}$err}"""
  }

  private def defaultLoader(s: SparkSession, sfDir: String, t: String): DataFrame =
    if (t == "events") Tables.events(s, sfDir) else Tables.load(s, sfDir, t)

  /** Per-table warm-up with per-table isolation: a loader broken by
    * testdata drift must cost only the queries that read that table, never
    * the whole run. Returns (table, error) for each failed loader. */
  def warmTables(spark: SparkSession, sfDir: String,
      tables: Seq[String] = Tables.all,
      loader: (SparkSession, String, String) => DataFrame = defaultLoader)
      : Seq[(String, String)] =
    tables.flatMap { t =>
      try {
        loader(spark, sfDir, t).write.format("noop").mode("overwrite").save()
        None
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up of table $t failed: ${e.getMessage}")
        Some(t -> String.valueOf(e.getMessage))
      }
    }

  /** Times the given inventory. Never throws on a failing query — the
    * error is captured in that query's row (fault isolation, BenchSpec).
    *
    * `retrySlow` enables the steal-window re-measure policy (see the
    * inline comments); specs disable it to keep runs deterministic. */
  def timeInventory(spark: SparkSession, sfDir: String, defs: Seq[QueryDef],
      shuffleCounter: () => Long = () => 0L,
      retrySlow: Boolean = true,
      queryHook: Int => Unit = _ => ()): Seq[QueryTiming] =
    defs.zipWithIndex.map { case (q, qi) =>
      queryHook(qi)
      var error: Option[String] = None
      def once(): Double = {
        val t0 = System.nanoTime()
        current = q.name; started = t0
        try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}")
          if (error.isEmpty) error = Some(String.valueOf(e.getMessage))
        }
        current = ""
        (System.nanoTime() - t0) / 1e9
      }
      // the sandbox VM exhibits stochastic multi-second stalls unrelated
      // to the plan under test (PERF_NOTES.md: identical code measured
      // 3.6s and 85s for the same query in one JVM — host-level CPU
      // steal). A query over the slow threshold re-runs (bounded attempts)
      // and reports the min — steady-state cost — while a genuinely
      // expensive plan stays slow on every attempt and is still flagged.
      val shuffle0 = shuffleCounter()
      val readings = scala.collection.mutable.ArrayBuffer(once())
      val qShuffleMb = (shuffleCounter() - shuffle0) / 1e6
      def sec = readings.min
      // any first reading over ~1s re-measures once and reports the min:
      // the second run prices the plan with its generated classes already
      // JIT/janino-compiled — the steady-state cost a resident engine pays
      // per query, which is what the reference's long-running job
      // amortizes — and rides out partial steal windows. Sub-second plans
      // skip it: compile time is already a rounding error there. A failed
      // query never retries — its error is the result.
      if (retrySlow && error.isEmpty && sec > 1.0) readings += once()
      // readings far above the steady ceiling (~3s) get extra attempts: a
      // 6-9s reading is still overwhelmingly a steal window (q_corr_stats
      // measured 8.6s on three consecutive attempts, then 1.9s steady) —
      // but ONLY while the host window itself reads hot. When the
      // bracketing calibration probe is degraded, the stall the retries
      // would wait out IS the window (r13: one query burned 5 x 40s
      // attempts chasing a host stall — pure raw-wall inflation); stop
      // retrying and let the calibration-normalized total carry the gate.
      var retryCalib: Option[Double] = None
      while (retrySlow && error.isEmpty && sec > 3.0 && retryCalib.isEmpty &&
          readings.size < (if (sec > 6.0) 5 else 3)) {
        val probe = calibrate(spark)
        if (probe > 1.5 * CalibRef) {
          retryCalib = Some(probe)
          System.err.println(f"[bench-degraded] ${q.name} ${sec}%.1fs: calib " +
            f"$probe%.3fs > 1.5x$CalibRef%.3fs — retries skipped, normalized total carries it")
        } else {
          Thread.sleep(1500)
          val s = once()
          if (s < sec) System.err.println(
            f"[bench-retry] ${q.name} attempt ${readings.size} ${sec}%.1fs, steady ${s}%.1fs")
          readings += s
        }
      }
      if (sec > 3) System.err.println(f"[bench-slow] ${q.name} ${sec}%.1fs")
      val sorted = readings.sorted
      val median = sorted((sorted.size - 1) / 2)
      QueryTiming(q.name, sec, qShuffleMb, readings.size, median, error, retryCalib)
    }

  def main(args: Array[String]): Unit = {
    // config layering (GraftConfig, reference R15): CLI > env > props file;
    // the driver's env contract (SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS) is
    // unchanged — those are the env keys the layer reads
    val cfg = GraftConfig.load(args,
      defaults = GraftConfig.Default.copy(parallelism = 32))
    val sfDir = cfg.sfDir
    val spark = TunedSession("graft-bench", cfg)

    // warm the session (codegen paths, parquet footer cache, scheduler) so
    // the alphabetically-first query doesn't absorb one-time costs. NB: a
    // full-inventory warm-up pass at sf0.001 was tried and made things
    // WORSE (doubles codegen/JIT churn -> more compile-queue stalls).
    spark.range(1000).selectExpr("md5(cast(id as string)) m")
      .write.format("noop").mode("overwrite").save()
    // Eager-load the collation machinery: CollationAwareUTF8String's static
    // initializer runs ICU's toTitleCase, which loads ICU case/break data
    // through the (layered, slow) application classloader. Left lazy, that
    // 30-100s <clinit> fires mid-benchmark inside whichever query first
    // touches a collation-aware path and blocks every string-op thread on
    // the class-init lock (profiled: the dominant "random stall").
    Class.forName("org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
    // Pre-compile the heaviest generated classes (the 16-min / 48-sum
    // dedup aggregates and similarity joins) by running those queries once
    // at the smallest SF: generated source is identical across SFs, so the
    // janino cache hits and the JIT has compiled the classes before the
    // timed pass — otherwise these queries intermittently run interpreted
    // (C2 can't finish the giant classes before the query does).
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      val heavy = Set("q_dedup_exact", "q_dedup_minhash", "q_dedup_ngram",
        "q_dedup_simhash", "q_embed_neardup", "q_sim_topk", "q_sim_lsh",
        "q_text_fingerprint", "q_text_stats", "q_string_date_fns",
        // round-5 additions with large generated aggregate classes: left
        // cold, C2 can't finish compiling them before the timed run and
        // the query intermittently executes interpreted (measured 2.2s
        // compiled vs 33.8s interpreted for q_corr_stats)
        "q_corr_stats", "q_agg_cube", "q_dedup_cluster", "q_dedup_keep",
        "q_percentiles", "q_sample_stratified",
        // round-7 additions that showed first-attempt compile churn in the
        // measured bench logs (q_decontaminate runs alphabetically BEFORE
        // the dedup warm set, so it was paying the cold shingle pipeline)
        "q_decontaminate", "q_triangles", "q_pagerank", "q_ivfpq_ann",
        "q_pq_ann", "q_repetition",
        // round-8 additions whose first run carries codegen/plan-analysis
        // cost worth absorbing at the warm SF (delta-rule join tree, phash
        // decode pipeline, the rank-check join of the sketch agg)
        "q_incr_join", "q_image_neardup", "q_agg_approx", "q_bpe_train",
        // round-9: the cross-modal join re-runs both the simhash and phash
        // pipelines (two large generated aggregate classes), and CDC
        // chunking carries a wide HOF projection worth one warm pass
        "q_crossmodal_dedup", "q_crossmodal_cluster", "q_span_dedup",
        // round-9b: the semantic-dedup Lloyd fit + within-cell pair join
        // compile large generated classes worth absorbing at the warm SF
        "q_semantic_dedup",
        // round-9c: encode replays the 8-round trainer (q_bpe_train's
        // generated classes) plus its own fold-of-replaces projection
        "q_bpe_encode",
        // round-12: annpq replays BOTH model fits (IVF + PQ) plus the ADC
        // scoring join; incr-dedup compiles the banding pipeline twice
        // (index build + increment probe)
        "q_annpq_recall", "q_incr_dedup")
      SparkEntry.defs.filter(q => heavy(q.name)).foreach { q =>
        try q.fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(_) => () } // fatal (OOM etc.) must escape
      }
      spark.catalog.clearCache() // drop warm-SF persisted stages
    }
    // per-table isolation (round-10 failure class; BenchSpec-pinned)
    warmTables(spark, sfDir)

    // host-speed calibration: a fixed CPU-bound probe (no IO, no real
    // shuffle) timed before and after the inventory. The sandbox VM has
    // multi-hour windows where EVERYTHING runs 1.3-1.8x slower (identical
    // plans, identical shuffle bytes — profiled via watchdog stacks in
    // rounds 9-12); the probe turns "was that run slow or was the host?"
    // into arithmetic: totals divided by calib are comparable across
    // windows, raw totals are not.
    def calibrate(): Double = Bench.calibrate(spark)
    Bench.calibProbe(spark) // JIT-warm the probe's generated class once,
    // untimed — otherwise pre includes C2 compilation and is incomparable
    // to post (measured 0.147 s pre vs 0.046 s post on the same window)

    // per-query shuffle accounting ("measure, don't guess"): the delta
    // around each query is its real shuffle volume
    val shuffleCount = addShuffleCounter(spark)
    // watchdog: if a query stalls >10s, dump thread stacks once (debug aid
    // for the sporadic zero-GC stalls; reads the object-level current/
    // started fields that timeInventory maintains)
    val watchdog = new Thread(() => {
      var dumped = ""
      while (true) {
        Thread.sleep(5000)
        val name = current
        if (name.nonEmpty && (System.nanoTime() - started) / 1e9 > 10) {
          dumped = name
          System.err.println(s"[watchdog] $name stalled >10s; stacks:")
          Thread.getAllStackTraces.forEach { (t, st) =>
            if (st.nonEmpty && !t.getName.contains("watchdog")) {
              val top = st.take(6).mkString(" <- ")
              if (!top.contains("Unsafe.park") && !top.contains("Object.wait"))
                System.err.println(s"[watchdog]   ${t.getName} (${t.getState}): $top")
            }
          }
        }
      }
    })
    watchdog.setDaemon(true)
    watchdog.setName("graft-watchdog")
    watchdog.start()

    // GRAFT_BENCH_ONLY=q_a,q_b: focused local timing; unset = full inventory
    val only = sys.env.get("GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // GRAFT_BENCH_DEGRADE=start:end[:threads] — the deliberate-degrade
    // drill: busy-spin burner threads compete with Spark for every core
    // while queries [start, end) run, simulating the mid-run host stalls
    // the per-query normalization exists to correct. The hook now fires
    // per QUERY (round 16), so start/end may land anywhere inside a probe
    // gap — the boundary case the interpolated window assignment closes.
    // Validation harness only; never set by the driver.
    val degrade = sys.env.get("GRAFT_BENCH_DEGRADE").map { s =>
      val p = s.split(":"); (p(0).toInt, p(1).toInt,
        if (p.length > 2) p(2).toInt else 32)
    }
    val burnStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    var burners: Seq[Thread] = Nil
    def queryHook(firstIdx: Int): Unit = degrade.foreach { case (s, e, n) =>
      if (firstIdx >= s && firstIdx < e && burners.isEmpty) {
        burnStop.set(false)
        burners = (1 to n).map { i =>
          val t = new Thread(() => {
            var x = 1L
            while (!burnStop.get()) { x = x * 6364136223846793005L + 1442695040888963407L }
            if (x == 42L) println(x) // defeat dead-code elimination
          })
          t.setDaemon(true); t.setName(s"graft-burner-$i"); t.start(); t
        }
        System.err.println(s"[bench-degrade] $n burner threads ON at query $firstIdx")
      } else if (firstIdx >= e && burners.nonEmpty) {
        burnStop.set(true); burners = Nil
        System.err.println(s"[bench-degrade] burners OFF at query $firstIdx")
      }
    }
    val calibPre = calibrate()
    val benchDefs =
      SparkEntry.defs.sortBy(_.name).filter(q => only.forall(_.contains(q.name)))
    val run = timeInventoryCalibrated(spark, sfDir, benchDefs,
      shuffleCounter = shuffleCount, queryHook = queryHook)
    burnStop.set(true) // belt-and-braces: never let a burner outlive the run
    // tail re-measure vs the PREVIOUS run's committed record (read before
    // this run's artifact write clobbers it); GRAFT_BENCH_NO_TAIL disables
    // for drills that must preserve the raw stalled readings
    val results =
      if (sys.env.contains("GRAFT_BENCH_NO_TAIL")) run.timings
      else tailRemeasure(spark, sfDir, run.timings, benchDefs,
        sys.env.get("GRAFT_BENCH_REF_JSON").map(loadRef(_))
          .getOrElse(loadRefMedians(wantSf = Some(sfDir))))
    val calibPost = calibrate()
    // Output contract (round 9): diagnostics lines FIRST, then a FINAL
    // stdout line containing ONLY the total — no queries map. The driver
    // tail-captures the last ~2000 chars of stdout; round 7 lost the total
    // to a single giant line truncated mid-line, and round 8 lost it again
    // because `"value"` sat at the HEAD of a line that also inlined all 114
    // per-query times (the head fell outside the tail window). The total
    // line must stay short AND last. Numeric fields are formatted with
    // Locale.ROOT — the `f` interpolator uses the default locale, and a
    // comma-decimal locale would emit unparseable JSON.
    val sh = results.map(r => s""""${r.name}":${num(r.shuffleMb, 2)}""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"shuffle_mb","unit":"MB","queries":$sh,"sf":"$sfDir"}""")
    val att = results.map(r =>
      s""""${r.name}":{"attempts":${r.attempts},"median":${num(r.median, 4)}}""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"attempts","queries":$att,"sf":"$sfDir"}""")
    val qs = results.map(r => s""""${r.name}":${num(r.sec, 4)}""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"per_query","unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    results.filter(_.error.nonEmpty).foreach(r =>
      System.err.println(s"[bench-error] ${r.name}: ${r.error.get}"))
    val total = results.map(_.sec).sum
    // Window-corrected total, PER QUERY (round 15): each query divided by
    // its NEAREST interleaved probe's window factor, then summed. The old
    // run-bracketing formula (total / (calib_post / CalibRef)) cannot see a
    // mid-run stall — the r14 driver artifact doubled on identical plans
    // because a stall block hit the middle of the run while both bracketing
    // probes read mild (BASELINE.md "Calibration normalization"). Kept as
    // `total_norm_bracket` for cross-round continuity.
    val totalNorm = results.map(_.normSec).sum
    val totalNormBracket =
      if (calibPost > 0) total / (calibPost / CalibRef) else total
    // The driver tail-captures stdout and truncates long runs (round 11 lost
    // 52 of 140 per-query timings that way), so ALSO persist the full
    // per-query map as a small file that gets committed with the round: the
    // auditable record for cross-round regression tracking. Skipped for
    // GRAFT_BENCH_ONLY focused runs — a partial map must never clobber the
    // full-inventory one.
    if (only.isEmpty) {
      val path = sys.env.getOrElse("GRAFT_BENCH_JSON", "bench_per_query.json")
      val body = results.map { r =>
        val err = r.error.map(e =>
          s""", "error": "${e.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(200)}"""")
          .getOrElse("")
        val rc = r.retryCalib.map(c => s""", "retry_calib": ${num(c, 4)}""").getOrElse("")
        val pt = r.preTailSec.map(s => s""", "pre_tail_sec": ${num(s, 4)}""").getOrElse("")
        s"""  "${r.name}": {"sec": ${num(r.sec, 4)}, "norm_sec": ${num(r.normSec, 4)}, "norm_factor": ${num(r.normFactor, 3)}, "win_calib": ${num(r.winCalib, 4)}, "median": ${num(r.median, 4)}, "shuffle_mb": ${num(r.shuffleMb, 2)}, "attempts": ${r.attempts}$rc$pt$err}"""
      }.mkString(",\n")
      val probesJson = run.probes.map { case (p, s) => s"[$p, ${num(s, 4)}]" }
        .mkString("[", ", ", "]")
      // the ≥1 clamp makes normalization one-sided by design; publish the
      // factor distribution so a reader sees how much of total_norm_sec
      // came from large corrections (ADVICE r15)
      val fs = results.map(_.normFactor).sorted
      def fPct(p: Double): Double =
        if (fs.isEmpty) 1.0 else fs(math.min(fs.size - 1, (p * fs.size).toInt))
      val factorsJson = s"""{"min": ${num(fs.headOption.getOrElse(1.0), 3)}, """ +
        s""""p50": ${num(fPct(0.5), 3)}, "p90": ${num(fPct(0.9), 3)}, """ +
        s""""max": ${num(fs.lastOption.getOrElse(1.0), 3)}, """ +
        s""""gt_1_5_count": ${fs.count(_ > 1.5)}, """ +
        s""""correction_sec": ${num(total - totalNorm, 4)}}"""
      val doc = s"""{
  "sf": "$sfDir",
  "degrade_drill": ${degrade.nonEmpty},
  "total_sec": ${num(total, 4)},
  "n_queries": ${results.size},
  "calib_pre_sec": ${num(calibPre, 4)},
  "calib_post_sec": ${num(calibPost, 4)},
  "calib_ref_sec": ${num(CalibRef, 4)},
  "calib_probes": $probesJson,
  "total_norm_sec": ${num(totalNorm, 4)},
  "total_norm_bracket_sec": ${num(totalNormBracket, 4)},
  "norm_factors": $factorsJson,
  "queries": {
$body
  }
}
"""
      // Latest-run pointer AND an immutable run-stamped copy: a driver run
      // in a degraded window must never clobber the only readable record of
      // a hot-window run (r14 lost exactly that — the committed artifact
      // survived only as the HEAD version). bench_runs/ keeps every run.
      val stamp = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
        .format(new java.util.Date())
      val stamped = java.nio.file.Paths.get("bench_runs", s"per_query_$stamp.json")
      for (p <- Seq(java.nio.file.Paths.get(path), stamped)) {
        try {
          if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p,
            doc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          System.err.println(s"[bench] per-query map written to $p")
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] could not write $p: ${e.getMessage}")
        }
      }
    }
    val probesLine = run.probes.map { case (p, s) => s"[$p,${num(s, 4)}]" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"calib_probes","probes":$probesLine,"unit":"sec"}""")
    println(s"""{"metric":"calib","pre_sec":${num(calibPre, 4)},"post_sec":${num(calibPost, 4)},"unit":"sec"}""")
    println(s"""{"metric":"total","value":${num(total, 4)},"total_norm":${num(totalNorm, 4)},"total_norm_bracket":${num(totalNormBracket, 4)},"calib_post":${num(calibPost, 4)},"unit":"sec","sf":"$sfDir"}""")
    spark.stop()
  }
}
