package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TPC-H decade scale-up proof (`runMain graft.TpchScaleBench`): derive an
  * sf1-equivalent dataset (10× the bench SF) from the driver's sf0.1
  * parquet by key-offset replication, then time the 22 TPC-H queries at
  * BOTH scale factors in the same process/window and diff the physical
  * plan shapes against the committed `plan_budgets.txt`.
  *
  * Why: every scale claim in SCALE.md is extrapolated from sf0.1; one
  * real decade of growth validates the no-superlinear-surprise story —
  * per-query time should grow ≲ linearly (ratio ≈ size ratio), and the
  * plan shape (scans/exchanges/join strategies) should be the SAME plan,
  * not a strategy flip that only shows up at scale. The within-run sf0.1
  * leg makes the ratio immune to host-window speed (both legs see the
  * same window; the calibration probe records it anyway).
  *
  * Replication semantics: region/nation stay fixed (TPC-H dims don't
  * scale); customer/supplier/part/orders/lineitem are replicated K times
  * with every join key offset by `copy × 100M`, so each copy joins only
  * within itself — join fan-out, group cardinality, and filter
  * selectivity all scale linearly, like real TPC-H growth. Key columns
  * keep their original physical types (the offset fits in INT range).
  * Output is derived data under /tmp — never written into the read-only
  * testdata tree.
  */
object TpchScaleBench {

  private val Factor = 10
  private val Off = 100000000L // > any sf0.1 key; Factor*Off fits in INT

  private val keyCols = Set(
    "c_custkey", "s_suppkey", "p_partkey",
    "o_orderkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey")

  private val scaledTables =
    Seq("customer", "supplier", "part", "orders", "lineitem")
  private val fixedTables = Seq("region", "nation")

  def scaleUp(spark: SparkSession, src: String, dst: String): Unit = {
    val marker = java.nio.file.Paths.get(dst, "_GRAFT_SCALED")
    val stamp = s"src=$src factor=$Factor " +
      s"fp=${graft.api.ModelCache.fingerprint(src, scaledTables ++ fixedTables: _*)}"
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == stamp) return
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dst))
    fixedTables.foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    val reps = spark.range(Factor).select(col("id").as("__rep"))
    scaledTables.foreach { t =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
      df.crossJoin(broadcast(reps))
        .select(df.columns.toSeq.map {
          case c if keyCols(c) =>
            (col(c).cast("long") + col("__rep") * Off).cast(types(c)).as(c)
          case c => col(c)
        }: _*)
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    java.nio.file.Files.writeString(marker, stamp)
  }

  // single node census shared with PlanBudgetSpec (prepared plan, AQE off)
  private def budgets(): Map[String, Map[String, Int]] =
    graft.plans.PlanCensus.parseBudgets(
      java.nio.file.Paths.get("plan_budgets.txt"))

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val spark = TunedSession("graft-tpch-sf1")

    scaleUp(spark, src, dst)

    // plan-audit mode: GRAFT_TPCH_EXPLAIN=q_a,q_b prints the FORMATTED
    // physical plan of the named queries at the SCALED dir (AQE off so
    // exchanges/strategies are the static plan the census diffs), then
    // exits — the cheap way to re-read one decade plan without a timing
    // run (r13 verdict item 3).
    sys.env.get("GRAFT_TPCH_EXPLAIN").foreach { names =>
      val want = names.split(",").toSet
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        SparkEntry.defs.filter(q => want(q.name)).foreach { q =>
          println(s"==== ${q.name} @ $dst ====")
          println(q.fn(spark, dst).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.stop()
      return
    }

    val tpch = SparkEntry.defs.filter(_.name.startsWith("q_tpch_"))
      .sortBy(_.name)
    val tables = fixedTables ++ scaledTables
    Bench.warmTables(spark, src, tables)
    Bench.warmTables(spark, dst, tables)

    val shuffleCount = Bench.addShuffleCounter(spark)

    Bench.calibProbe(spark) // JIT-warm, untimed
    val calibPre = Bench.calibrate(spark)
    // interleaving note: the base leg runs first, the scaled leg second —
    // each query's generated classes are hot for the scaled leg, so the
    // ratio prices DATA growth, not compilation
    val base0 = Bench.timeInventory(spark, src, tpch, shuffleCounter = shuffleCount)
    val scaled0 = Bench.timeInventory(spark, dst, tpch, shuffleCounter = shuffleCount)

    // Stall re-measure (round 17, the scale-bench analog of Bench's tail
    // pass): a host-stall reading in EITHER leg corrupts the ratio — the
    // r16 artifact's 1.40 total was flattered by a stalled sf0.1 base
    // (q8/q9 at 8-10 s vs ~1 s steady), and degraded windows CANCEL the
    // in-flight retries by design. Outlier legs re-run once at end of
    // run with hot classes and keep the min; a genuinely expensive plan
    // re-measures slow and stands. Bounds: base legs are all ≤ ~1.7 s
    // steady (absolute 2.5 s gate); scaled legs gate on 3× their own
    // base (the decade's shuffle-bound envelope).
    def remeasure(dir: String, ts: Seq[Bench.QueryTiming],
        flag: Bench.QueryTiming => Boolean): Seq[Bench.QueryTiming] =
      ts.map { t =>
        if (!flag(t) || t.error.nonEmpty) t
        else {
          val d = tpch.find(_.name == t.name).get
          val again = Bench.timeInventory(spark, dir, Seq(d),
            shuffleCounter = shuffleCount, retrySlow = false).head
          System.err.println(f"[tpch-remeasure] ${t.name} ${t.sec}%.2fs -> ${again.sec}%.2fs")
          if (again.sec < t.sec)
            t.copy(sec = again.sec, attempts = t.attempts + 1, preTailSec = Some(t.sec))
          else t.copy(preTailSec = Some(t.sec))
        }
      }
    val base = remeasure(src, base0,
      t => t.sec > 2.5 || (t.retryCalib.nonEmpty && t.sec > 1.5))
    val baseSec = base.map(r => r.name -> r.sec).toMap
    val scaled = remeasure(dst, scaled0,
      t => t.sec > 3 * math.max(0.05, baseSec(t.name)))

    // ------------------------------------------------------------------
    // Bucketed leg (round 15): lineitem+orders written ONCE as bucketed+
    // sorted tables on the orderkey, then the three orderkey-joining
    // queries re-run UNCHANGED through the Tables override — pricing the
    // write-once-shuffle-never trade the Q18 decade analysis predicted
    // (its three residual data-proportional exchanges are all orderkey
    // (re)partitionings). Build cost is reported separately: that IS the
    // trade — one write-time shuffle buys zero join/agg exchanges on
    // every subsequent query.
    // ------------------------------------------------------------------
    val bucketQs = Set("q_tpch_q3", "q_tpch_q5", "q_tpch_q18")
    // build (once, fingerprint-keyed) bucketed orders+lineitem for a dir
    // and return ((orders table, lineitem table), build seconds)
    def bucketLayout(dir: String): ((String, String), Double) = {
      val tag = graft.api.ModelCache.fingerprint(dir, "orders", "lineitem")
        .replaceAll("[^0-9a-zA-Z]", "_")
      val (ordT, liT) = (s"orders_bkt_$tag", s"lineitem_bkt_$tag")
      // derived layouts always land under /tmp (the source tree may be
      // read-only), keyed by the source fingerprint
      val bktRoot = s"/tmp/graft-tpch-bucketed-$tag"
      // (re)write whichever table is missing INDEPENDENTLY: a prior run
      // that died between the two writes must not leave the pair
      // half-built and every later run skipping straight to a
      // missing-table failure
      val t0 = System.nanoTime()
      if (!spark.catalog.tableExists(ordT))
        graft.api.Layout.writeBucketedAt(spark.read.parquet(s"$dir/orders.parquet"),
          ordT, s"$bktRoot/orders_$tag", "o_orderkey", buckets = 32)
      if (!spark.catalog.tableExists(liT))
        graft.api.Layout.writeBucketedAt(spark.read.parquet(s"$dir/lineitem.parquet"),
          liT, s"$bktRoot/lineitem_$tag", "l_orderkey", buckets = 32)
      ((ordT, liT), (System.nanoTime() - t0) / 1e9)
    }
    def withBuckets[T](tabs: (String, String))(body: => T): T =
      Tables.withTableOverrides(Map(
        "orders" -> (() => spark.table(tabs._1)),
        "lineitem" -> (() => spark.table(tabs._2))))(body)
    val (scaledTabs, buildSec) = bucketLayout(dst)
    // round 19 (VERDICT r18 #5): the base leg gets the SAME layout, so
    // the orderkey family's decade ratio can be read bucketed-vs-bucketed
    // — the layout a production deployment would actually run at both
    // scales — with the plain legs still measured beside it
    val (baseTabs, buildSecBase) = bucketLayout(src)
    def bucketOverrides[T](body: => T): T = withBuckets(scaledTabs)(body)
    val bqs = tpch.filter(q => bucketQs(q.name))
    val bucketedBase = withBuckets(baseTabs) {
      Bench.timeInventory(spark, src, bqs, shuffleCounter = shuffleCount)
    }
    val bucketed = withBuckets(scaledTabs) {
      Bench.timeInventory(spark, dst, bqs, shuffleCounter = shuffleCount)
    }
    // exchange-count pin, AQE off (static plan): bucketing must remove the
    // orderkey exchanges, not merely speed them up
    val prevAqeB = spark.conf.get("spark.sql.adaptive.enabled")
    val exchangePin =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        bqs.map { q =>
          def exchanges(df: DataFrame): Int = df.queryExecution.executedPlan
            .collect { case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeLike => e }.size
          val plain = exchanges(q.fn(spark, dst))
          val bkt = bucketOverrides { exchanges(q.fn(spark, dst)) }
          (q.name, plain, bkt)
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqeB)
    val calibPost = Bench.calibrate(spark)

    // plan-shape census on the SCALED data, AQE off (same census as
    // PlanBudgetSpec); diff vs the committed sf0.001 budgets — a strategy
    // flip across 3 decades of data is exactly what this surfaces
    val want = budgets()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val planDiffs =
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        tpch.flatMap { q =>
          // per-query isolation: a census failure costs its own row, never
          // the artifact (the 44 timings above are already measured)
          try {
            val got = graft.plans.PlanCensus
              .shape(q.fn(spark, dst).queryExecution.executedPlan)
            want.get(q.name).filter(_ != got).map { w =>
              q.name -> graft.plans.PlanCensus.keys
                .filter(k => w(k) != got(k))
                .map(k => s"$k:${w(k)}->${got(k)}").mkString(",")
            }
          } catch { case scala.util.control.NonFatal(e) =>
            // same JSON-unsafe-char scrub as the timing rows' error path —
            // exception messages carry quotes/newlines (parquet paths etc.)
            Some(q.name -> s"census_error:${String.valueOf(e.getMessage)
              .replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(80)}")
          }
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)

    import Bench.num
    val baseMap = base.map(r => r.name -> r).toMap
    val rows = scaled.map(r => Bench.ratioRow(baseMap(r.name), r)).mkString(",\n")
    val diffsJson = planDiffs.map { case (n, d) => s"""    "$n": "$d"""" }
      .mkString("{\n", ",\n", "\n  }")
    // DEFAULT-layout totals (round 19, VERDICT r18 #5): the orderkey
    // family reads its bucketed timing in BOTH legs — the headline decade
    // ratio now reflects the layout a 100 TB deployment would run, with
    // the plain readings preserved beside it in total_* and queries.
    def withDefault(ts: Seq[Bench.QueryTiming],
        bkt: Seq[Bench.QueryTiming]): Seq[Bench.QueryTiming] =
      ts.map(t => bkt.find(_.name == t.name).getOrElse(t))
    val defBaseTotal = withDefault(base, bucketedBase).map(_.sec).sum
    val defScaledTotal = withDefault(scaled, bucketed).map(_.sec).sum
    val doc = s"""{
  "src": "$src",
  "dst": "$dst",
  "factor": $Factor,
  "calib_pre_sec": ${num(calibPre, 4)},
  "calib_post_sec": ${num(calibPost, 4)},
  "total_sf01_sec": ${num(base.map(_.sec).sum, 4)},
  "total_sf1_sec": ${num(scaled.map(_.sec).sum, 4)},
  "total_ratio": ${num(scaled.map(_.sec).sum / math.max(base.map(_.sec).sum, 1e-9), 2)},
  "default_layout": "bucketed orderkey family (q3,q5,q18) in both legs; plain legs recorded alongside",
  "total_sf01_sec_default": ${num(defBaseTotal, 4)},
  "total_sf1_sec_default": ${num(defScaledTotal, 4)},
  "total_ratio_default": ${num(defScaledTotal / math.max(defBaseTotal, 1e-9), 2)},
  "plan_budget_diffs_vs_sf0001": ${if (planDiffs.isEmpty) "{}" else diffsJson},
  "bucketed": {
    "tables": "orders+lineitem bucketed+sorted on orderkey, 32 buckets",
    "build_sec": ${num(buildSec, 4)},
    "build_sec_base": ${num(buildSecBase, 4)},
    "queries": {
${bucketed.map { b =>
      val plain = scaled.find(_.name == b.name).get
      val plainB = base.find(_.name == b.name).get
      val bb = bucketedBase.find(_.name == b.name).get
      val pin = exchangePin.find(_._1 == b.name).get
      s"""      "${b.name}": {"plain_sf1_sec": ${num(plain.sec, 4)}, "bucketed_sf1_sec": ${num(b.sec, 4)}, "speedup": ${num(plain.sec / math.max(b.sec, 1e-9), 2)}, "plain_sf01_sec": ${num(plainB.sec, 4)}, "bucketed_sf01_sec": ${num(bb.sec, 4)}, "decade_ratio_bucketed": ${num(b.sec / math.max(bb.sec, 1e-9), 2)}, "plain_exchanges": ${pin._2}, "bucketed_exchanges": ${pin._3}, "bucketed_shuffle_mb": ${num(b.shuffleMb, 2)}}"""
    }.mkString(",\n")}
    }
  },
  "queries": {
$rows
  }
}
"""
    val out = sys.env.getOrElse("GRAFT_TPCH_SF1_JSON", "bench_tpch_sf1.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), doc)
    println(doc)
    spark.stop()
  }
}
