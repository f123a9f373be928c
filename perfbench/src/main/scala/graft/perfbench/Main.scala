package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import graft.GraftConfig
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark process for one workload run. `perfbench/run.py` builds this
  * package, prepares the run directory and, for `batch_mix`, the seeded
  * tables, then starts:
  *
  * {{{
  * graft.perfbench.Main --workload <etl_http|window_state|batch_mix> --seed <n>
  *   --seconds <s> --trace <0|1> --run-dir <dir> --trace-dir <dir>
  *   [--data-dir <dir> --out-dir <dir>] [--post-delay-ms <ms>] [--win-mix <r,o,l>]
  * }}}
  *
  * The workload's inputs are generated first, untimed. It is then set up
  * [[Reps]] times on a fresh session each time and `setup_s` is the
  * median: the first set-up also loads classes and compiles code, so the
  * median is the warm figure, and the cold one (JVM start to the end of
  * the first set-up, less input generation) is printed as `setup_cold_s`.
  * An untimed warm-up follows on the last session. With `--trace 0` it is
  * measured once, untraced, and the last output line carries the
  * end-to-end metrics. With `--trace 1` it is measured untraced, traced
  * and untraced again, each on its own prepared input; the last line
  * carries the per-layer metrics of the traced measurement, with each
  * layer's self time and the tracing overhead. */
object Main {
  val Reps = 3

  /** Layers spans are attributed to. State-store work runs inside tasks and
    * is reported from the store's own timers (`state.*`). */
  val Layers: Seq[String] = Seq("sources", "streaming", "streaming.sink", "plans", "operators", "api")

  /** Per-layer metrics every traced run reports (0 where a layer does not
    * run in the workload), with units. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "sources.backlog_msgs_max" -> "count", "sources.backlog_msgs_end" -> "count",
    "sources.latest_offset_ms" -> "ms", "sources.get_batch_ms" -> "ms",
    "sources.commit_offsets_ms" -> "ms", "sources.redelivered" -> "count", "gen.late_ms_p99" -> "ms",
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count",
    "streaming.trigger_ms_p50" -> "ms", "streaming.trigger_ms_p99" -> "ms",
    "streaming.planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.idle_ms" -> "ms",
    "sink.posts" -> "count", "sink.records" -> "count", "sink.bytes" -> "bytes",
    "sink.records_per_post" -> "count", "sink.post_ms_p50" -> "ms", "sink.post_ms_p99" -> "ms",
    "sink.post_failures" -> "count", "sink.task_retries" -> "count", "sink.dup_records" -> "count",
    "state.rows_total" -> "count", "state.mem_bytes" -> "bytes", "state.rows_updated" -> "count",
    "state.commit_ms" -> "ms", "state.update_ms" -> "ms", "state.removal_ms" -> "ms",
    "state.rows_dropped_watermark" -> "count", "state.stores" -> "count",
    "state.checkpoint_bytes" -> "bytes",
    "plans.build_ms" -> "ms", "plans.analysis_ms" -> "ms", "plans.optimize_ms" -> "ms",
    "plans.physical_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.sched_delay_ms" -> "ms", "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.cpu_busy_frac" -> "ratio", "jvm.heap_peak_mb" -> "MB",
    "api.write_query_s" -> "s", "api.read_query_s" -> "s") ++
    Layers.map(l => s"self.$l.ms" -> "ms") ++
    Seq("trace.residual_ms" -> "ms", "trace.wall_ms" -> "ms", "trace.spans" -> "count",
      "trace.overhead_pct" -> "%")

  def main(argv: Array[String]): Unit = {
    val jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = a.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = req("workload"); val seed = req("seed").toLong
    val seconds = req("seconds").toInt; val traced = req("trace") == "1"
    val runDir = req("run-dir"); val traceDir = req("trace-dir")
    val cores = Runtime.getRuntime.availableProcessors

    val exec = new ExecListener
    val plans = new PlanListener
    val recv = if (workload == "etl_http") Some(new Receivers(cores, a.getOrElse("post-delay-ms", "0").toLong)) else None
    val w: Workload = workload match {
      case "etl_http" => new EtlHttp(seed, seconds, cores, runDir, recv.get)
      case "window_state" =>
        new WindowState(seed, cores, runDir, a.get("win-mix").map(WinMix.parse).getOrElse(WinMix.Default))
      case "batch_mix" => new BatchMix(seed, seconds, runDir, req("data-dir"), req("out-dir"))
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val measures = if (traced) 3 else 1
    var spark: SparkSession = null
    try {
      val g0 = System.nanoTime()
      w.prepare(measures)
      println(f"[perfbench] inputs generated in ${(System.nanoTime() - g0) / 1e9}%.3f s (not set-up)")
      val setupS = (1 to Reps).map { rep =>
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = GraftConfig.Default.copy(parallelism = cores).sessionBuilder("perfbench")
          .config("spark.local.dir", s"$runDir/rep$rep/spark-local")
          .config("spark.sql.warehouse.dir", s"$runDir/rep$rep/warehouse")
          .config("spark.sql.streaming.numRecentProgressUpdates", "1000000")
          .getOrCreate()
        w.setup(spark, rep, measures)
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[perfbench] set-up $rep: $s%.3f s")
        s
      }
      val setup = Metric("setup_s", Stats.median(setupS), "s", setupS.size)
      val setupCold = Metric("setup_cold_s", jvmS + setupS.head, "s", 1,
        f"JVM start to main $jvmS%.3f s, then the first set-up")
      val w0 = System.nanoTime()
      w.warmUp()
      println(f"[perfbench] warm-up: ${(System.nanoTime() - w0) / 1e9}%.3f s")

      val untraced = w.measure(0)
      val setupFailed = w match {
        case b: BatchMix =>
          b.setupFailures.foreach(f => println(s"[perfbench] query failed outside the timed passes: $f"))
          val pw = new PrintWriter(new File(req("out-dir"), "oracle_sql.json"))
          try pw.write(b.oracleJson) finally pw.close()
          b.setupFailures.size.toLong
        case _ => 0L
      }
      // traced: untraced, traced, untraced again, so JIT warm-up left over
      // from the first measurement does not pass for tracing overhead
      val outcomes = if (!traced) Seq(untraced) else {
        spark.sparkContext.addSparkListener(exec)
        spark.listenerManager.register(plans)
        Heap.resetPeak()
        Trace.reset()
        Trace.on = true
        val t = try {
          val o = w.measure(1)
          // the listeners' last spans of the traced measurement are still
          // on the listener bus
          exec.drain(spark.sparkContext)
          o
        } finally Trace.on = false
        spark.sparkContext.removeSparkListener(exec)
        spark.listenerManager.unregister(plans)
        Seq(untraced, t, w.measure(2))
      }
      val outcome = if (traced) outcomes(1) else untraced
      (setupCold +: outcome.detail).foreach(m => println(Metric.fmt(m)))
      (setup +: outcome.headline).foreach(m => println(Metric.fmt(m.copy(name = "headline." + m.name))))
      outcomes.flatMap(_.notes).foreach(n => println(s"[perfbench] note: $n"))
      val failed = outcomes.map(_.failed).sum + setupFailed
      val attempted = outcomes.map(_.attempted).sum
      val metrics =
        if (!traced) setup +: outcome.headline
        else layerMetrics(outcome, Seq(outcomes(0), outcomes(2)), exec, plans, cores, traceDir, workload, seed)
      if (traced) metrics.foreach(m => println(Metric.fmt(m)))
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
        s""""metrics": ${Metric.json(metrics)}}""")
    } finally {
      if (spark != null) spark.stop()
      recv.foreach(_.stop())
    }
  }

  private def layerMetrics(t: Outcome, u: Seq[Outcome], exec: ExecListener, plans: PlanListener, cores: Int,
      traceDir: String, workload: String, seed: Long): Seq[Metric] = {
    val wallMs = (t.toUs - t.fromUs) / 1000.0
    val raw = Trace.all
    val linked = Trace.linkByContainment(raw,
      s => s.name != "trigger" && s.layer != "api" && s.name != "publish",
      s => !s.name.startsWith("task ") && !s.name.startsWith("stage "))
    val (byLayer, residualUs) = Trace.attribute(linked, t.fromUs, t.toUs)
    new File(traceDir).mkdirs()
    val spanFile = new File(traceDir, s"$workload-seed$seed.spans.jsonl")
    val pw = new PrintWriter(spanFile)
    try linked.foreach(s => pw.println(
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}"""))
    finally pw.close()
    println(s"[perfbench] ${linked.size} spans written to $spanFile")
    println(f"[perfbench] ${"layer"}%-16s ${"self ms"}%12s ${"share"}%8s")
    Layers.foreach { l =>
      val ms = byLayer.getOrElse(l, 0.0) / 1000
      println(f"[perfbench] $l%-16s $ms%12.1f ${100 * ms / wallMs}%7.1f%%")
    }
    println(f"[perfbench] ${"residual"}%-16s ${residualUs / 1000}%12.1f ${100 * residualUs / 1000 / wallMs}%7.1f%%" +
      "  (no span open: idle, or work outside any wrapped entry point)")
    val untracedTp = u.map(_.headline.head.value).sum / u.size
    val tracedTp = t.headline.head.value
    val cpuMs = exec.cpuNs.sum / 1e6
    val have = mutable.LinkedHashMap.empty[String, Metric]
    (t.layer ++ Seq(
      Metric("sink.task_retries", exec.failedTasks.sum.toDouble, "count", exec.tasks.sum),
      Metric("plans.analysis_ms", plans.analysisMs.sum.toDouble, "ms", 1),
      Metric("plans.optimize_ms", plans.optimizeMs.sum.toDouble, "ms", 1),
      Metric("plans.physical_ms", plans.physicalMs.sum.toDouble, "ms", 1),
      Metric("exec.jobs", exec.jobs.sum.toDouble, "count", 1),
      Metric("exec.stages", exec.stages.sum.toDouble, "count", 1),
      Metric("exec.tasks", exec.tasks.sum.toDouble, "count", 1),
      Metric("exec.task_run_ms", exec.runMs.sum.toDouble, "ms", exec.tasks.sum),
      Metric("exec.task_cpu_ms", cpuMs, "ms", exec.tasks.sum),
      Metric("exec.gc_ms", exec.gcMs.sum.toDouble, "ms", exec.tasks.sum),
      Metric("exec.sched_delay_ms", exec.schedMs.sum.toDouble, "ms", exec.tasks.sum),
      Metric("exec.shuffle_write_bytes", exec.shufW.sum.toDouble, "bytes", exec.tasks.sum),
      Metric("exec.shuffle_read_bytes", exec.shufR.sum.toDouble, "bytes", exec.tasks.sum),
      Metric("exec.spill_bytes", exec.spill.sum.toDouble, "bytes", exec.tasks.sum),
      Metric("exec.cpu_busy_frac", cpuMs / (wallMs * cores), "ratio", 1),
      Metric("jvm.heap_peak_mb", Heap.peakMb, "MB", 1),
      Metric("trace.residual_ms", residualUs / 1000, "ms", 1),
      Metric("trace.wall_ms", wallMs, "ms", 1),
      Metric("trace.spans", linked.size.toDouble, "count", linked.size),
      Metric("trace.overhead_pct", 100 * (untracedTp / tracedTp - 1), "%", 3,
        f"traced $tracedTp%.2f vs untraced ${u.map(_.headline.head.value).mkString(", ")} ${t.headline.head.unit}")) ++
      Layers.map(l => Metric(s"self.$l.ms", byLayer.getOrElse(l, 0.0) / 1000, "ms", 1)))
      .foreach(m => have(m.name) = m)
    LayerMetrics.map { case (n, unit) => have.getOrElse(n, Metric(n, 0.0, unit, 0)).copy(unit = unit) }
  }
}
