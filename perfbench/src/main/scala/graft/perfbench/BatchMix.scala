package graft.perfbench

import graft.{QueryDef, SparkEntry}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** `batch_mix`: one client in a closed loop over a fixed subset of
  * `SparkEntry.defs`, in a seeded order per pass. Read-only queries run
  * beside the maintained-state writers (`q_mv_*`) that write and refresh
  * stored state under `java.io.tmpdir`. A set-up builds that state on fresh
  * directories. Before timing, one untimed pass writes every result as
  * parquet for `run.py`'s DuckDB oracle check. Timed passes write
  * through the `noop` sink. */
final class BatchMix(seed: Long, seconds: Int, runDir: String, dataDir: String, outDir: String)
    extends Workload {
  import BatchMix._

  private var spark: SparkSession = _
  private val defs: Seq[QueryDef] = {
    val byName = SparkEntry.defs.map(q => q.name -> q).toMap
    Subset.map(n => byName.getOrElse(n, sys.error(s"query $n is not in SparkEntry.defs")))
  }
  val setupFailures = mutable.Buffer.empty[String]

  def setup(s: SparkSession, rep: Int, measures: Int): Unit = {
    spark = s
    // fresh homes for the indexes, layouts and maintained views the
    // queries persist under java.io.tmpdir: building them is set-up
    val tmp = new java.io.File(s"$runDir/rep$rep/tmp")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getPath)
    setupFailures.clear()
    defs.filter(q => isWriter(q.name)).foreach { q =>
      try q.fn(s, dataDir).write.format("noop").mode("overwrite").save()
      catch { case e: Exception => setupFailures += s"${q.name}: ${e.getMessage.take(300)}" }
    }
  }

  /** Writes every result as parquet for the oracle check, then runs
    * [[WarmPasses]] passes as the timed ones do: the first pass after the
    * parquet one still ran up to a half slower than later ones for some
    * queries. */
  def warmUp(): Unit = {
    defs.foreach { q =>
      try q.fn(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/${q.name}")
      catch { case e: Exception => setupFailures += s"${q.name}: ${e.getMessage.take(300)}" }
    }
    (1 to WarmPasses).foreach { p =>
      new scala.util.Random(seed * 1000003L - p).shuffle(defs).foreach { q =>
        try q.fn(spark, dataDir).write.format("noop").mode("overwrite").save()
        catch { case e: Exception => setupFailures += s"${q.name}: ${e.getMessage.take(300)}" }
      }
    }
  }

  def measure(k: Int): Outcome = {
    val sc = spark.sparkContext
    val lat = mutable.ArrayBuffer.empty[Double]
    val byQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val writeS, readS = mutable.ArrayBuffer.empty[Double]
    val passS = mutable.ArrayBuffer.empty[Double]
    val notes = mutable.Buffer.empty[String]
    var attempted, failed, buildUs = 0L
    val fromUs = Trace.nowUs()
    val deadline = System.nanoTime() + seconds * 1000000000L
    // Queries run until the deadline, not whole passes: a pass takes about
    // 5 s, so at ten seconds finishing the last one measured two passes in
    // some runs and three in others, and the runs with three read faster.
    var pass = 0
    def more = pass < MinPasses || System.nanoTime() < deadline
    while (more) {
      val order = new scala.util.Random(seed * 1000003L + k * 1009L + pass).shuffle(defs)
      val p0 = System.nanoTime()
      var w, r = 0.0
      var ran = 0
      order.iterator.takeWhile(_ => more).foreach { q =>
        ran += 1
        attempted += 1
        val trace = Trace.newId()
        val t0 = System.nanoTime()
        try Trace.jobSpan(sc, "api", q.name, trace) {
          val b0 = System.nanoTime()
          val df = Trace.span("plans", "QueryDef.fn")(q.fn(spark, dataDir))
          buildUs += (System.nanoTime() - b0) / 1000
          Trace.jobSpan(sc, "operators", "noop write")(df.write.format("noop").mode("overwrite").save())
        } catch {
          case e: Exception => failed += 1; notes += s"${q.name}: ${e.getMessage.take(200)}"
        }
        val dt = (System.nanoTime() - t0) / 1e9
        lat += dt * 1000
        byQuery.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += dt * 1000
        if (isWriter(q.name)) w += dt else r += dt
      }
      if (ran == order.size) {
        passS += (System.nanoTime() - p0) / 1e9
        writeS += w; readS += r
      }
      pass += 1
    }
    val toUs = Trace.nowUs()
    val sorted = lat.toArray.sorted
    val (tq, tv) = Stats.tail(sorted).getOrElse {
      notes += s"query_tail_s: ${sorted.length} queries leave fewer than ten beyond the median, " +
        "so the median stands in"
      0.5 -> Stats.quantile(sorted, 0.5)
    }
    // A pass runs each query once, so ten seconds give two or three
    // samples of each: too few for a per-query percentile, and a p50 over
    // the pooled samples hops between neighbouring queries from run to
    // run. The headline latencies are taken over each query's mean: their
    // geometric mean (the way TPC-H's power metric summarises a query
    // mix, so each query weighs the same whatever its size) and the
    // slowest query's.
    val perQuery = byQuery.map { case (n, xs) => n -> xs.sum / xs.size }
    val (slowest, slowestMs) = perQuery.maxBy(_._2)
    val p50 = Stats.quantile(sorted, 0.5)
    val p90 = Stats.quantile(sorted, 0.9)
    val totalS = (toUs - fromUs) / 1e6
    val detail = Seq(
      Metric("pass_s", Stats.median(passS), "s", passS.size, s"${defs.size} queries a pass"),
      Metric("query_p50_s", p50 / 1000, "s", sorted.length),
      Metric("query_p90_s", p90 / 1000, "s", sorted.length,
        s"${Stats.beyond(sorted.length, 0.9)} samples beyond it"),
      Metric("query_tail_s", tv / 1000, "s", sorted.length, s"${Stats.label(tq)}, the highest the sample supports"),
      Metric("failed_frac", failed.toDouble / attempted, "ratio", attempted)) ++
      perQuery.map { case (n, m) => Metric(s"$n.mean_s", m / 1000, "s", byQuery(n).size) }
    val layer = Seq(
      Metric("plans.build_ms", buildUs / 1000.0, "ms", attempted),
      Metric("api.write_query_s", Stats.median(writeS), "s", writeS.size, "per pass"),
      Metric("api.read_query_s", Stats.median(readS), "s", readS.size, "per pass"))
    val headline = Seq(
      Metric("throughput_per_s", attempted / totalS, "1/s", attempted),
      Metric("latency_ms", Stats.geoMean(perQuery.values), "ms", attempted),
      Metric("latency_tail_ms", slowestMs, "ms", byQuery(slowest).size))
    Outcome(headline, detail, layer, attempted, failed, fromUs, toUs, notes.toSeq)
  }

  /** Oracle SQL of the subset, for `run.py`'s DuckDB check. */
  def oracleJson: String = defs.map { q =>
    val sql = SparkEntry.oracleSql.getOrElse(q.name, sys.error(s"${q.name} has no oracle"))
    s""""${q.name}": ${jsonString(sql)}"""
  }.mkString("{", ",\n", "}")

  private def jsonString(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
}

object BatchMix {
  /** The reference job's read path, TPC-H shapes and two maintained-view
    * writers, sized so one pass takes about 7 s on a 4-core host. The
    * README says what is left out and why. */
  val Subset: Seq[String] = Seq("q_parse_route_delay", "q_tpch_q1", "q_tpch_q6", "q_mv_rewrite",
    "q_mv_rollup")

  def isWriter(name: String): Boolean = name.startsWith("q_incr_") || name.startsWith("q_mv_")

  val MinPasses = 1
  val WarmPasses = 1
}
