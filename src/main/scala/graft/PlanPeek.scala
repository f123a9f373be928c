package graft

/** Plan-audit helper: print declared queries' prepared physical plans
  * (AQE off, same census conditions as PlanBudgetSpec) without timing them.
  *
  *   sbt "runMain graft.PlanPeek q_sim_ivf [sfDir]"
  *   sbt "runMain graft.PlanPeek q_corr_stats,q_profile [sfDir] [outDir]"
  *   sbt "runMain graft.PlanPeek ALL /root/testdata/sf0.001 plans/next"
  *
  * The first argument is one query name, a comma-separated list, or `ALL`
  * (the whole inventory, one session). With `outDir` each plan goes to
  * `<outDir>/<query>.txt` instead of stdout; a query that fails to plan is
  * reported and skipped. The per-query counterpart of `GRAFT_TPCH_EXPLAIN`
  * in TpchScaleBench — use it to review a plan_budgets.txt diff line by
  * line. */
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q_sim_ivf") match {
      case "ALL" => SparkEntry.defs.map(_.name)
      case list => list.split(",").toSeq
    }
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(2).map(java.nio.file.Paths.get(_))
    outDir.foreach(java.nio.file.Files.createDirectories(_))
    val spark = TunedSession("plan-peek")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    names.foreach { n =>
      try {
        val plan = SparkEntry.queries(n)(spark, sfDir).queryExecution.executedPlan.toString
        outDir match {
          case Some(d) =>
            java.nio.file.Files.writeString(d.resolve(s"$n.txt"), plan)
            System.err.println(s"[plan-peek] $n -> $n.txt")
          case None => println(plan)
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plan-peek] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
