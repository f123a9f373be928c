package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}

import graft.plans.MvRewrite

/** Registry pairing an aggregate view DEFINITION (the query whose result
  * the view always equals) with a READ function returning the maintained
  * result — kept current by [[graft.streaming.IncrementalAgg]], a
  * [[refresh]] call, or any external maintainer. [[MvRewrite]] consults
  * this registry to route structurally-matching queries to the state.
  *
  * The registry is session-scoped (weak keys — a GC'd session drops its
  * entries) because the rewrite rule itself is session-scoped state: the
  * same JVM may host sessions with and without the rule.
  */
object MaterializedView extends org.apache.spark.internal.Logging {

  /** `canonicalAgg`: the definition's topmost Aggregate node, fully
    * optimized, with the filters between aggregate and source STRIPPED,
    * then canonicalized — the comparison key MvRewrite uses for exact
    * matches (filter sets are compared separately, which is what lets a
    * filtered definition — "last 90 days" partials — match at all).
    * `defAgg` is the unstripped node with its original attributes, which
    * the matching paths need to relate definition columns, filters, and
    * state columns. `read()` must return the CURRENT view content with
    * the definition's output schema (names/types, positional). */
  final case class Mv(name: String, canonicalAgg: LogicalPlan,
      defAgg: Aggregate, read: () => DataFrame) {
    /** Definition-side decomposition (base, filter conjuncts, alias
      * substitution), computed once per registration — the roll-up path
      * consults it on every optimized query otherwise. */
    lazy val defDecomp: Option[(LogicalPlan,
        Seq[org.apache.spark.sql.catalyst.expressions.Expression],
        org.apache.spark.sql.catalyst.expressions.Expression =>
          org.apache.spark.sql.catalyst.expressions.Expression)] =
      MvRewrite.decompose(defAgg.child)
  }

  private val registry =
    new java.util.WeakHashMap[SparkSession, Map[String, Mv]]()

  // The rewrite must be inert while the registry's OWN machinery runs a
  // definition: register() optimizes the definition to build its match
  // key, and refresh() executes it to recompute state — if either passed
  // through MvRewrite, a definition matching an existing registration
  // would be served FROM the very state it is meant to (re)build: refresh
  // would copy the stale version forward and register would store a
  // canonical key over the state scan that can never match a user query.
  // Thread-local because Catalyst optimizes on the calling thread.
  private val bypassing = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }
  private[graft] def isBypassing: Boolean = bypassing.get()

  /** Run `body` with [[graft.plans.MvRewrite]] inert on this thread —
    * queries planned inside read base tables even when a registered view
    * could serve them. */
  def bypass[A](body: => A): A = {
    val prev = bypassing.get()
    bypassing.set(true)
    try body finally bypassing.set(prev)
  }

  def registered(spark: SparkSession): Seq[Mv] = registry.synchronized {
    Option(registry.get(spark)).map(_.values.toSeq).getOrElse(Seq.empty)
  }

  /** Register `definition` under `name` (re-registration overwrites) and
    * install [[MvRewrite]] into the session's experimental optimizer
    * batch if absent. The definition is optimized ONCE here, by the same
    * optimizer that will process user queries — which is what makes
    * canonical-exact matching sound (both sides see identical rule
    * effects: column pruning, constant folding, expression normalization).
    *
    * Returns false (and registers nothing) if the optimized definition
    * contains no Aggregate — only aggregate views are rewritable. */
  def register(spark: SparkSession, name: String, definition: DataFrame,
      read: () => DataFrame): Boolean = {
    val optimized = bypass(definition.queryExecution.optimizedPlan)
    // a NONDETERMINISTIC definition (rand() sampling in keys, filters, or
    // aggregates) has no well-defined "the definition's result" — serving
    // its frozen state for a query that would re-draw the randomness is
    // wrong on BOTH the exact and roll-up paths (two same-seed rand()
    // trees are canonically equal, so structural matching alone cannot
    // tell the frozen sample from a fresh one). Refuse at the source,
    // like every production MV system does.
    optimized.foreach { p =>
      p.expressions.find(e => !e.deterministic).foreach { nd =>
        // a silent false is indistinguishable from the no-Aggregate
        // refusal below — name the view and the offending expression so a
        // previously-accepted sampled view that stops registering is
        // diagnosable from the log
        logWarning(s"mv $name: registration refused — nondeterministic " +
          s"expression ${nd.sql} in the definition")
        return false
      }
    }
    // JOIN discipline: a definition may join, but only with deterministic
    // INNER equi-joins — the star-schema MV shape (fact ⋈ dim grouped by
    // dim attributes). Anything else refuses at the source: an outer join
    // breaks the roll-up's partition property under the base-normalizing
    // filter hoist (hoisting a filter above an outer join changes rows),
    // and a non-equi/cross join has no O(|state|) maintenance story and a
    // pushdown-fragile canonical shape. Same loud-refusal style as the
    // nondeterminism gate.
    optimized.foreach {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        import org.apache.spark.sql.catalyst.expressions.EqualTo
        val equiInner = j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
          j.condition.exists { c =>
            c.deterministic && MvRewrite.conjuncts(c).forall {
              case EqualTo(a: org.apache.spark.sql.catalyst.expressions.AttributeReference,
                           b: org.apache.spark.sql.catalyst.expressions.AttributeReference) =>
                (j.left.outputSet.contains(a) && j.right.outputSet.contains(b)) ||
                (j.left.outputSet.contains(b) && j.right.outputSet.contains(a))
              case _ => false
            }
          }
        if (!equiInner) {
          logWarning(s"mv $name: registration refused — only deterministic " +
            s"INNER equi-joins are servable; got ${j.joinType} with " +
            s"condition ${j.condition.map(_.sql)}")
          return false
        }
      case _ => ()
    }
    optimized.collectFirst { case a: Aggregate => a } match {
      case None => false
      case Some(agg) =>
        registry.synchronized {
          val cur = Option(registry.get(spark)).getOrElse(Map.empty)
          registry.put(spark,
            cur + (name -> Mv(name, MvRewrite.stripCanonical(agg), agg, read)))
        }
        ensureRule(spark)
        true
    }
  }

  def unregister(spark: SparkSession, name: String): Unit =
    registry.synchronized {
      Option(registry.get(spark)).foreach(cur => registry.put(spark, cur - name))
    }

  /** Drop every view registered in `spark` — the DROP ALL face. Tests and
    * tools that need a known-empty registry (the session is shared; any
    * previously-run workload may have left views behind) start here. */
  def clear(spark: SparkSession): Unit =
    registry.synchronized { registry.remove(spark); () }

  private def ensureRule(spark: SparkSession): Unit =
    spark.experimental.synchronized {
      val cur = spark.experimental.extraOptimizations
      if (!cur.exists(_.isInstanceOf[MvRewrite]))
        spark.experimental.extraOptimizations = cur :+ MvRewrite(spark)
    }

  /** Full recompute of `definition` into `dir`, returning a reader of the
    * stored result — the "CREATE MATERIALIZED VIEW ... REFRESH" face for
    * when no incremental maintainer applies. Parquet round-trips the
    * definition's exact schema, so the read-back passes MvRewrite's
    * positional name/type gate.
    *
    * Each refresh writes a directory no earlier refresh used and publishes
    * it as the root's head ([[SegmentedState.publish]]; a changed schema
    * under the same `dir` is refused as drift), so a re-refresh while the
    * view is registered never overwrites what the rewritten definition
    * plan is reading. [[SegmentedState.retire]] keeps the current and the
    * previous result. The returned reader resolves the manifest per call,
    * so it always serves the latest refresh. The recompute runs under
    * [[bypass]]: refreshing a view that is currently REGISTERED must
    * re-aggregate the base table, not get itself rewritten to a scan of
    * the stale version it is replacing. */
  def refresh(spark: SparkSession, definition: DataFrame, dir: String)
      : () => DataFrame = {
    def head = StateManifest.current(dir).flatMap(_.segments.headOption)
    val base = StateManifest.current(dir)
    val next = s"v${base.map(_.version + 1).getOrElse(0L)}-${java.util.UUID.randomUUID()}"
    SegmentedState.writing(dir) {
      bypass { definition.write.parquet(s"$dir/$next") }
      SegmentedState.publish(dir, base, None,
        StateManifest.schemaFingerprint(definition.schema))(_ => Seq(next))
    }
    SegmentedState.retire(dir)
    () => spark.read.parquet(s"$dir/${head.getOrElse(next)}")
  }
}
