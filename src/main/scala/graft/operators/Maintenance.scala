package graft.operators

import graft.{QueryDef, Tables}
import graft.api.MaterializedView
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-maintenance operators (SURVEY.md §2.B): incremental
  * aggregate maintenance (merge stored partials with a delta instead of
  * rescanning the fact table) and slowly-changing-dimension type-2
  * history assembly.
  *
  * Reference provenance: the reference pipeline recomputes nothing — it is
  * pure pass-through streaming (DataStreamProcessingJob.java:149-173).
  * These operators supply the batch-side maintenance a production
  * deployment of the same data needs once results are stored.
  *
  * Scale rationale (100 TB): the whole point of `q_incr_agg` is that the
  * expensive side is NEVER rescanned — a day's delta is aggregated to
  * partials and merged with the stored partial state, so daily cost is
  * O(delta) not O(history). The merge is associative because the stored
  * state is partials (sum, count), not finals (avg): avg is derived only
  * at read time. Here both sides derive from the same table split on a
  * cutoff so DuckDB can verify `merge(old, delta) ≡ full recompute`
  * bit-for-bit; in production `old` is a parquet/Delta state table read
  * back as-is.
  */
object Maintenance {

  private def dsum(c: Column): Column = sum(c.cast("decimal(18,6)"))

  private val Cutoff = "1997-06-01"

  /** Partial aggregate of one lineitem slice: the stored representation.
    * Sums are DECIMAL(18,6) so merge order cannot change the result. */
  private def partials(slice: DataFrame): DataFrame =
    slice.groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("p_sum_qty"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("p_sum_rev"),
        count(lit(1)).as("p_cnt"))

  /** Incremental aggregate maintenance: partials(old) ⊎ partials(delta)
    * re-aggregated equals the full-scan aggregate (the oracle). The
    * final `avg_qty` is derived from merged sums — the reason the state
    * must store partials. */
  val qIncrAgg: QueryDef = QueryDef.sql(
    "q_incr_agg",
    s"""SELECT l_returnflag, l_linestatus,
       |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
       |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_rev,
       |       count(*) AS cnt,
       |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_qty
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val old   = partials(li.filter(col("l_shipdate") <  lit(Cutoff).cast("timestamp")))
    val delta = partials(li.filter(col("l_shipdate") >= lit(Cutoff).cast("timestamp")))
    old.unionByName(delta)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("p_sum_qty")).as("m_sum_qty"),
        sum(col("p_sum_rev")).as("m_sum_rev"),
        sum(col("p_cnt")).as("m_cnt"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        round(col("m_sum_qty").cast("double"), 2).as("sum_qty"),
        round(col("m_sum_rev").cast("double"), 2).as("sum_rev"),
        col("m_cnt").as("cnt"),
        round(col("m_sum_qty").cast("double") / col("m_cnt"), 4).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Materialized-view query rewrite end-to-end: register an aggregate
    * view over lineitem, refresh it to stored parquet, then run a
    * structurally-matching query WITH a group-key filter — the optimizer
    * ([[graft.plans.MvRewrite]]) must route it to the stored result with
    * the filter compensated on top, never rescanning lineitem. The fn
    * THROWS if the rewrite did not fire, so this oracle row gates the
    * rewritten path: DuckDB recomputes the aggregate from scratch and the
    * hash-compare proves the state-served answer identical.
    *
    * Scale rationale: this is the read path of IVM — at 100 TB the
    * rewrite turns a cluster-wide scan into a model-sized state read;
    * maintenance cost is o(delta) via [[graft.streaming.IncrementalAgg]]
    * (whose state also serves as `read()` — pinned in MaintenanceSpec). */
  val qMvRewrite: QueryDef = QueryDef.sql(
    "q_mv_rewrite",
    """SELECT l_returnflag, l_linestatus,
      |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
      |       count(*) AS cnt,
      |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_qty
      |FROM lineitem
      |WHERE l_returnflag <> 'N'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    // fresh instance per call: registration and query carry DIFFERENT
    // expression ids, so the match below is genuinely canonical-structural
    def defn: DataFrame = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(dsum(col("l_quantity")).cast("double"), 2).as("sum_qty"),
        count(lit(1)).as("cnt"),
        round(dsum(col("l_quantity")).cast("double") / count(lit(1)), 4).as("avg_qty"))
    val stateDir = s"${sys.props("java.io.tmpdir")}/graft-mv/" +
      s"${graft.api.ModelCache.sha16(d)}/lineitem_qty"
    // NO unregister first — refresh() and register() run under the rewrite
    // bypass, so a re-run of this fn in a session that already registered
    // the view recomputes from the base table and overwrites the entry;
    // the oracle row thereby gates the bypass behavior itself
    val read = MaterializedView.refresh(s, defn, stateDir)
    MaterializedView.register(s, s"mv_lineitem_qty@$d", defn, read)
    val q = defn.where(col("l_returnflag") =!= "N")
      .orderBy("l_returnflag", "l_linestatus")
    val usesState = q.queryExecution.optimizedPlan.exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains("graft-mv"))
        case _ => false
      }
      case _ => false
    }
    if (!usesState) throw new IllegalStateException(
      "q_mv_rewrite: MvRewrite did not fire — plan still scans lineitem")
    q
  }

  /** Roll-up face of the MV rewrite: the view stores RAW per-group
    * partials (decimal sums + count — exactly [[graft.streaming
    * .IncrementalAgg]]'s state shape) keyed by (returnflag, linestatus);
    * the query groups by returnflag ONLY, with a filter on the OTHER view
    * key. [[graft.plans.MvRewrite]] must derive it entirely from the
    * partials: sum → sum-of-sums, count(*) → sum(cnt), derived avg via
    * its re-mapped pieces, the filter compensated BELOW the re-aggregate
    * (sound: view groups partition the rows). The fn throws unless the
    * roll-up fired; DuckDB recomputes from the base rows.
    *
    * Scale rationale: one stored partial table serves every coarser
    * grouping — the aggregation-pushdown story at 100 TB is O(|groups|)
    * per query, not O(corpus), for the whole dimension lattice above the
    * stored keys. */
  val qMvRollup: QueryDef = QueryDef.sql(
    "q_mv_rollup",
    """SELECT l_returnflag,
      |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
      |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_rev,
      |       count(*) AS cnt,
      |       count(l_shipdate) AS cnt_ship,
      |       any_value(l_returnflag) AS rf_any,
      |       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_qty
      |FROM lineitem
      |WHERE l_linestatus = 'F'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    def partialsDef: DataFrame = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("p_sum_qty"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("p_sum_rev"),
        count(lit(1)).as("p_cnt"),
        count(col("l_shipdate")).as("p_cnt_ship"))
    val stateDir = s"${sys.props("java.io.tmpdir")}/graft-mv/" +
      s"${graft.api.ModelCache.sha16(d)}/lineitem_partials"
    // no unregister first — see qMvRewrite: refresh/register self-bypass
    val read = MaterializedView.refresh(s, partialsDef, stateDir)
    MaterializedView.register(s, s"mv_lineitem_partials@$d", partialsDef, read)
    val q = Tables.lineitem(s, d)
      .where(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(
        round(dsum(col("l_quantity")).cast("double"), 2).as("sum_qty"),
        round(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("double"), 2).as("sum_rev"),
        count(lit(1)).as("cnt"),
        // count(col) rolls up as sum of the stored non-null-count
        // partials; any_value(group key) is servable because the user
        // groups by the same key (constant per re-agg group) — both are
        // round-13 additions to the roll-up algebra, gated here: if
        // either remap refuses, the rewrite skips and the fn throws
        count(col("l_shipdate")).as("cnt_ship"),
        any_value(col("l_returnflag")).as("rf_any"),
        round(dsum(col("l_quantity")).cast("double") / count(lit(1)), 4).as("avg_qty"))
      .orderBy("l_returnflag")
    val plan = q.queryExecution.optimizedPlan
    val usesState = plan.exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains("graft-mv"))
        case _ => false
      }
      case _ => false
    }
    val scansBase = plan.exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains("lineitem.parquet"))
        case _ => false
      }
      case _ => false
    }
    if (!usesState || scansBase) throw new IllegalStateException(
      "q_mv_rollup: roll-up did not fire — plan still scans lineitem")
    q
  }

  /** HAVING-over-state + re-aggregate-over-a-served-view — the two
    * dashboard shapes above a maintained aggregate (the threshold queries
    * the reference's monitored AVG metric stands for, ZhiYanSink.java:106):
    * the INNER aggregate rolls up from the registered partials (same view
    * as [[qMvRollup]]), the HAVING filter sits above it referencing its
    * output (Filter(Aggregate) — already answered by the state, no base
    * rescan), and an OUTER aggregate re-aggregates the served rows
    * (nested roll-up: the outer node itself is correctly NOT rewritten —
    * its base is the inner aggregate, not the corpus — while the rewrite
    * still fires beneath it). The fn throws unless the plan reads state
    * and never touches lineitem; DuckDB recomputes everything from base
    * rows. Re-sums above the view go through DECIMAL so the 1-row output
    * is independent of state-row vs source-row accumulation order.
    *
    * Scale rationale: a threshold dashboard over a 100 TB fact table is
    * Filter ∘ Aggregate — if the rewrite only served bare aggregates, the
    * HAVING form would silently fall back to a cluster-wide scan. */
  val qMvHaving: QueryDef = QueryDef.sql(
    "q_mv_having",
    """SELECT count(*) AS n_groups,
      |       round(CAST(sum(CAST(sum_qty AS DECIMAL(18,6))) AS DOUBLE), 2) AS total_qty,
      |       CAST(sum(cnt) AS BIGINT) AS total_cnt
      |FROM (
      |  SELECT l_returnflag,
      |         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_qty,
      |         count(*) AS cnt
      |  FROM lineitem
      |  WHERE l_linestatus = 'F'
      |  GROUP BY l_returnflag
      |  HAVING round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 2) > 253970
      |)""".stripMargin) { (s, d) =>
    def partialsDef: DataFrame = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("p_sum_qty"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("p_sum_rev"),
        count(lit(1)).as("p_cnt"),
        count(col("l_shipdate")).as("p_cnt_ship"))
    val stateDir = s"${sys.props("java.io.tmpdir")}/graft-mv/" +
      s"${graft.api.ModelCache.sha16(d)}/lineitem_partials"
    val read = MaterializedView.refresh(s, partialsDef, stateDir)
    MaterializedView.register(s, s"mv_lineitem_partials@$d", partialsDef, read)
    val inner = Tables.lineitem(s, d)
      .where(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(
        round(dsum(col("l_quantity")).cast("double"), 2).as("sum_qty"),
        count(lit(1)).as("cnt"))
      .where(col("sum_qty") > 253970) // HAVING: filter over the agg output
    val q = inner.agg(
      count(lit(1)).as("n_groups"),
      round(sum(col("sum_qty").cast("decimal(18,6)")).cast("double"), 2).as("total_qty"),
      sum(col("cnt")).cast("long").as("total_cnt"))
    val plan = q.queryExecution.optimizedPlan
    val usesState = plan.exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains("graft-mv"))
        case _ => false
      }
      case _ => false
    }
    val scansBase = plan.exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains("lineitem.parquet"))
        case _ => false
      }
      case _ => false
    }
    if (!usesState || scansBase) throw new IllegalStateException(
      "q_mv_having: HAVING/nested shape not served from state — plan still scans lineitem")
    q
  }

  /** Does `plan` read MV state, and does it scan any of `baseFiles`? */
  private def mvPlanScan(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      baseFiles: Seq[String]): (Boolean, Boolean) = {
    def reads(needle: String): Boolean = plan.exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.exists(_.toString.contains(needle))
        case _ => false
      }
      case _ => false
    }
    (reads("graft-mv"), baseFiles.exists(reads))
  }

  /** MV rewrite over a JOIN definition — the most common production MV
    * shape: an aggregate over a star join (fact ⋈ dim, grouped by dim
    * attributes). The view stores per-(c_mktsegment, o_orderstatus)
    * partials of orders ⋈ customer; the query groups by c_mktsegment ONLY
    * with a filter on the other stored key, so [[graft.plans.MvRewrite]]
    * must (a) match the JOIN base across the optimizer's asymmetric column
    * pruning and predicate pushdown (the user query needs fewer columns
    * and pushes its filter into a join child the definition never filtered
    * — `MvRewrite.normalizeBase` strips pruning Projects and hoists
    * inner-join filters before comparing), and (b) re-derive every output
    * from the stored partials with the filter compensated below the
    * re-aggregate. The fn throws unless the plan reads `graft-mv` state
    * and scans NEITHER base table; DuckDB recomputes the join + aggregate
    * from base rows.
    *
    * WRITE path (round 16): the state is maintained INCREMENTALLY by
    * [[graft.api.IncrementalJoinAgg]] — both bases arrive as three
    * aligned delta waves and each step advances the stored partials by
    * ΔJ = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB folded through the partial merge, never a
    * full refresh from base (r15 served this query from a full-recompute
    * `refresh`). The accumulated history COMPACTS mid-sequence (r17:
    * `compactHistory` + `vacuumHistory` between waves 1 and 2 — O(batches)
    * delta dirs fold into one key-clustered segment per side;
    * `bench_joinmv_r19.json` records the tail steps at 6.5× with 24
    * batches). The rewrite then
    * serves the incrementally-maintained state; the oracle is unchanged
    * because after the last wave the state equals the definition over the
    * full bases (prefix-parity pinned per step in MaintenanceSpec).
    *
    * Registration discipline: only deterministic INNER equi-joins register
    * (outer/non-equi definitions refuse at the source — MaintenanceSpec).
    *
    * Scale rationale: at 100 TB the fact⋈dim re-scan is the single most
    * expensive recurring query in a warehouse; one stored partial table
    * answers the whole grouping lattice above (mktsegment × orderstatus)
    * without touching fact OR dim again — and a day's ingest advances it
    * at O(Δ ⋈ history), not O(history ⋈ history). */
  val qMvJoin: QueryDef = QueryDef.sql(
    "q_mv_join",
    """SELECT c_mktsegment,
      |       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_price,
      |       count(*) AS cnt
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    // fresh instances per call — the match must be canonical-structural,
    // never expression-id-based (see qMvRewrite)
    def joinDef: DataFrame = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment", "o_orderstatus")
      .agg(dsum(col("o_totalprice")).as("p_sum_price"), count(lit(1)).as("p_cnt"))
    // content-fingerprinted root: a regenerated dataset moves the state
    // rather than reading a stale ledger (the bucketed-table pattern)
    val stateDir = s"${sys.props("java.io.tmpdir")}/graft-mv/" +
      graft.api.ModelCache.fingerprint(d, "orders", "customer")
        .replaceAll("[^0-9a-zA-Z]", "_") + "/orders_customer_inc"
    // incremental bootstrap: both bases as 3 aligned delta waves (key-mod
    // split — deterministic, so a re-run replays the identical batches and
    // the ledger skips them). Each wave pays ΔA⋈B_acc ∪ A_acc⋈ΔB ∪ ΔA⋈ΔB
    // + a group-sized partials merge; the full bases never join.
    val waves = 3
    for (i <- 0 until waves) {
      val dA = Tables.orders(s, d)
        .where(pmod(col("o_orderkey"), lit(waves)) === i)
        .select("o_custkey", "o_orderstatus", "o_totalprice")
      val dB = Tables.customer(s, d)
        .where(pmod(col("c_custkey"), lit(waves)) === i)
        .select("c_custkey", "c_mktsegment")
      graft.api.IncrementalJoinAgg.applyBatch(dA, dB, i.toLong, stateDir)(
        join = (a, b) => a.join(b, a("o_custkey") === b("c_custkey")),
        partialsOf = j => j.groupBy("c_mktsegment", "o_orderstatus")
          .agg(dsum(col("o_totalprice")).as("p_sum_price"),
            count(lit(1)).as("p_cnt")),
        // cast the widening sum back so the state schema (and the
        // MvRewrite positional type gate vs the definition) stays stable
        merge = (prev, p) => prev.unionByName(p)
          .groupBy("c_mktsegment", "o_orderstatus")
          .agg(sum(col("p_sum_price")).cast("decimal(28,6)").as("p_sum_price"),
            sum(col("p_cnt")).as("p_cnt")))
      // history lifecycle MID-SEQUENCE (the q_incr_dedup precedent): the
      // delta directories compact into one key-clustered segment per side
      // and orphans vacuum — wave 2 then joins against the COMPACTED
      // history, and the oracle hash-compare proves not one partial moved
      if (i == 1) {
        graft.api.IncrementalJoinAgg.compactHistory(s, stateDir,
          keyA = Seq("o_custkey"), keyB = Seq("c_custkey"))
        graft.api.IncrementalJoinAgg.vacuumHistory(stateDir)
      }
    }
    val read = () => graft.api.IncrementalJoinAgg.state(s, stateDir)
      .getOrElse(throw new IllegalStateException(
        s"q_mv_join: no maintained state at $stateDir"))
    if (!MaterializedView.register(s, s"mv_orders_customer@$d", joinDef, read))
      throw new IllegalStateException(
        "q_mv_join: INNER equi-join definition must register")
    val q = Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .where(col("o_orderstatus") === "F")
      .groupBy("c_mktsegment")
      .agg(
        round(dsum(col("o_totalprice")).cast("double"), 2).as("sum_price"),
        count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment")
    val (usesState, scansBase) = mvPlanScan(q.queryExecution.optimizedPlan,
      Seq("orders.parquet", "customer.parquet"))
    if (!usesState || scansBase) throw new IllegalStateException(
      "q_mv_join: join roll-up not served from state — plan still scans a base table")
    q
  }

  /** SCD type-2 build: per-customer order-status history as effective-dated
    * intervals. Change detection via `lag` (keep a row only when the status
    * differs from the previous one), interval close via `lead` over the
    * surviving change rows, `valid_to IS NULL` marks the current record.
    *
    * Deterministic ordering: (o_orderdate, o_orderkey) — same-day orders
    * tie-break on the unique key in both engines. One shuffle on
    * o_custkey serves both window passes (same partition key), and at
    * 100 TB the dimension is partitioned by customer so history assembly
    * never shuffles the fact table at all.
    */
  val qScd2: QueryDef = QueryDef.sql(
    "q_scd2",
    """WITH chg AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |         lag(o_orderstatus) OVER w AS prev_status
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |),
      |hist AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
      |  FROM chg
      |  WHERE prev_status IS NULL OR prev_status <> o_orderstatus
      |)
      |SELECT o_custkey AS custkey, o_orderkey AS change_key,
      |       o_orderstatus AS status,
      |       o_orderdate AS valid_from,
      |       lead(o_orderdate) OVER w AS valid_to,
      |       (lead(o_orderdate) OVER w IS NULL) AS is_current
      |FROM hist
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY custkey, valid_from, change_key""".stripMargin) { (s, d) =>
    scd2History(Tables.orders(s, d))
      .orderBy("custkey", "valid_from", "change_key")
  }

  /** The SCD2 history frame shared by [[qScd2]] and the PIT-enrichment
    * query ([[Sequence]] uses it too): (custkey, change_key, status,
    * valid_from, valid_to, is_current). */
  private[operators] def scd2History(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders
      .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(w))
      .filter(col("prev_status").isNull || col("prev_status") =!= col("o_orderstatus"))
      .select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as("change_key"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from"),
        lead(col("o_orderdate"), 1).over(w).as("valid_to"),
        lead(col("o_orderdate"), 1).over(w).isNull.as("is_current"))
  }

  /** MERGE / CDC-apply: a change feed (update / delete / insert ops) applied
    * to a snapshot with one full-outer join — the standard relational
    * lowering of `MERGE INTO` (what Delta's merge compiles to):
    *   matched + U → new values; matched + D → drop; unmatched source → insert.
    *
    * The change feed derives deterministically from orders itself so the
    * oracle can rebuild it: even keys get a 5 % price update (excluding
    * delete keys — MERGE requires each target row to match at most ONE
    * change row, and a key that is both updated and deleted would be the
    * illegal multi-match case), keys ≡ 5 (mod 9) a delete, and keys ≡ 7
    * (mod 1000) reappear as inserts at key + 20 000 000. At 100 TB both sides hash-partition on the merge
    * key — one co-partitioned shuffle join, no broadcast needed, and the
    * output is write-ready partitioned by the same key.
    */
  val qMergeUpsert: QueryDef = QueryDef.sql(
    "q_merge_upsert",
    """WITH chg AS (
      |  SELECT o_orderkey AS k, 'U' AS op,
      |         CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * CAST(1.05 AS DECIMAL(3,2)), 2) AS DOUBLE) AS new_price,
      |         o_orderstatus AS new_status
      |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 9 <> 5
      |  UNION ALL
      |  SELECT o_orderkey, 'D', NULL, NULL FROM orders WHERE o_orderkey % 9 = 5
      |  UNION ALL
      |  SELECT o_orderkey + 20000000, 'I',
      |         CAST(round(CAST(o_totalprice AS DECIMAL(18,6)), 2) AS DOUBLE), o_orderstatus
      |  FROM orders WHERE o_orderkey % 1000 = 7
      |),
      |m AS (
      |  SELECT coalesce(c.k, t.o_orderkey) AS k,
      |         c.op,
      |         t.o_orderkey IS NOT NULL AS matched,
      |         CASE WHEN c.op = 'U' THEN c.new_price
      |              WHEN c.op = 'I' AND t.o_orderkey IS NULL THEN c.new_price
      |              ELSE CAST(round(CAST(t.o_totalprice AS DECIMAL(18,6)), 2) AS DOUBLE) END AS price,
      |         CASE WHEN c.op = 'U' THEN c.new_status
      |              WHEN c.op = 'I' AND t.o_orderkey IS NULL THEN c.new_status
      |              ELSE t.o_orderstatus END AS status
      |  FROM orders t FULL OUTER JOIN chg c ON t.o_orderkey = c.k
      |)
      |SELECT k AS orderkey, status, price
      |FROM m
      |WHERE op IS DISTINCT FROM 'D' AND (op IS NOT NULL OR matched)
      |ORDER BY orderkey""".stripMargin) { (s, d) =>
    val t = Tables.orders(s, d)
    val chg = t.filter(col("o_orderkey") % 2 === 0 && col("o_orderkey") % 9 =!= 5)
      .select(col("o_orderkey").as("k"), lit("U").as("op"),
        round(col("o_totalprice").cast("decimal(18,6)") * lit(1.05).cast("decimal(3,2)"), 2)
          .cast("double").as("new_price"),
        col("o_orderstatus").as("new_status"))
      .unionByName(t.filter(col("o_orderkey") % 9 === 5)
        .select(col("o_orderkey").as("k"), lit("D").as("op"),
          lit(null).cast("double").as("new_price"),
          lit(null).cast("string").as("new_status")))
      .unionByName(t.filter(col("o_orderkey") % 1000 === 7)
        .select((col("o_orderkey") + 20000000L).as("k"), lit("I").as("op"),
          round(col("o_totalprice").cast("decimal(18,6)"), 2).cast("double").as("new_price"),
          col("o_orderstatus").as("new_status")))
    t.join(chg, col("o_orderkey") === col("k"), "full_outer")
      .select(
        coalesce(col("k"), col("o_orderkey")).as("orderkey"),
        col("op"),
        col("o_orderkey").isNotNull.as("matched"),
        when(col("op") === "U", col("new_price"))
          .when(col("op") === "I" && col("o_orderkey").isNull, col("new_price"))
          .otherwise(round(col("o_totalprice").cast("decimal(18,6)"), 2).cast("double"))
          .as("price"),
        when(col("op") === "U", col("new_status"))
          .when(col("op") === "I" && col("o_orderkey").isNull, col("new_status"))
          .otherwise(col("o_orderstatus")).as("status"))
      .filter(!(col("op") <=> "D") && (col("op").isNotNull || col("matched")))
      .select(col("orderkey"), col("status"), col("price"))
      .orderBy("orderkey")
  }

  /** Point-in-time-correct enrichment (the feature-store join): each
    * lineitem ship event picks up the customer's status AS OF ship time
    * from the SCD2 history — `valid_from <= ship < valid_to`, open
    * interval for current records. Joining the CURRENT dimension instead
    * would leak future state into historical rows (the training-data
    * leakage PIT joins exist to prevent). Every ship event matches
    * exactly one interval (a customer's history starts at their first
    * order, and shipdate ≥ orderdate ≥ first orderdate).
    *
    * Shape: equi-join on custkey with a residual range predicate — the
    * history side is per-customer-tiny (broadcast at dim scale,
    * co-partitioned on custkey at 100 TB), so no interval-bucketing is
    * needed the way fact-fact range joins need it (`q_range_join`).
    */
  val qPitEnrich: QueryDef = QueryDef.sql(
    "q_pit_enrich",
    """WITH chg AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |         lag(o_orderstatus) OVER w AS prev_status
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |),
      |hist AS (
      |  SELECT o_custkey AS custkey, o_orderstatus AS status,
      |         o_orderdate AS valid_from,
      |         lead(o_orderdate) OVER (PARTITION BY o_custkey
      |           ORDER BY o_orderdate, o_orderkey) AS valid_to
      |  FROM (SELECT * FROM chg WHERE prev_status IS NULL OR prev_status <> o_orderstatus)
      |),
      |ship AS (
      |  SELECT o.o_custkey AS custkey, l.l_shipdate, l.l_returnflag,
      |         l.l_extendedprice, l.l_discount
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |)
      |SELECT h.status AS status_at_ship, s.l_returnflag,
      |       count(*) AS n_lines,
      |       round(CAST(sum(CAST(s.l_extendedprice * (1 - s.l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue
      |FROM ship s
      |JOIN hist h ON h.custkey = s.custkey
      |  AND s.l_shipdate >= h.valid_from
      |  AND (h.valid_to IS NULL OR s.l_shipdate < h.valid_to)
      |GROUP BY h.status, s.l_returnflag
      |ORDER BY status_at_ship, l_returnflag""".stripMargin) { (s, d) =>
    val hist = scd2History(Tables.orders(s, d))
      .select("custkey", "status", "valid_from", "valid_to")
    val ship = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_shipdate"),
        col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
    ship.join(hist,
        ship("custkey") === hist("custkey") &&
          col("l_shipdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
      .groupBy(col("status").as("status_at_ship"), col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double"), 2).as("revenue"))
      .orderBy("status_at_ship", "l_returnflag")
  }

  /** Incremental JOIN-view maintenance ([[graft.api.IncrementalJoin]]):
    * orders and lineitem arrive as three aligned delta batches (orders
    * split by orderkey mod 3, lineitem by LINENUMBER mod 3, so an order's
    * lines land in different steps than the order row and every delta-rule
    * term — ΔA⋈B, A⋈ΔB, ΔA⋈ΔB — carries real rows). The maintained view
    * must equal the full join, which is exactly what the oracle computes.
    * Cost shape: each step joins only deltas against accumulated history;
    * the view and the full inputs are never re-joined. */
  val qIncrJoin: QueryDef = QueryDef.sql(
    "q_incr_join",
    """SELECT o.o_orderstatus, l.l_returnflag,
      |       count(*) AS cnt,
      |       round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE), 2) AS rev
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderstatus, l.l_returnflag
      |ORDER BY o.o_orderstatus, l.l_returnflag""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("okey"), col("l_linenumber"),
        col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
    val view = graft.api.IncrementalJoin.maintain(
      (0 to 2).map(i => o.filter(col("okey") % 3 === i)),
      (0 to 2).map(i => li.filter(col("l_linenumber") % 3 === i)),
      keys = Seq("okey"))
    view.groupBy("o_orderstatus", "l_returnflag")
      .agg(
        count(lit(1)).as("cnt"),
        round(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("double"), 2).as("rev"))
      .orderBy("o_orderstatus", "l_returnflag")
  }

  /** Data-quality audit (the dbt-test / Deequ shape): constraint
    * violations counted for uniqueness of the orders key, referential
    * integrity of lineitem→orders and orders→customer (anti-join
    * orphans), null/blank rates, and a domain check on discounts.
    * Emitting counts (not booleans) makes the audit monitorable over
    * time. Scan economics at 100 TB: ALL scalar checks on a table share
    * ONE scan — orders' pk-dup and null-rate ride a single two-level
    * aggregate (per-key counts + per-key null partials through one
    * map-side-combined exchange), lineitem's domain check is one
    * conditional aggregate — and only the two referential anti-joins add
    * scans of their own (pinned: 6 scans total in `PlanSpec`). The
    * synthetic tables are clean, so nonzero rows here would THEMSELVES
    * be the regression signal — the oracle recomputes each count. */
  val qDqChecks: QueryDef = QueryDef.sql(
    "q_dq_checks",
    """SELECT 'orders_pk_dup' AS check_name,
      |       CAST((SELECT count(*) FROM (
      |          SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)) AS BIGINT) AS violations
      |UNION ALL
      |SELECT 'lineitem_orphan_fk',
      |       CAST((SELECT count(*) FROM lineitem l
      |             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
      |UNION ALL
      |SELECT 'orders_orphan_cust',
      |       CAST((SELECT count(*) FROM orders o
      |             WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
      |UNION ALL
      |SELECT 'orders_null_status',
      |       CAST((SELECT count(*) FROM orders WHERE o_orderstatus IS NULL OR o_orderstatus = '') AS BIGINT)
      |UNION ALL
      |SELECT 'discount_out_of_range',
      |       CAST((SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 0.5) AS BIGINT)
      |ORDER BY check_name""".stripMargin) { (s, d) =>
    import s.implicits._
    val o = Tables.orders(s, d)
    val li = Tables.lineitem(s, d)
    val c = Tables.customer(s, d)
    def one(name: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("violations"))
        .select(lit(name).as("check_name"), col("violations"))
    // fused orders scalars: one scan, per-key (count, null-count) partials,
    // then both check totals off the grouped frame — sum-of-group-sums
    // equals the row-level null count whether or not keys duplicate
    val ordersScalars = o
      .select(col("o_orderkey"),
        (col("o_orderstatus").isNull || col("o_orderstatus") === "")
          .cast("long").as("is_null"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n"), sum("is_null").as("nulls"))
      .agg(
        sum(when(col("n") > 1, 1L).otherwise(0L)).as("orders_pk_dup"),
        sum("nulls").as("orders_null_status"))
      .selectExpr("""stack(2,
        'orders_pk_dup', orders_pk_dup,
        'orders_null_status', orders_null_status) AS (check_name, violations)""")
    ordersScalars
      .unionByName(one("lineitem_orphan_fk",
        li.join(o.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_anti")))
      .unionByName(one("orders_orphan_cust",
        o.join(c.select("c_custkey"),
          col("o_custkey") === col("c_custkey"), "left_anti")))
      .unionByName(one("discount_out_of_range",
        li.filter(col("l_discount") < 0 || col("l_discount") > 0.5)))
      .orderBy("check_name")
  }

  val all: Seq[QueryDef] = Seq(
    qIncrAgg, qScd2, qMergeUpsert, qPitEnrich, qIncrJoin, qDqChecks,
    qMvRewrite, qMvRollup, qMvHaving, qMvJoin)
}
