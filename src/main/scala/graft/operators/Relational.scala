package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Relational/analytic core — the query surface of the engine.
  *
  * Every query here is declarative DataFrame API: Catalyst handles
  * predicate pushdown, column pruning, join selection; AQE handles
  * runtime re-planning. Money math casts to DECIMAL(18,2) BEFORE
  * aggregation so sums are exact (order-independent) and match the
  * DuckDB oracle bit-for-bit after the final cast back to DOUBLE.
  *
  * Scale notes (100 TB): only FIXED-SIZE dimension tables (region,
  * nation) are explicitly broadcast; customer/supplier/part grow with
  * the fact tables, so joins on them shuffle on the join key (AQE may
  * still broadcast at small scale — that is a runtime decision, not a
  * plan-time promise). Fact-fact joins shuffle with AQE skew splitting.
  * Every query ends in a deterministic ORDER BY (the driver hashes
  * rows in order); top-N queries compile to TakeOrderedAndProject
  * (no global sort materialization).
  */
object Relational {

  /** Exact money arithmetic: double → DECIMAL(18,2). */
  private def money(c: Column): Column = c.cast(DecimalType(18, 2))
  /** Final exact-decimal aggregate → DOUBLE (bit-identical on both engines). */
  private def dbl(c: Column): Column = c.cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- q1: scan → filter → groupBy agg (TPC-H Q1 shape) ------------------
    "q1_agg" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dbl(sum(money(col("l_quantity")))).as("sum_qty"),
          dbl(sum(money(col("l_extendedprice")))).as("sum_base_price"),
          dbl(sum(money(col("l_extendedprice")) *
            (lit(1).cast(DecimalType(18, 2)) - money(col("l_discount")))))
            .as("sum_disc_price"),
          (dbl(sum(money(col("l_quantity")))) / count(col("l_quantity")))
            .as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // -- q2: projection + predicate pushdown to the parquet scan -----------
    // Predicate chosen to be selective but NON-empty on the generated data
    // (p_type ∈ {MEDIUM,STANDARD,LARGE,PROMO,SMALL,ECONOMY}; ~7% of part
    // survives) so the check verifies pushdown on real rows.
    "q2_filter_project" -> { (s, dir) =>
      Tables.load(s, dir, "part")
        .filter(col("p_size").between(10, 20) && col("p_type").contains("MEDIUM"))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
        .orderBy(col("p_partkey"))
    },

    // -- q3: fact⋈fact⋈dim, agg, top-N (TPC-H Q3 shape) --------------------
    "q3_join_agg" -> { (s, dir) =>
      val cust = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-03-15").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      // customer is fact-proportional (150k rows/SF) — NOT broadcastable at
      // the 100 TB target; shuffle join on custkey, AQE picks the strategy.
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(dbl(sum(money(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - money(col("l_discount")))))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },

    // -- q4: left-semi join (EXISTS) ---------------------------------------
    "q4_semi_join" -> { (s, dir) =>
      val late = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey")
      Tables.load(s, dir, "orders")
        .join(late, col("o_orderkey") === late("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // -- q5: 5-way star join with broadcast dims (TPC-H Q5 shape) ----------
    "q5_multi_join" -> { (s, dir) =>
      val region = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
      val nation = Tables.load(s, dir, "nation")
      val cust = Tables.load(s, dir, "customer")
      val ord = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Tables.load(s, dir, "lineitem")
      val supp = Tables.load(s, dir, "supplier")
      // customer/supplier: SF-proportional, shuffle join (AQE may still
      // broadcast when small); nation/region: fixed-size dims, explicit
      // broadcast is safe at any scale.
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dbl(sum(money(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - money(col("l_discount")))))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // -- q6: selective multi-predicate scan aggregate (TPC-H Q6 shape) -----
    "q6_selective_filter" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg(dbl(sum(money(col("l_extendedprice")) * money(col("l_discount"))))
          .as("revenue"),
          count(lit(1)).as("n_rows"))
    },

    // -- q7: window functions — rank + running sum per partition -----------
    "q7_window" -> { (s, dir) =>
      val byCust = Window.partitionBy(col("o_custkey")).orderBy(
        col("o_orderdate"), col("o_orderkey"))
      Tables.load(s, dir, "orders")
        .withColumn("order_rank", row_number().over(byCust))
        .withColumn("running_spend",
          dbl(sum(money(col("o_totalprice"))).over(
            byCust.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
        .filter(col("order_rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("order_rank"),
          col("running_spend"))
        .orderBy(col("o_custkey"), col("order_rank"))
    },

    // -- q8: distinct + exact countDistinct --------------------------------
    // r17: the mixed two-distinct aggregate lowers to Expand ×3 (every
    // fact row replicated per distinct column + a fact-sized distinct
    // hash per stream); decomposing into per-column pair-distinct
    // aggregations joined on the tiny flag dimension shuffles the same
    // bytes but never replicates the scan (1.57 → ~1.0 s at sf0.1,
    // and Expand's ×k replication is gone at any scale)
    "q8_distinct_agg" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val ords = li.select(col("l_returnflag"), col("l_orderkey"))
        .distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_orders"))
      val parts = li.select(col("l_returnflag"), col("l_partkey"))
        .distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n_parts"))
      val rows = li.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"))
      ords.join(parts, Seq("l_returnflag"))
        .join(rows, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("n_orders"), col("n_parts"),
          col("n_rows"))
        .orderBy(col("l_returnflag"))
    },

    // -- q9: global top-N → TakeOrderedAndProject (no full sort) -----------
    "q9_sort_limit" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          dbl(money(col("o_totalprice"))).as("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    },

    // -- q10: left-anti join (NOT EXISTS) ----------------------------------
    // Anti-join against a filtered right side (customers with no 'F'-status
    // order) — every customer has SOME order in the generated data, so the
    // unfiltered variant would pass vacuously on 0 rows.
    "q10_anti_join" -> { (s, dir) =>
      val finished = Tables.load(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_custkey")
      Tables.load(s, dir, "customer")
        .join(finished, col("c_custkey") === finished("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },

    // -- q11: union + dedup ------------------------------------------------
    "q11_union_all" -> { (s, dir) =>
      val fromOrders = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 300000)
        .select(col("o_custkey").as("custkey"))
      val fromCust = Tables.load(s, dir, "customer")
        .filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("custkey"))
      fromOrders.union(fromCust).distinct()
        .orderBy(col("custkey"))
    },

    // -- q12: rollup (grouping sets) ---------------------------------------
    // r17: base-cells-first (the q39_cube decomposition — COUNT and
    // the exact DECIMAL SUM decompose over partials), so the rollup
    // Expand replicates ~|status|·|priority| cells, not the fact scan
    "q12_rollup" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n0"),
          sum(money(col("o_totalprice"))).as("tot0"))
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("n0")).as("n"),
          dbl(sum(col("tot0"))).as("total"))
        // grouping keys go null on rollup rows → coalesce for stable order
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy(col("status"), col("priority"))
    },

    // -- q39: full CUBE over (flag, ship year) -----------------------------
    // Completes the GROUP BY-modifier family (q12 ROLLUP, q25 GROUPING
    // SETS): CUBE materializes the full 2^k power set of grouping
    // levels in ONE pass — Spark lowers it to a single ExpandExec (each
    // input row replicated per level map-side, partials combined before
    // the one keyed exchange), never k separate scans UNIONed. Money in
    // the DECIMAL(18,2) cast-then-sum contract; the -1 year sentinel
    // keeps the cube rows orderable alongside real years.
    // r17 optimization: aggregate to the (flag, year) BASE CELLS first
    // (~|flags|·|years| rows), then CUBE the tiny base — COUNT and the
    // exact DECIMAL SUM both decompose over partial aggregates, so the
    // result is value-identical (decimal addition is exact and
    // associative; a raw-null key row lands in its own base cell and
    // contributes to exactly the same grouping-set cells). This moves
    // the ExpandExec's ×4 row replication off the fact table (4·|rows|
    // expanded rows + a fact-sized hash table → 4·|cells|): measured
    // 2.20 → 1.02 s at sf0.1, and at any scale Expand rides dimension-
    // sized input instead of the fact scan.
    "q39_cube" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"),
          year(col("l_shipdate")).cast("long").as("ship_year"),
          col("l_extendedprice"))
        .groupBy(col("l_returnflag"), col("ship_year"))
        .agg(count(lit(1)).as("n0"),
          sum(money(col("l_extendedprice"))).as("rev0"))
        .cube(col("l_returnflag"), col("ship_year"))
        .agg(sum(col("n0")).as("n"), dbl(sum(col("rev0"))).as("revenue"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("ship_year"), lit(-1L)).as("ship_year"),
          col("n"), col("revenue"))
        .orderBy(col("returnflag"), col("ship_year"))
    },

    // -- q40: calendar date spine with zero-fill ---------------------------
    // The reporting scaffold every time series needs before charting /
    // window math: a LEFT JOIN against a complete day spine so gap
    // days exist as explicit zero rows (a window over the raw daily
    // aggregate would silently skip them). The spine derives
    // DECLARATIVELY — min/max is a 1-row scalar aggregate, sequence()
    // + explode expands it — so nothing is collected and the spine
    // broadcasts into the join; the daily aggregate is the only
    // fact-scale stage (one keyed exchange with map-side partials).
    // Cents via the floor(·100) fixed-point contract.
    "q40_date_spine" -> { (s, dir) =>
      val daily = Tables.load(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long"))
            .as("revenue_cents"))
      val spine = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("interval 1 day"))).as("day"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("revenue_cents"), lit(0L)).as("revenue_cents"))
        .orderBy(col("day"))
    },

    // -- q41: KMV distinct sketch — the REPLAYABLE scale path for q8 -------
    // q21's HLL is error-bounded but engine-opaque; the KMV sketch
    // ([[graft.functions.KmvKth]]) keeps the k smallest distinct
    // multiplicative hashes — a pure order statistic the oracle
    // replays with ORDER BY h LIMIT k, so the WHOLE estimate is
    // hash-matched, not gate-checked. Bounded k-long state per group,
    // partial-aggregated map-side: corpus rows never shuffle, only
    // sketches do. n_exact (countDistinct) rides along as the
    // validation column — at 100 TB you would drop it and keep only
    // the sketch.
    "q41_kmv_distinct" -> { (s, dir) =>
      val h = (col("user_id") % 1000003L) * lit(2654435761L) %
        lit(1000000007L)
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(call_function("kmv_kth", h, lit(64)).as("kmv"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"),
          col("kmv.n_kept").as("n_kept"),
          col("kmv.kth").as("kth_hash"),
          when(col("kmv.n_kept") < 64, col("kmv.n_kept"))
            .otherwise(expr(s"${63L * 1000000007L} div kmv.kth")).as("est"),
          col("n_exact"))
        .orderBy(col("event_type"))
    },

    // -- q13: pivot via conditional aggregation ----------------------------
    "q13_case_pivot" -> { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(when(col("event_type") === "click", 1)).as("clicks"),
          count(when(col("event_type") === "view", 1)).as("views"),
          count(when(col("event_type") === "purchase", 1)).as("purchases"),
          dbl(sum(when(col("event_type") === "purchase",
            money(col("value"))).otherwise(lit(0).cast(DecimalType(18, 2)))))
            .as("purchase_value"))
        .filter(col("purchases") > 0)
        .orderBy(col("user_id"))
    },

    // -- q14: timestamp bucketing aggregation ------------------------------
    "q14_date_agg" -> { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          dbl(sum(money(col("value")))).as("total_value"))
        .orderBy(col("day"), col("event_type"))
    },

    // -- q16: as-of join composed from window functions --------------------
    // Attribution: each purchase joined to the latest STRICTLY PRIOR
    // click of the same user. Spark has no ASOF JOIN operator; the
    // Spark-first expression is a window over (user, ts) — ONE shuffle
    // keyed by user, no join at all, versus the naive per-row range
    // join. Prior = earlier (ts, event_id), matching the oracle's
    // max-prior-click subquery exactly.
    "q16_asof_join" -> { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.load(s, dir, "events")
        .withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts")), ignoreNulls = true)
            .over(byUser))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("click_ts"))
        .orderBy(col("event_id"))
    },

    // -- q15: left outer join + null-aware agg -----------------------------
    "q15_corr_outer" -> { (s, dir) =>
      val ord = Tables.load(s, dir, "orders")
      val cust = Tables.load(s, dir, "customer")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          dbl(coalesce(sum(money(col("o_totalprice"))),
            lit(0).cast(DecimalType(18, 2)))).as("total_spend"))
        .orderBy(col("c_custkey"))
    },

    // -- q17: exact group quantiles (percentile_disc) -----------------------
    // DISCRETE percentiles (ANSI percentile_disc: smallest value whose
    // cume_dist >= q) on purpose: the result is an actual input value,
    // so cross-engine equality is exact — continuous interpolation
    // (percentile_cont) mixes values in engine-specific float order and
    // cannot be hash-compared. One shuffle keyed by o_orderpriority;
    // Spark's PercentileDisc aggregates per-group value counts, not a
    // global sort.
    "q17_quantiles" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p90"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // -- q18: sketched quantiles — the 100 TB scale path for q17 -----------
    // percentile_disc keeps exact per-group value counts (memory grows
    // with distinct values); percentile_approx is a fixed-size GK
    // sketch — constant memory per group, mergeable map-side, the only
    // viable shape at 100 TB. The sketch result itself is not
    // hash-comparable across engines, so the driver-facing contract is
    // the ACCURACY GATE: `approx_ok` asserts the sketch lands within 2%
    // of the exact discrete median computed in the same plan; the
    // oracle expects literal TRUE. A drifting sketch flips the bit and
    // fails the hash — the approximation is gated, not just trusted.
    "q18_approx_quantiles" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
            .as("p50_exact"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
            .as("p50_approx"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderpriority"), col("p50_exact"),
          (abs(col("p50_approx") - col("p50_exact")) <=
            col("p50_exact") * lit(0.02)).as("approx_ok"),
          col("n_orders"))
        .orderBy(col("o_orderpriority"))
    },

    // -- q19: salted skew join with exact-oracle parity --------------------
    // The salting mechanism (Joins.saltedJoin: fact rows salted by a
    // row-unique hash, dimension replicated across salts, shuffle keyed
    // by (key, salt)) must be SEMANTICS-PRESERVING — this query proves
    // it by hash-matching the plain unsalted join in the oracle. The
    // salt bounds the largest shuffle task when a handful of keys hold
    // most rows (the 100 TB skew case AQE cannot always split).
    "q19_salted_join" -> { (s, dir) =>
      val ord = Tables.load(s, dir, "orders")
      val dim = Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Joins.saltedJoin(ord, dim, "o_custkey", "o_orderkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          dbl(sum(money(col("o_totalprice")))).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },

    // -- q20: skew-safe exact distinct via two-phase aggregation -----------
    // event_type is the hot-key shape (a handful of values over the
    // whole fact table). A direct COUNT(DISTINCT user_id) GROUP BY
    // event_type funnels each type's full user stream through one
    // reducer; the two-phase form shuffles phase 1 on the
    // HIGH-cardinality (event_type, user_id) pair — spreading every hot
    // key across all partitions — and phase 2 reduces one pre-combined
    // row per pair. Decimal partial sums keep the money total exact
    // through both phases, so the oracle's single-phase answer
    // hash-matches.
    "q20_skew_agg" -> { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("pn"), sum(money(col("value"))).as("pv"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("pn")).as("n_events"),
          dbl(sum(col("pv"))).as("total_value"))
        .orderBy(col("event_type"))
    },

    // -- q21: sketched distinct — the scale path for q8 --------------------
    // countDistinct is exact but shuffles every distinct value; HLL++
    // (approx_count_distinct) is a fixed-size mergeable sketch — the
    // only viable COUNT(DISTINCT) at 100 TB. Same contract shape as
    // q18: the sketch isn't cross-engine-comparable, so the driver
    // gate is the exact count (hash-matched) plus an in-plan accuracy
    // bit asserting the sketch landed within 5% of it (rsd is set to
    // 2%, so 5% is ~2.5 sigma — deterministic for a fixed dataset).
    // r17: pre-distinct the (flag, part) pairs, then COUNT the pairs
    // exactly and sketch the SAME deduplicated stream — an HLL++
    // register is the max of per-value rhos, so duplicate inserts
    // cannot move it: the approx estimate is a deterministic function
    // of the distinct value set and is bit-identical either way. This
    // removes the mixed-distinct Expand (2× fact replication + a
    // fact-sized distinct hash) in favor of one map-side-combined
    // pair aggregation. Measured 1.94 → 0.93 s at sf0.1.
    "q21_approx_distinct" -> { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_parts_exact"),
          approx_count_distinct(col("l_partkey"), rsd = 0.02)
            .as("n_parts_approx"))
        .select(col("l_returnflag"), col("n_parts_exact"),
          (abs(col("n_parts_approx") - col("n_parts_exact")) <=
            col("n_parts_exact") * lit(0.05)).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    },

    // -- q22: latest record per key (CDC compaction primitive) -------------
    // The materialize-current-state step of every changelog consumer:
    // one shuffle on the key, row_number over (ts, tiebreak) desc, keep
    // rank 1. No self-join against a max-ts subquery (two scans + a
    // shuffle more) — the window form is the minimal plan.
    "q22_latest_by_key" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("ts").as("last_ts"), col("event_type").as("last_type"))
        .orderBy(col("user_id"))
    },

    // -- q23: time-range window frame (trailing 7-day running sum) ---------
    // RANGE frames are the rolling-feature primitive (trailing spend,
    // rate limits, fraud velocity). Spark's rangeBetween needs a numeric
    // order key; TIMESTAMP_NTZ won't cast to BIGINT directly, so the
    // order key is unix_seconds over an NTZ→LTZ cast (value-preserving:
    // the session is pinned UTC). The frame [t-7d, t] then matches the
    // oracle's INTERVAL frame exactly (o_orderdate carries no sub-second
    // component). One shuffle on o_custkey; peers at the same timestamp
    // share a frame, so ties need no extra ordering key for determinism.
    "q23_range_window" -> { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(unix_seconds(col("o_orderdate").cast("timestamp_ltz")))
        .rangeBetween(-7L * 86400, 0)
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          dbl(sum(money(col("o_totalprice"))).over(w)).as("trailing_7d"))
        .orderBy(col("o_orderkey"))
    },

    // -- q24: binned range join (interval containment without a BNL) -------
    // "events inside a time window" joins have NO equality key, so
    // Catalyst's only native plan is BroadcastNestedLoopJoin — O(n·m)
    // and driver-bounded. The scale-correct shape bins time into days:
    // each interval explodes to the ≤4 day-bins it touches (bounded by
    // interval length / bin width), the probe side keys by its single
    // bin, the join becomes a plain shuffle/hash equi-join on the bin,
    // and the exact range predicate filters residual bin-mates. A probe
    // row lands in exactly one bin, so no post-join dedup is needed.
    // PlanLintSpec asserts no BNL/cartesian anywhere, this included.
    "q24_range_join" -> { (s, dir) =>
      val windows = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 495000)
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("win_end"))
        .withColumn("bin",
          explode(sequence(to_date(col("o_orderdate")), to_date(col("win_end")))))
      val shipments = Tables.load(s, dir, "lineitem")
        .select(col("l_shipdate"), to_date(col("l_shipdate")).as("bin"))
      windows.join(shipments, "bin")
        .filter(col("l_shipdate") >= col("o_orderdate") &&
          col("l_shipdate") < col("win_end"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(count(lit(1)).as("n_shipped"))
        .orderBy(col("o_orderkey"))
    },

    // -- q25: arbitrary grouping sets through the SQL face -----------------
    // ROLLUP (q12) covers only prefix hierarchies; real reporting wants
    // independent axes ((status,priority),(status),(priority),()) in ONE
    // pass. Spark's Expand turns the scan into 4 grouping streams before
    // a single hash aggregate — one shuffle, versus 4 scans + 4 shuffles
    // for the UNION ALL a user would otherwise write. Keys go NULL on
    // their collapsed sets; COALESCE to 'ALL' keeps the output
    // unambiguous (real values never equal 'ALL') and stably ordered.
    "q25_grouping_sets" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(groupingSetsSql)
    },

    // -- q27: correlated scalar subqueries through the SQL face ------------
    // Orders priced >1.5× their customer's average. Catalyst
    // DECORRELATES both per-customer subqueries (RewriteCorrelatedScalarSubquery)
    // into shuffled aggregates on o_custkey joined back to the fact —
    // NOT a per-row re-scan of orders (which is what a naive engine
    // executes and what kills this query at 100 TB). Stated
    // decimal-exactly (price·n > 1.5·sum as 2·price·n > 3·sum) so the
    // filter compares identically on both engines — no float threshold
    // at the decision boundary.
    "q27_correlated_subquery" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(correlatedSubquerySql)
    },

    // -- q28: INTERSECT / EXCEPT through the SQL face ----------------------
    // Customers ordering in both 1996 and 1997, minus low-balance
    // accounts. Set ops compile to left-semi/left-anti hash joins over
    // hash-distinct inputs — three shuffles on the same key, no
    // row-comparison sort — and the same statement runs on both
    // engines (standard set-op precedence made explicit with parens).
    "q28_set_ops" -> { (s, dir) =>
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(setOpsSql)
    },

    // -- q29: batch sessionization (gaps-and-islands) ----------------------
    // Classic event-log sessionization: a new session starts when a
    // user's gap to the previous event exceeds 4 hours. lag + running
    // sum of session-start flags + groupBy — all three steps cluster on
    // user_id, so the window's single hash exchange carries the whole
    // query (HashPartitioning(user_id) satisfies the (user_id, sess_idx)
    // aggregation's clustered distribution; no second shuffle). The
    // strict ts comparison is exact at microsecond precision on both
    // engines — no float boundary. Ties order by (ts, event_id) so the
    // lag is deterministic under equal timestamps.
    "q29_sessionize" -> ((s, dir) =>
      sessionize(Tables.load(s, dir, "events"))),

    // -- q30: ordered funnel (view → click → purchase) ---------------------
    // Loose-funnel semantics on first-touch timestamps: a user counts
    // for a stage when their FIRST click follows their FIRST view (and
    // so on). One pass: conditional min per user (map-side partial agg,
    // one shuffle on user_id), then a single global rollup row. NULL
    // stage timestamps fall out of the count via three-valued logic —
    // `t2 > t1` is NULL when either side is NULL and count(when(...))
    // skips it, exactly DuckDB's FILTER semantics.
    "q30_funnel" -> ((s, dir) =>
      funnel(Tables.load(s, dir, "events"))),

    // -- q31: weekly cohort retention --------------------------------------
    // Cohort = ISO week of a user's first event; matrix cell (cohort,
    // offset) counts distinct users active offset weeks later. The
    // per-user min rides a window over ONE shuffle on user_id; the
    // distinct-count's expand shuffles only (date, long, long) triples.
    // week_offset arithmetic stays on whole days between Monday-aligned
    // dates (always an exact multiple of 7), so the divide-then-cast is
    // exact on both engines.
    "q31_retention" -> ((s, dir) =>
      retention(Tables.load(s, dir, "events"))),

    // -- q32: NATIVE pivot (RelationalGroupedDataset.pivot) ----------------
    // The relational pivot API surface itself. Explicit value list, so
    // there is no distinct-values pre-query — the 100 TB contract (an
    // unlisted pivot scans once just to discover the columns). PLAN
    // HONESTY: Spark plans pivot as aggregate-then-pivotfirst — TWO
    // hash exchanges ((user_id, event_type) then user_id) where q13's
    // manual CASE-WHEN form needs one; both are map-side-combined and
    // key-uniform, but the conditional-aggregation formulation remains
    // the cheaper plan when the pivot values are known. fill(0) is
    // scoped to the pivot output columns (an unscoped na.fill would
    // also rewrite NULL grouping keys).
    "q32_pivot" -> { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("view", "click", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L, Seq("view", "click", "purchase", "signup", "error"))
        .orderBy(col("user_id"))
    },

    // -- q33: fixed-width histogram ----------------------------------------
    // Value-distribution binning (the monitoring/data-profiling
    // primitive): bin = floor(value/width) — a row-local expression,
    // so the only shuffle is the (type, bin)-keyed aggregation of
    // partial counts. IEEE double divide + floor are engine-exact;
    // boundary values (exact multiples of 50 exist in the data) land
    // identically on both engines.
    "q33_histogram" -> { (s, dir) =>
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          floor(col("value") / lit(50.0)).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          dbl(sum(money(col("value")))).as("bin_value"))
        .orderBy(col("event_type"), col("bin"))
    },

    // -- q34: equal-frequency deciles, fact-scale formulation --------------
    // Decile assignment over account balance WITHOUT a global-order
    // window: one percentile_disc aggregation computes the 9 boundary
    // VALUES (bounded driver state — 9 doubles), which inline as
    // literals for a map-only bucket compare, so the corpus pass is
    // embarrassingly parallel (see [[bucketByBoundaries]]). Equals
    // NTILE exactly on unique values (AnalyticsSpec proves parity);
    // where a tied value straddles an NTILE split, boundary bucketing
    // keeps the peer group together — the usual analytics preference.
    "q34_ntile" -> { (s, dir) =>
      bucketByBoundaries(
        Tables.load(s, dir, "customer")
          .select(col("c_custkey"), col("c_acctbal")), "c_acctbal")
        .withColumnRenamed("bucket", "decile")
        .orderBy(col("c_custkey"))
    },

    // -- q36: recursive CTE hierarchy walk (same statement, both engines) --
    "q36_recursive_cte" -> { (s, dir) =>
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql(recursiveCteSql)
    },

    // -- q37: correlated LATERAL top-N-per-group (same statement) ----------
    "q37_lateral_topn" -> { (s, dir) =>
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(lateralTopNSql)
    },

    // -- q35: sketched heavy hitters (approx_top_k) ------------------------
    // Completes the sketch family (q18 GK quantiles, q21 HLL distinct,
    // dedup_bloom membership): the frequent-items sketch, Spark 4's
    // approx_top_k — a fixed-size mergeable summary that finds the
    // top items in ONE pass with map-side partial aggregation, where
    // the exact answer needs a full (key, count) shuffle. Output rows
    // are the EXACT top-10 (deterministic (count, key) order —
    // TakeOrderedAndProject over the supplier-sized count table, no
    // global window); the sketch rides along as two in-plan gate bits:
    // every exact hitter must appear in the sketch AND carry the exact
    // count. The sketch returns its top-50 — any exact top-10 member
    // is guaranteed inside it whenever fewer than 50 keys tie at or
    // above the boundary count (the fixture's tie groups are ≤11 at
    // every SF), independent of the sketch's own tie order.
    // maxItemsTracked (2·10⁴) is sized above the supplier cardinality
    // at every tested SF, where the sketch's counts are guaranteed
    // exact — if the corpus ever outgrows it, the gate FAILS LOUDLY
    // instead of silently degrading (the dedup_embedding recall-guard
    // discipline).
    "q35_approx_topk" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val counts = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("n"))
      val sk = li.agg(expr("approx_top_k(l_suppkey, 50, 20000)").as("sk"))
      counts.orderBy(col("n").desc, col("l_suppkey")).limit(10)
        .crossJoin(broadcast(sk))
        .select(col("l_suppkey"), col("n"),
          exists(col("sk"), x => x.getField("item") === col("l_suppkey"))
            .as("sketch_found"),
          exists(col("sk"), x => x.getField("item") === col("l_suppkey") &&
            x.getField("count") === col("n")).as("count_ok"))
        .orderBy(col("n").desc, col("l_suppkey"))
    },

    // -- q38: UNPIVOT wide metrics → long (melt) ---------------------------
    // The wide→long reshape every reporting layer runs before charting
    // or union-loading heterogeneous metrics. Spark's native
    // Dataset.unpivot (= SQL UNPIVOT / pandas melt) is a PER-ROW
    // projection — each wide row expands to k (metric, value) rows
    // inside the scan stage, no shuffle, no join against a metric
    // dimension. The wide input here is two dimension-sized aggregates
    // (map-side partial counts → nation-keyed rows), so the whole plan
    // is dimension-bounded; at 100 TB the unpivot itself adds zero
    // exchanges to whatever produced the wide frame. Account-balance
    // cents use the floor(·100) fixed-point contract so the summed
    // metric is an exact BIGINT on both engines (value columns must
    // share one type — the reshape is only lossless long-to-long).
    "q38_unpivot" -> { (s, dir) =>
      val nation = Tables.load(s, dir, "nation")
      val cc = Tables.load(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("customers"),
          sum(floor(col("c_acctbal") * 100).cast("long")).as("acctbal_cents"))
      val sc = Tables.load(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("suppliers"))
      nation.select(col("n_nationkey").as("nk"), col("n_name"))
        .join(cc, Seq("nk"), "left")
        .join(sc, Seq("nk"), "left")
        .select(col("n_name"),
          coalesce(col("customers"), lit(0L)).as("customers"),
          coalesce(col("suppliers"), lit(0L)).as("suppliers"),
          coalesce(col("acctbal_cents"), lit(0L)).as("acctbal_cents"))
        .unpivot(Array(col("n_name")),
          Array(col("customers"), col("suppliers"), col("acctbal_cents")),
          "metric", "value")
        .orderBy(col("n_name"), col("metric"))
    },

    // -- q43: CUBE with GROUPING/GROUPING_ID provenance --------------------
    // q39 proved the cube expansion; this face exposes the provenance
    // METADATA BI layers key on — grouping() per dimension and the
    // grouping_id() bitmask — so a subtotal row is distinguishable
    // from a data row whose dimension VALUE happens to be NULL (the
    // classic cube-consumption bug coalesce-only outputs invite). All
    // still one cube expand + one aggregate, no extra exchange.
    // r17: base-cells-first (the q39_cube decomposition); grouping()/
    // grouping_id() provenance is a function of the cube's own key
    // collapse, identical over base cells
    "q43_grouping_id" -> { (s, dir) =>
      Tables.load(s, dir, "orders")
        .groupBy(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n0"))
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(sum(col("n0")).as("n"),
          grouping(col("o_orderpriority")).cast("long").as("g_prio"),
          grouping(col("o_orderstatus")).cast("long").as("g_status"),
          grouping_id().cast("long").as("gid"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("g_prio"), col("g_status"), col("gid"))
        .orderBy(col("gid"), col("prio"), col("status"))
    },

    // -- q44: ordered string aggregation ------------------------------------
    // LISTAGG/STRING_AGG with an explicit ORDER — the report-building
    // primitive (one delimited cell per group). Spark has no ordered
    // string_agg aggregate; sort-inside-collect (array_sort over
    // collect_list, then array_join) reproduces the deterministic
    // order declaratively. Group cardinality bounds the cell, so the
    // collect_list is dimension-sized per group — never a corpus-wide
    // collect.
    "q44_string_agg" -> { (s, dir) =>
      Tables.load(s, dir, "supplier")
        .join(Tables.load(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          array_join(array_sort(collect_list(col("s_name"))), ",")
            .as("suppliers_csv"))
        .orderBy(col("n_name"))
    },

    // -- q45: exact per-group mode with total tie order --------------------
    // The most frequent value per group (data-profiling / imputation
    // primitive), ties broken to the SMALLEST value so the answer is a
    // pure function of the data: one map-side-combined (group, value)
    // count + one group-keyed ROW_NUMBER argmax — the same
    // WindowGroupLimit shape as q22/q37, never a global sort.
    "q45_mode" -> { (s, dir) =>
      val counts = Tables.load(s, dir, "customer")
        .groupBy(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(col("n").desc, col("c_nationkey"))
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("c_mktsegment"),
          col("c_nationkey").as("mode_nationkey"), col("n").as("n_mode"))
        .orderBy(col("c_mktsegment"))
    },

    // -- q47: NEAREST-key as-of join (both directions) ----------------------
    // q16 is the classic BACKWARD as-of; this is pandas
    // merge_asof(direction='nearest'): each purchase pairs with the
    // click closest in TIME, before or after, ties to the earlier
    // side. Same single-sort shape — both direction candidates come
    // from ONE user-keyed window pass over the unioned ordering (a
    // backward last + a forward first), no join at all, so there is
    // no fan-out to explode on hot users.
    "q47_nearest_join" -> { (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val back = byUser.rowsBetween(Window.unboundedPreceding, -1)
      val fwd = byUser.rowsBetween(1, Window.unboundedFollowing)
      val clickTs = when(col("event_type") === "click", col("ts"))
      Tables.load(s, dir, "events")
        .withColumn("prev_click",
          last(clickTs, ignoreNulls = true).over(back))
        .withColumn("next_click",
          first(clickTs, ignoreNulls = true).over(fwd))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("prev_click").isNull, col("next_click"))
            .when(col("next_click").isNull, col("prev_click"))
            .when(unix_micros(col("ts")) - unix_micros(col("prev_click"))
                <= unix_micros(col("next_click")) - unix_micros(col("ts")),
              col("prev_click"))
            .otherwise(col("next_click")).as("nearest_click"),
          when(col("prev_click").isNull && col("next_click").isNull,
              lit("none"))
            .when(col("next_click").isNull, lit("prev"))
            .when(col("prev_click").isNull, lit("next"))
            .when(unix_micros(col("ts")) - unix_micros(col("prev_click"))
                <= unix_micros(col("next_click")) - unix_micros(col("ts")),
              lit("prev"))
            .otherwise(lit("next")).as("direction"))
        .orderBy(col("event_id"))
    },

    // -- q46: median absolute deviation (robust spread) --------------------
    // The robust outlier-scale statistic (MAD) per group, exact:
    // account balances quantize to integer cents, the two medians
    // interpolate on the .5 grid (dyadic rationals — IEEE-exact on
    // both engines), and the deviation pass reuses the same
    // fixed-point contract. Two grouped exact-percentile aggregates
    // with a dimension-sized broadcast join between them — the
    // textbook two-pass MAD, no window, no global sort.
    "q46_mad" -> { (s, dir) =>
      val cents = Tables.load(s, dir, "customer")
        .select(col("c_mktsegment"),
          floor(col("c_acctbal") * 100).cast("long").as("cents"))
      val med = cents.groupBy(col("c_mktsegment"))
        .agg(expr("percentile(cents, 0.5)").as("med_cents"))
      cents.join(broadcast(med), Seq("c_mktsegment"))
        .select(col("c_mktsegment"),
          abs(col("cents") - col("med_cents")).as("adev"),
          col("med_cents"))
        .groupBy(col("c_mktsegment"))
        .agg(first(col("med_cents")).as("med_cents"),
          expr("percentile(adev, 0.5)").as("mad_cents"))
        .orderBy(col("c_mktsegment"))
    },

    // -- q48: gaps-and-islands (consecutive-day activity streaks) ----------
    // The classic sessionless streak analysis: per customer, maximal
    // runs of CONSECUTIVE order days. The island key is day_number −
    // row_number (constant within a run, integer-exact) — one
    // customer-keyed window over the DISTINCT (customer, day) pairs,
    // then two dimension-keyed aggregates. Work is bounded by distinct
    // active days per customer, never raw order rows; the only
    // exchange is the customer-keyed shuffle the distinct already
    // needs, reused by the window (same key, no second exchange).
    "q48_islands" -> { (s, dir) =>
      val days = Tables.load(s, dir, "orders")
        .select(col("o_custkey"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .distinct()
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      days.withColumn("grp", col("day") - row_number().over(w))
        .groupBy(col("o_custkey"), col("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_islands"),
          max(col("len")).as("longest_streak"),
          sum(col("len")).as("active_days"))
        .orderBy(col("o_custkey"))
    },

    // -- q49: year-over-year monthly comparison ----------------------------
    // The standard calendar-comparative report: each (year, month)
    // revenue next to the SAME month one year earlier. Revenue is
    // exact decimal cents (BIGINT); the prior-year value comes from a
    // LAG over a window partitioned by MONTH ordered by YEAR — months
    // are the partition key, so the window state is one row and the
    // partition count is fixed (12) regardless of data size. The only
    // unbounded work is the (year, month) aggregate, which map-side
    // combines to at most years×12 rows before any exchange. The
    // delta stays integer; no ratio column, so no float or floor-vs-
    // trunc division seam between engines.
    "q49_yoy" -> { (s, dir) =>
      val monthly = Tables.load(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mth"))
        .agg(sum(money(col("o_totalprice")) * 100).cast("long")
          .as("revenue_cents"))
      val w = Window.partitionBy(col("mth")).orderBy(col("yr"))
      monthly
        .withColumn("prev_yr_cents", lag(col("revenue_cents"), 1).over(w))
        .withColumn("prev_yr", lag(col("yr"), 1).over(w))
        .select(col("yr").cast("long").as("yr"),
          col("mth").cast("long").as("mth"),
          col("revenue_cents"),
          // a gap year must NOT masquerade as last year: the lagged row
          // is only "year over year" when it is exactly yr-1
          when(col("prev_yr") === col("yr") - 1, col("prev_yr_cents"))
            .as("prev_yr_cents"),
          when(col("prev_yr") === col("yr") - 1,
            col("revenue_cents") - col("prev_yr_cents")).as("delta_cents"))
        .orderBy(col("yr"), col("mth"))
    },

    // -- q50: Pareto coverage (top-N share analysis) -----------------------
    // "How many top customers hold 80% of the balance" per nation —
    // the concentration statistic behind every 80/20 report. Exact
    // integer contract throughout: balances quantize to cents, the
    // 80% test is the cross-multiplication 10·cum_before < 8·total
    // (no division, no float). One nation-keyed cumulative window
    // (per-group sort, the same bounded shape as q7) over POSITIVE
    // balances plus a broadcast of the 25-row nation totals; counting
    // rows whose PRECEDING cumulative is under the threshold yields
    // the minimal covering prefix size directly — no post-window
    // self-join, no rank scan.
    "q50_pareto" -> { (s, dir) =>
      val cents = Tables.load(s, dir, "customer")
        .select(col("c_nationkey").cast("long").as("nk"),
          col("c_custkey"),
          floor(col("c_acctbal") * 100).cast("long").as("cents"))
        .filter(col("cents") > 0)
      val totals = cents.groupBy(col("nk"))
        .agg(sum(col("cents")).as("total_cents"),
          count(lit(1)).as("n_pos_customers"))
      val w = Window.partitionBy(col("nk"))
        .orderBy(col("cents").desc, col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, -1)
      cents
        .withColumn("cum_before", coalesce(sum(col("cents")).over(w), lit(0L)))
        .join(broadcast(totals), Seq("nk"))
        .groupBy(col("nk"))
        .agg(first(col("n_pos_customers")).as("n_pos_customers"),
          first(col("total_cents")).as("total_cents"),
          sum(when(col("cum_before") * 10 < col("total_cents") * 8, 1L)
            .otherwise(0L)).as("n_top80"))
        .orderBy(col("nk"))
    },

    // -- q51: interval merge / union coverage ------------------------------
    // The interval-union primitive (maintenance-window consolidation,
    // time-on-site, SLA coverage): each lineitem opens a 7-day ship
    // window per supplier; overlapping windows MERGE, and the answer
    // is the union's measure — not the sum (double-counting overlap is
    // the classic bug this operator exists to avoid). Merge is the
    // running-max-end sweep: a window starts a new merged interval iff
    // its start exceeds every previous end (one supplier-keyed ordered
    // pass, integer day arithmetic, exact); islands then aggregate
    // twice, dimension-bounded. q24 proved interval JOINS, q48
    // consecutive-day islands; this completes the family with interval
    // UNION — same single-exchange shape as both.
    "q51_interval_merge" -> { (s, dir) =>
      val win = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey").as("supp"),
          datediff(to_date(col("l_shipdate")), lit("1970-01-01").cast("date"))
            .cast("long").as("start"))
        .distinct()
        .withColumn("end", col("start") + 6)
      val byStart = Window.partitionBy(col("supp"))
        .orderBy(col("start"), col("end"))
      val prevMax = max(col("end"))
        .over(byStart.rowsBetween(Window.unboundedPreceding, -1))
      win
        .withColumn("new_island",
          when(prevMax.isNull || col("start") > prevMax, 1L).otherwise(0L))
        .withColumn("island",
          sum(col("new_island")).over(
            byStart.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("supp"), col("island"))
        .agg(count(lit(1)).as("n_windows"),
          (max(col("end")) - min(col("start")) + 1).as("covered"))
        .groupBy(col("supp"))
        .agg(sum(col("n_windows")).as("n_windows"),
          count(lit(1)).as("n_merged"),
          sum(col("covered")).as("covered_days"))
        .orderBy(col("supp"))
    },

    // -- q52: per-group linear-regression trend (exact moments) ------------
    // The trend-detection primitive (is revenue growing?): per supplier
    // nation, regress daily gross revenue on the ship-day number.
    // Everything stays INTEGER — the slope is reported as the exact
    // rational (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) in two BIGINT columns
    // rather than a float division, so the result is bit-reproducible
    // and oracle-replayable (the q50 cross-multiplication discipline).
    // Shape: one (nk, day) map-side-combined pre-aggregate, then one
    // nk-keyed moment fold — two exchanges, output dimension-bounded.
    // Whole-dollar y keeps every term ≲1e15 at sf1 (~1000× headroom);
    // beyond that the identical plan runs on DECIMAL(38,0) (the
    // emb_dim_stats precedent).
    "q52_regr_slope" -> { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_suppkey"),
          datediff(to_date(col("l_shipdate")), lit("1992-01-01").cast("date"))
            .cast("long").as("x"),
          floor(col("l_extendedprice")).cast("long").as("dollars"))
      val supp = Tables.load(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").cast("long").as("nk"))
      li.join(supp, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("nk"), col("x"))
        .agg(sum(col("dollars")).as("y"))
        .groupBy(col("nk"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("nk"), col("n_days"),
          (col("n_days") * col("sxy") - col("sx") * col("sy"))
            .as("slope_num"),
          (col("n_days") * col("sxx") - col("sx") * col("sx"))
            .as("slope_den"),
          (col("n_days") * col("sxy") - col("sx") * col("sy") > 0)
            .as("trend_up"))
        .orderBy(col("nk"))
    },

    // -- q53: market-basket pair support with integer lift -----------------
    // Co-occurrence mining (bought-together analysis): per order, the
    // DISTINCT brand set; pair support counted across orders with the
    // a<b halving, marginals and the order total folded in, and the
    // lift>1 test done by integer cross-multiplication (pair·N >
    // supp_a·supp_b) — no division, no float. Scale shape: the self-
    // join is orderkey-keyed and per-order fan-out is bounded by the
    // brand cardinality (a DIMENSION, ≤25 here), so candidate volume is
    // LINEAR in orders; marginals are brand-bounded broadcasts and the
    // grand total one broadcast row. Output ≤ |brands|² rows.
    "q53_basket_pairs" -> { (s, dir) =>
      // materialized once: four consumers (both pair-join sides, the
      // marginals, the total) would otherwise each re-run the
      // lineitem⋈part join — the basket table is orders·brands-bounded,
      // far smaller than the fact it derives from
      val ob = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "part")
          .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
        .distinct()
        .localCheckpoint(true)
      val pairs = ob.select(col("ok"), col("brand").as("brand_a"))
        .join(ob.select(col("ok"), col("brand").as("brand_b")), Seq("ok"))
        .filter(col("brand_a") < col("brand_b"))
        .groupBy(col("brand_a"), col("brand_b"))
        .agg(count(lit(1)).as("pair_orders"))
      val marg = ob.groupBy(col("brand")).agg(count(lit(1)).as("n"))
      val tot = ob.agg(countDistinct(col("ok")).as("n_orders"))
      pairs
        .join(broadcast(marg.select(col("brand").as("brand_a"),
          col("n").as("orders_a"))), Seq("brand_a"))
        .join(broadcast(marg.select(col("brand").as("brand_b"),
          col("n").as("orders_b"))), Seq("brand_b"))
        .crossJoin(broadcast(tot))
        .select(col("brand_a"), col("brand_b"), col("pair_orders"),
          col("orders_a"), col("orders_b"),
          (col("pair_orders") * col("n_orders") >
            col("orders_a") * col("orders_b")).as("lift_pos"))
        .orderBy(col("pair_orders").desc, col("brand_a"), col("brand_b"))
    },

    // -- q54: fixed-point truncated EWMA smoothing -------------------------
    // The monitoring-dashboard smoother: per event type, a 16-lag
    // exponentially weighted moving average of the daily count with
    // α = 1/2, kept EXACT by binary weights — ewma_fp = Σⱼ n₍ₜ₋ⱼ₎·2^(15−j)
    // (the true EWMA scaled by 2^16, truncated at 16 lags where the
    // remaining tail weight is 2^-16). No float, no order-dependent
    // recurrence — bit-reproducible and replayable. Row-lag semantics
    // (a missing day is skipped, not zero-filled — calendar densify is
    // etl_gapfill's job). Shape: one map-side-combined day aggregate,
    // then one type-keyed window over the calendar-bounded day table.
    "q54_ewma" -> { (s, dir) =>
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
      val ewma = (0 until 16).map(j =>
        coalesce(lag(col("n"), j).over(w), lit(0L)) * lit(1L << (15 - j)))
        .reduce(_ + _)
      daily
        .withColumn("ewma_fp", ewma)
        .withColumn("full_window", lag(col("n"), 15).over(w).isNotNull)
        .orderBy(col("event_type"), col("d"))
    },

    // -- q55: multi-touch conversion attribution ---------------------------
    // Marketing attribution with LINEAR credit: every view/click is
    // attributed to the user's NEXT purchase within a 7-day horizon;
    // the conversion's credit splits equally over its touches as the
    // fixed-point ⌊1e12/n⌋ (integer division — deterministic, no float
    // drift in the rollup). The "next purchase" is a reversed running
    // min over a (ts, event_id)-ordered user window — ties broken
    // identically on both engines. Shape: ONE user-keyed window
    // exchange for conversion assignment, one (user, conversion)-keyed
    // window for the touch count, then a type-bounded rollup — no
    // self-join, no driver state.
    "q55_attribution" -> { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
      val byTime = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val touches = ev
        .withColumn("conv_tus",
          min(when(col("event_type") === "purchase", col("tus")))
            .over(byTime))
        .filter(col("event_type").isin("view", "click") &&
          col("conv_tus").isNotNull &&
          col("conv_tus") - col("tus") <= lit(7L * 86400L * 1000000L))
        .withColumn("n_touch", count(lit(1)).over(
          Window.partitionBy(col("user_id"), col("conv_tus"))))
      touches
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_touches"),
          sum(expr("1000000000000 div n_touch")).as("credit_fp"),
          countDistinct(concat_ws(":", col("user_id"), col("conv_tus")))
            .as("n_conversions"))
        .orderBy(col("event_type"))
    },

    // -- q56: KMV sketch set algebra ---------------------------------------
    // Distinct-cardinality estimates for UNION and INTERSECTION of
    // audience sets (users per event type) computed purely from
    // per-set KMV sketches — the composability that makes KMV the
    // warehouse sketch of choice: sketches are built once per set in
    // one bounded-state aggregate (kmv_sketch, k longs per group),
    // then ANY pair's union estimate is the k-trim of the merged
    // arrays and the intersection estimate is the Jaccard fraction
    // |S_∪ ∩ S_A ∩ S_B|/k of the union estimate (Beyer et al. 2007).
    // Exact countDistinct legs ride along for validation (drop them
    // at 100 TB — the whole point is never re-reading the corpus).
    // Shape: one sketch aggregate + one distinct-pair aggregate over
    // events; all set algebra runs on ≤k-element arrays in-plan.
    "q56_kmv_setops" -> { (s, dir) =>
      val k = 64
      val m = 1000000007L
      val ev = Tables.load(s, dir, "events")
      val h = (col("user_id") % 1000003L) * lit(2654435761L) % lit(m)
      val sk = ev.groupBy(col("event_type"))
        .agg(call_function("kmv_sketch", h, lit(k)).as("sk"))
      val pairs = sk.select(col("event_type").as("type_a"),
          col("sk").as("sk_a"))
        .join(sk.select(col("event_type").as("type_b"),
          col("sk").as("sk_b")), col("type_a") < col("type_b"))
      // exact validation legs: one distinct pass, one pair self-join
      // of the (type, user) distinct table — both cardinality-bounded
      val ut = ev.select(col("event_type"), col("user_id")).distinct()
      val np = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val xin = ut.select(col("event_type").as("type_a"), col("user_id"))
        .join(ut.select(col("event_type").as("type_b"), col("user_id")),
          Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("exact_inter"))
      pairs
        .withColumn("u", slice(array_sort(array_union(col("sk_a"),
          col("sk_b"))), 1, k))
        .withColumn("n_union_kept", size(col("u")).cast("long"))
        .withColumn("kth_union", element_at(col("u"), -1))
        .withColumn("est_union",
          when(col("n_union_kept") < k, col("n_union_kept"))
            .otherwise(expr(s"${(k - 1).toLong * m} div kth_union")))
        .withColumn("n_common", size(array_intersect(
          array_intersect(col("u"), col("sk_a")), col("sk_b")))
          .cast("long"))
        .withColumn("est_inter",
          expr(s"(n_common * est_union) div ${k.toLong}"))
        .join(broadcast(np.select(col("event_type").as("type_a"),
          col("n").as("n_a"))), Seq("type_a"))
        .join(broadcast(np.select(col("event_type").as("type_b"),
          col("n").as("n_b"))), Seq("type_b"))
        .join(xin, Seq("type_a", "type_b"), "left")
        .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
        .select(col("type_a"), col("type_b"), col("n_union_kept"),
          col("kth_union"), col("est_union"), col("est_inter"),
          (col("n_a") + col("n_b") - col("exact_inter")).as("exact_union"),
          col("exact_inter"))
        .orderBy(col("type_a"), col("type_b"))
    },

    // -- q57: cumulative distinct (running unique-user curve) --------------
    // "Distinct users to date" per feed and day — the growth curve a
    // naive COUNT(DISTINCT) OVER cannot express (Spark and most
    // engines reject DISTINCT in window frames, and a per-day
    // re-count is O(days·rows)). The classic exact reformulation:
    // a user contributes to the cumulative curve exactly once, on
    // their FIRST active day — so cum_users(d) = Σ_{d'<=d} new(d'),
    // where new(d) counts users whose MIN(day) = d. Two map-side-
    // combined key aggregates ((type,day,user) distinct, then
    // (type,user) min-day) and one cumulative window over the
    // calendar-bounded (type, day) table. No day re-scans, no
    // distinct-in-window, cumulative state is one long per type.
    "q57_cum_distinct" -> { (s, dir) =>
      val ud = Tables.load(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("user_id"))
        .distinct()
      val dau = ud.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("dau"))
      val newu = ud.groupBy(col("event_type"), col("user_id"))
        .agg(min(col("day")).as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("new_users"))
      // a user's first day is an active day, so newu's days are a
      // subset of dau's — the left join loses nothing
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dau.join(newu, Seq("event_type", "day"), "left")
        .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
        .withColumn("cum_users", sum(col("new_users")).over(w))
        .orderBy(col("event_type"), col("day"))
    }
  )

  /** q29 — see the registry comment above for the one-shuffle plan
    * argument. Gap threshold is a SQL interval literal so the fixture
    * tests can tighten it. */
  def sessionize(events: DataFrame,
      gap: String = "INTERVAL 4 HOURS"): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          col("ts") > col("prev_ts") + expr(gap), 1L)
          .otherwise(0L))
      .withColumn("sess_idx", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_idx"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** q30 — first-touch loose funnel (see registry comment). */
  def funnel(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t1"),
        min(when(col("event_type") === "click", col("ts"))).as("t2"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t3"))
      .agg(
        count(lit(1)).as("n_users"),
        count(col("t1")).as("n_viewed"),
        count(when(col("t2") > col("t1"), 1)).as("n_clicked"),
        count(when(col("t3") > col("t2") && col("t2") > col("t1"), 1))
          .as("n_purchased"))

  /** The fact-scale decile formulation q34's comment names: one
    * percentile_disc aggregation computes the n−1 boundary VALUES
    * (bounded driver state — n−1 doubles), which inline as a literal
    * array for a map-only bucket compare: bucket = 1 + #{boundaries
    * strictly below the value}. No global-order window, no single
    * partition — the corpus pass is embarrassingly parallel.
    * Equals NTILE exactly when no tied value straddles a boundary
    * (NTILE splits peer groups ±1 row by tie-break order; boundary
    * bucketing keeps peers together — the usual analytics preference).
    * Proven against NTILE on unique values in AnalyticsSpec. */
  def bucketByBoundaries(df: DataFrame, valueCol: String,
      n: Int = 10): DataFrame = {
    require(n > 1, s"need at least 2 buckets, got $n")
    val aggs = (1 until n).map(k => expr(
      s"percentile_disc(${k.toDouble / n}) WITHIN GROUP " +
        s"(ORDER BY $valueCol)").as(s"b$k"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    // percentile_disc returns the INPUT column's type (it picks an
    // actual value) — widen any numeric to double for the compare
    val bounds = array((0 until n - 1).map(i =>
      lit(row.getAs[Any](i) match {
        case d: java.lang.Number => d.doubleValue()
        case null => throw new IllegalArgumentException(
          s"cannot bucket an empty (or all-NULL $valueCol) frame: " +
            "percentile boundaries are undefined")
        case other => throw new IllegalArgumentException(
          s"$valueCol must be numeric, got $other")
      })): _*)
    df.withColumn("bucket",
      (lit(1) + aggregate(bounds, lit(0),
        (acc, b) => acc + when(col(valueCol) > b, 1).otherwise(0)))
        .cast("int"))
  }

  /** q31 — weekly cohort retention (see registry comment). */
  def retention(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk"))
      .withColumn("cohort",
        min(col("wk")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("cohort"),
        (datediff(col("wk"), col("cohort")) / lit(7)).cast("long")
          .as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("week_offset"))

  /** Shared verbatim with the DuckDB oracle (q25 pattern). */
  private[operators] val correlatedSubquerySql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      |FROM orders o
      |WHERE 2 * CAST(o_totalprice AS DECIMAL(18,2)) *
      |    (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |  > 3 * (SELECT SUM(CAST(o3.o_totalprice AS DECIMAL(18,2)))
      |         FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** Shared verbatim with the DuckDB oracle (q25 pattern). */
  private[operators] val setOpsSql: String =
    """(SELECT o_custkey AS custkey FROM orders
      |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1996
      | INTERSECT
      | SELECT o_custkey FROM orders
      |  WHERE EXTRACT(YEAR FROM o_orderdate) = 1997)
      |EXCEPT
      |SELECT c_custkey FROM customer WHERE c_acctbal < 1000
      |ORDER BY custkey""".stripMargin

  /** Shared verbatim with the DuckDB oracle — the SQL face must parse
    * and plan identically on both engines. */
  /** Shared by q36's Spark face and the oracle — the SAME statement
    * runs on both engines (the q25/q27/q28 contract). Hierarchy walk
    * over the arithmetic parent tree parent(k) = ⌊k/10⌋: every
    * customer's depth and root ancestor — the org-chart / category-
    * tree / BOM traversal SQL engines historically could not express
    * and Spark 4 can (recursive CTE executes as an ITERATIVE chain of
    * per-level parent-keyed joins — ⌈log₁₀ n⌉ shallow levels here,
    * never a self-referencing blowup; each level is one equi-join, the
    * same shape as Graph.pageRank's fixed iterations). FLOOR(k/10.0)
    * is spelled identically on both engines (DuckDB has no DIV,
    * Spark's FLOOR(double) casts back to BIGINT). */
  private[operators] val recursiveCteSql: String =
    """WITH RECURSIVE h(k, depth, root) AS (
      |  SELECT c_custkey AS k, 0 AS depth, c_custkey AS root
      |  FROM customer WHERE c_custkey < 10
      |  UNION ALL
      |  SELECT c.c_custkey, h.depth + 1, h.root
      |  FROM customer c JOIN h
      |    ON CAST(FLOOR(c.c_custkey / 10.0) AS BIGINT) = h.k
      |  WHERE c.c_custkey >= 10)
      |SELECT k AS c_custkey, CAST(depth AS BIGINT) AS depth, root
      |FROM h ORDER BY c_custkey""".stripMargin

  /** Shared by q37's Spark face and the oracle — the SAME statement on
    * both engines. Top-N-per-group stated as a correlated LATERAL
    * subquery with ORDER BY + LIMIT (the SQL-standard phrasing; Spark
    * 4 supports it) — Catalyst decorrelates the lateral into a
    * relational join + per-group limit rather than re-scanning orders
    * per customer (the plan lint and fingerprint pin this; a naive
    * engine executes |customer| scans, the 100 TB killer). Ties break
    * on o_orderkey; money compares as DECIMAL inside the subquery and
    * casts to DOUBLE only for output. */
  private[operators] val lateralTopNSql: String =
    """SELECT c.c_custkey, t.o_orderkey, t.price
      |FROM customer c,
      |LATERAL (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      |         FROM orders o WHERE o.o_custkey = c.c_custkey
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY c_custkey, price DESC, o_orderkey""".stripMargin

  private[operators] val groupingSetsSql: String =
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |  (o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  /** DuckDB-equivalent SQL. Same aliases, same ORDER BY, same
    * DECIMAL(18,2)-exact money math (see SURVEY.md §6). */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT p_partkey, p_name, p_brand, p_size FROM part
        |WHERE p_size BETWEEN 10 AND 20 AND p_type LIKE '%MEDIUM%'
        |ORDER BY p_partkey""".stripMargin,
    "q3_join_agg" ->
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q4_semi_join" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q5_multi_join" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q6_selective_filter" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q7_window" ->
      """SELECT o_custkey, o_orderkey, order_rank, running_spend FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER w AS order_rank,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      AS running_spend
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |) t WHERE order_rank <= 3
        |ORDER BY o_custkey, order_rank""".stripMargin,
    "q8_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q9_sort_limit" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    "q10_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q11_union_all" ->
      """SELECT DISTINCT custkey FROM (
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
        |  UNION ALL
        |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
        |) t ORDER BY custkey""".stripMargin,
    "q12_rollup" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |  COALESCE(o_orderpriority, 'ALL') AS priority,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q40_date_spine" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS revenue_cents
        |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
        |bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
        |spine AS (
        |  SELECT CAST(UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 1 DAY))
        |    AS DATE) AS day
        |  FROM bounds)
        |SELECT s.day, COALESCE(d.n_orders, 0) AS n_orders,
        |  COALESCE(d.revenue_cents, 0) AS revenue_cents
        |FROM spine s LEFT JOIN daily d ON s.day = d.day
        |ORDER BY s.day""".stripMargin,
    // the sketch replayed as its defining order statistic: k smallest
    // distinct hashes per group, the estimator arithmetic verbatim
    "q41_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    ((user_id % 1000003) * 2654435761) % 1000000007 AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM h),
        |k AS (
        |  SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS kth_hash
        |  FROM r WHERE rn <= 64 GROUP BY event_type),
        |x AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
        |  FROM events GROUP BY event_type)
        |SELECT k.event_type, n_kept, kth_hash,
        |  CAST(CASE WHEN n_kept < 64 THEN n_kept
        |       ELSE (CAST(63 AS BIGINT) * 1000000007) // kth_hash
        |       END AS BIGINT) AS est,
        |  n_exact
        |FROM k JOIN x USING (event_type) ORDER BY event_type""".stripMargin,
    "q39_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        |  COALESCE(ship_year, -1) AS ship_year,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM (SELECT l_returnflag,
        |        CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
        |        l_extendedprice
        |      FROM lineitem) t
        |GROUP BY CUBE (l_returnflag, ship_year)
        |ORDER BY returnflag, ship_year""".stripMargin,
    "q13_case_pivot" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS clicks,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS views,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
        |  CAST(SUM(CASE WHEN event_type = 'purchase'
        |    THEN CAST(value AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value
        |FROM events GROUP BY user_id
        |HAVING COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
        |ORDER BY user_id""".stripMargin,
    "q14_date_agg" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q16_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts,
        |  (SELECT MAX(c.ts) FROM events c
        |   WHERE c.user_id = e.user_id AND c.event_type = 'click'
        |     AND (c.ts < e.ts OR (c.ts = e.ts AND c.event_id < e.event_id)))
        |    AS click_ts
        |FROM events e WHERE e.event_type = 'purchase'
        |ORDER BY e.event_id""".stripMargin,
    "q15_corr_outer" ->
      """SELECT c_custkey, c_name,
        |  COUNT(o_orderkey) AS n_orders,
        |  CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,2))),
        |    CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,
    "q17_quantiles" ->
      """SELECT o_orderpriority,
        |  PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
        |  PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50,
        |  PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY o_totalprice) AS p90,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // approx_ok is the Spark-side accuracy gate (sketch within 2% of the
    // exact median); the oracle's contract is that it always holds.
    "q18_approx_quantiles" ->
      """SELECT o_orderpriority,
        |  PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS p50_exact,
        |  TRUE AS approx_ok,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // literally the same statement text (q25/q27/q28 contract)
    "q36_recursive_cte" -> recursiveCteSql,
    "q37_lateral_topn" -> lateralTopNSql,
    // exact top-10 replay; the sketch gate bits are TRUE by the
    // documented guarantee (counts exact below maxItemsTracked,
    // boundary tie group ≪ sketch width) — same contract as q18/q21
    "q35_approx_topk" ->
      """WITH c AS (
        |  SELECT l_suppkey, COUNT(*) AS n
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT l_suppkey, n, TRUE AS sketch_found, TRUE AS count_ok
        |FROM c ORDER BY n DESC, l_suppkey LIMIT 10""".stripMargin,
    // the standard UNPIVOT clause over the same wide build; DuckDB's
    // SUM(BIGINT) widens to HUGEINT (and UNPIVOT promotes the whole
    // value column with it), so both the sum and the melted value are
    // explicitly re-cast to BIGINT to match Spark's int64
    "q38_unpivot" ->
      """WITH cc AS (
        |  SELECT c_nationkey AS nk, COUNT(*) AS customers,
        |    CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |      AS acctbal_cents
        |  FROM customer GROUP BY c_nationkey),
        |sc AS (
        |  SELECT s_nationkey AS nk, COUNT(*) AS suppliers
        |  FROM supplier GROUP BY s_nationkey),
        |wide AS (
        |  SELECT n_name, COALESCE(customers, 0) AS customers,
        |    COALESCE(suppliers, 0) AS suppliers,
        |    COALESCE(acctbal_cents, 0) AS acctbal_cents
        |  FROM nation LEFT JOIN cc ON n_nationkey = cc.nk
        |  LEFT JOIN sc ON n_nationkey = sc.nk)
        |SELECT n_name, metric, CAST(value AS BIGINT) AS value FROM wide
        |UNPIVOT (value FOR metric IN (customers, suppliers, acctbal_cents))
        |ORDER BY n_name, metric""".stripMargin,
    // same CUBE with the provenance flags recomputed by GROUPING()
    "q43_grouping_id" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS prio,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS n,
        |  CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
        |  CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY gid, prio, status""".stripMargin,
    // the native ordered STRING_AGG — hash equality proves the
    // sort-inside-collect formulation reproduces it byte-for-byte
    "q44_string_agg" ->
      """SELECT n_name, COUNT(*) AS n_suppliers,
        |  STRING_AGG(s_name, ',' ORDER BY s_name) AS suppliers_csv
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // same window ordering (ts, event_id) and IGNORE NULLS frames,
    // interval comparison mirrors the microsecond arithmetic
    "q47_nearest_join" ->
      """WITH w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_click,
        |    FIRST_VALUE(CASE WHEN event_type = 'click' THEN ts END
        |      IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |      AS next_click
        |  FROM events)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN prev_click IS NULL THEN next_click
        |       WHEN next_click IS NULL THEN prev_click
        |       WHEN ts - prev_click <= next_click - ts THEN prev_click
        |       ELSE next_click END AS nearest_click,
        |  CASE WHEN prev_click IS NULL AND next_click IS NULL THEN 'none'
        |       WHEN next_click IS NULL THEN 'prev'
        |       WHEN prev_click IS NULL THEN 'next'
        |       WHEN ts - prev_click <= next_click - ts THEN 'prev'
        |       ELSE 'next' END AS direction
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin,
    "q45_mode" ->
      """WITH c AS (
        |  SELECT c_mktsegment, c_nationkey, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |    ORDER BY n DESC, c_nationkey) AS rn FROM c)
        |SELECT c_mktsegment, c_nationkey AS mode_nationkey, n AS n_mode
        |FROM r WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin,
    // exact two-pass MAD on the cents grid: both medians interpolate
    // on dyadic rationals, IEEE-exact on both engines
    "q46_mad" ->
      """WITH cents AS (
        |  SELECT c_mktsegment,
        |    CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |med AS (
        |  SELECT c_mktsegment, QUANTILE_CONT(cents, 0.5) AS med_cents
        |  FROM cents GROUP BY 1)
        |SELECT c.c_mktsegment, ANY_VALUE(m.med_cents) AS med_cents,
        |  QUANTILE_CONT(ABS(c.cents - m.med_cents), 0.5) AS mad_cents
        |FROM cents c JOIN med m USING (c_mktsegment)
        |GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment""".stripMargin,
    // same island key (day − row_number); day numbering replayed as
    // DATE_DIFF from the same epoch
    "q48_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT o_custkey,
        |    CAST(DATE_DIFF('day', DATE '1970-01-01',
        |      CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        |  FROM orders),
        |runs AS (
        |  SELECT o_custkey,
        |    day - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY day)
        |      AS grp
        |  FROM days),
        |islands AS (
        |  SELECT o_custkey, grp, COUNT(*) AS len
        |  FROM runs GROUP BY 1, 2)
        |SELECT o_custkey, COUNT(*) AS n_islands,
        |  MAX(len) AS longest_streak,
        |  CAST(SUM(len) AS BIGINT) AS active_days
        |FROM islands GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // same month-partitioned LAG; the gap-year guard restated; every
    // SUM kept BIGINT (the round-10 HUGEINT lesson)
    "q49_yoy" ->
      """WITH monthly AS (
        |  SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS yr,
        |    CAST(MONTH(o_orderdate) AS BIGINT) AS mth,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS revenue_cents
        |  FROM orders GROUP BY 1, 2),
        |lagged AS (
        |  SELECT yr, mth, revenue_cents,
        |    LAG(revenue_cents) OVER (PARTITION BY mth ORDER BY yr)
        |      AS prev_cents,
        |    LAG(yr) OVER (PARTITION BY mth ORDER BY yr) AS prev_yr
        |  FROM monthly)
        |SELECT yr, mth, revenue_cents,
        |  CASE WHEN prev_yr = yr - 1 THEN prev_cents END AS prev_yr_cents,
        |  CASE WHEN prev_yr = yr - 1 THEN revenue_cents - prev_cents END
        |    AS delta_cents
        |FROM lagged ORDER BY yr, mth""".stripMargin,
    // same cross-multiplied 80% test over the same (cents DESC,
    // custkey) cumulative ordering
    "q50_pareto" ->
      """WITH cents AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nk, c_custkey,
        |    CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer
        |  WHERE CAST(FLOOR(c_acctbal * 100) AS BIGINT) > 0),
        |totals AS (
        |  SELECT nk, CAST(SUM(cents) AS BIGINT) AS total_cents,
        |    COUNT(*) AS n_pos_customers
        |  FROM cents GROUP BY nk),
        |cum AS (
        |  SELECT nk, cents,
        |    CAST(COALESCE(SUM(cents) OVER (PARTITION BY nk
        |      ORDER BY cents DESC, c_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM cents)
        |SELECT c.nk, ANY_VALUE(t.n_pos_customers) AS n_pos_customers,
        |  ANY_VALUE(t.total_cents) AS total_cents,
        |  CAST(SUM(CASE WHEN c.cum_before * 10 < t.total_cents * 8
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_top80
        |FROM cum c JOIN totals t USING (nk)
        |GROUP BY c.nk ORDER BY c.nk""".stripMargin,
    // same running-max-end sweep: island flag via the identical
    // preceding-frame MAX, every quantity integer days
    "q51_interval_merge" ->
      """WITH win AS (
        |  SELECT DISTINCT l_suppkey AS supp,
        |    CAST(DATE_DIFF('day', DATE '1970-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS s
        |  FROM lineitem),
        |w2 AS (SELECT supp, s, s + 6 AS e FROM win),
        |flags AS (
        |  SELECT supp, s, e,
        |    CASE WHEN MAX(e) OVER (PARTITION BY supp ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      IS NULL THEN 1
        |      WHEN s > MAX(e) OVER (PARTITION BY supp ORDER BY s, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM w2),
        |isl AS (
        |  SELECT supp, s, e,
        |    CAST(SUM(new_island) OVER (PARTITION BY supp ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS island
        |  FROM flags),
        |merged AS (
        |  SELECT supp, island, COUNT(*) AS n_windows,
        |    MAX(e) - MIN(s) + 1 AS covered
        |  FROM isl GROUP BY 1, 2)
        |SELECT supp, CAST(SUM(n_windows) AS BIGINT) AS n_windows,
        |  COUNT(*) AS n_merged,
        |  CAST(SUM(covered) AS BIGINT) AS covered_days
        |FROM merged GROUP BY supp ORDER BY supp""".stripMargin,
    // same integer moment fold; DuckDB SUM widens to HUGEINT so every
    // moment re-casts to BIGINT before the cross-multiplied terms
    "q52_regr_slope" ->
      """WITH day AS (
        |  SELECT CAST(s_nationkey AS BIGINT) AS nk,
        |    CAST(DATE_DIFF('day', DATE '1992-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS x,
        |    CAST(SUM(CAST(FLOOR(l_extendedprice) AS BIGINT)) AS BIGINT)
        |      AS y
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT nk, COUNT(*) AS n_days,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM day GROUP BY nk)
        |SELECT nk, n_days,
        |  n_days * sxy - sx * sy AS slope_num,
        |  n_days * sxx - sx * sx AS slope_den,
        |  (n_days * sxy - sx * sy) > 0 AS trend_up
        |FROM m ORDER BY nk""".stripMargin,
    // same distinct basket build, a<b pair halving, and integer
    // cross-multiplied lift test
    "q53_basket_pairs" ->
      """WITH ob AS (
        |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pairs AS (
        |  SELECT a.brand AS brand_a, b.brand AS brand_b,
        |    COUNT(*) AS pair_orders
        |  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
        |  GROUP BY 1, 2),
        |marg AS (SELECT brand, COUNT(*) AS n FROM ob GROUP BY 1),
        |tot AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM ob)
        |SELECT brand_a, brand_b, pair_orders,
        |  ma.n AS orders_a, mb.n AS orders_b,
        |  (pair_orders * n_orders > ma.n * mb.n) AS lift_pos
        |FROM pairs
        |JOIN marg ma ON brand_a = ma.brand
        |JOIN marg mb ON brand_b = mb.brand
        |CROSS JOIN tot
        |ORDER BY pair_orders DESC, brand_a, brand_b""".stripMargin,
    // the same 16 binary-weighted LAG terms — plain BIGINT arithmetic,
    // no SUM() aggregate, so no HUGEINT widening to re-cast
    "q54_ewma" -> {
      val terms = (0 until 16)
        .map(j => s"COALESCE(LAG(n, $j) OVER w, 0) * ${1L << (15 - j)}")
        .mkString(" +\n        |    ")
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS n
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, d, n,
         |  CAST($terms AS BIGINT) AS ewma_fp,
         |  LAG(n, 15) OVER w IS NOT NULL AS full_window
         |FROM daily
         |WINDOW w AS (PARTITION BY event_type ORDER BY d)
         |ORDER BY event_type, d""".stripMargin
    },
    // same reversed running-min conversion assignment, same integer
    // credit split; the conversion identity string concatenates
    // identically on both engines
    "q55_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, EPOCH_US(ts) AS tus
        |  FROM events),
        |wc AS (
        |  SELECT *,
        |    MIN(CASE WHEN event_type = 'purchase' THEN tus END) OVER (
        |      PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS conv_tus
        |  FROM ev),
        |touches AS (
        |  SELECT *,
        |    COUNT(*) OVER (PARTITION BY user_id, conv_tus) AS n_touch
        |  FROM wc
        |  WHERE event_type IN ('view', 'click') AND conv_tus IS NOT NULL
        |    AND conv_tus - tus <= 604800000000)
        |SELECT event_type, COUNT(*) AS n_touches,
        |  CAST(SUM(1000000000000 // n_touch) AS BIGINT) AS credit_fp,
        |  COUNT(DISTINCT CAST(user_id AS VARCHAR) || ':' ||
        |    CAST(conv_tus AS VARCHAR)) AS n_conversions
        |FROM touches GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the sketch set algebra replayed relationally: per-set ORDER BY h
    // LIMIT k, union sketch = the same trim on the concatenation,
    // intersection via membership joins against both operand sketches
    "q56_kmv_setops" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    ((user_id % 1000003) * 2654435761) % 1000000007 AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM h),
        |sk AS (SELECT event_type, h FROM r WHERE rn <= 64),
        |types AS (SELECT DISTINCT event_type FROM events),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b
        |  FROM types a JOIN types b ON a.event_type < b.event_type),
        |uni AS (
        |  SELECT type_a, type_b, h,
        |    ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h)
        |      AS rn
        |  FROM (SELECT DISTINCT p.type_a, p.type_b, s.h
        |        FROM pairs p
        |        JOIN sk s ON s.event_type IN (p.type_a, p.type_b)) t),
        |u AS (
        |  SELECT type_a, type_b, COUNT(*) AS n_union_kept,
        |    MAX(h) AS kth_union
        |  FROM uni WHERE rn <= 64 GROUP BY type_a, type_b),
        |ix AS (
        |  SELECT un.type_a, un.type_b, COUNT(*) AS n_common
        |  FROM uni un
        |  JOIN sk sa ON sa.event_type = un.type_a AND sa.h = un.h
        |  JOIN sk sb ON sb.event_type = un.type_b AND sb.h = un.h
        |  WHERE un.rn <= 64 GROUP BY un.type_a, un.type_b),
        |est AS (
        |  SELECT u.*,
        |    CAST(CASE WHEN n_union_kept < 64 THEN n_union_kept
        |      ELSE (CAST(63 AS BIGINT) * 1000000007) // kth_union
        |      END AS BIGINT) AS est_union
        |  FROM u),
        |ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |np AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY 1),
        |xin AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*) AS exact_inter
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT e.type_a, e.type_b,
        |  CAST(n_union_kept AS BIGINT) AS n_union_kept, kth_union,
        |  est_union,
        |  CAST((COALESCE(n_common, 0) * est_union) // 64 AS BIGINT)
        |    AS est_inter,
        |  CAST(na.n + nb.n - COALESCE(exact_inter, 0) AS BIGINT)
        |    AS exact_union,
        |  CAST(COALESCE(exact_inter, 0) AS BIGINT) AS exact_inter
        |FROM est e
        |LEFT JOIN ix ON ix.type_a = e.type_a AND ix.type_b = e.type_b
        |JOIN np na ON na.event_type = e.type_a
        |JOIN np nb ON nb.event_type = e.type_b
        |LEFT JOIN xin ON xin.type_a = e.type_a AND xin.type_b = e.type_b
        |ORDER BY e.type_a, e.type_b""".stripMargin,
    // same first-day reformulation: new users = MIN(day) census,
    // cumulative window over the (type, day) aggregate
    "q57_cum_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |dau AS (
        |  SELECT event_type, day, COUNT(*) AS dau
        |  FROM ud GROUP BY 1, 2),
        |f AS (
        |  SELECT event_type, user_id, MIN(day) AS day
        |  FROM ud GROUP BY 1, 2),
        |nu AS (
        |  SELECT event_type, day, COUNT(*) AS new_users
        |  FROM f GROUP BY 1, 2)
        |SELECT d.event_type, d.day, d.dau,
        |  COALESCE(nu.new_users, 0) AS new_users,
        |  CAST(SUM(COALESCE(nu.new_users, 0)) OVER (
        |    PARTITION BY d.event_type ORDER BY d.day) AS BIGINT)
        |    AS cum_users
        |FROM dau d
        |LEFT JOIN nu ON nu.event_type = d.event_type AND nu.day = d.day
        |ORDER BY d.event_type, d.day""".stripMargin,
    // plain unsalted join — hash equality proves salting preserves semantics
    "q19_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // single-phase answer — two-phase must be an identity on the result
    "q20_skew_agg" ->
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // exact distinct hash-matched; approx_ok is the Spark-side 5% gate
    "q21_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts_exact,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q22_latest_by_key" ->
      """SELECT user_id, event_id AS last_event_id, ts AS last_ts,
        |  event_type AS last_type
        |FROM (SELECT user_id, event_id, ts, event_type,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |          ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q23_range_window" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS trailing_7d
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q24_range_join" ->
      """SELECT o_orderkey, o_orderdate, COUNT(*) AS n_shipped
        |FROM orders JOIN lineitem
        |  ON l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate + INTERVAL 3 DAYS
        |WHERE o_totalprice > 495000
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY o_orderkey""".stripMargin,
    "q25_grouping_sets" -> groupingSetsSql,
    "q27_correlated_subquery" -> correlatedSubquerySql,
    "q28_set_ops" -> setOpsSql,
    "q29_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT user_id, ts,
        |    SUM(CASE WHEN prev_ts IS NULL
        |               OR ts > prev_ts + INTERVAL 4 HOURS THEN 1
        |             ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS sess_idx
        |  FROM g)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events
        |FROM m GROUP BY user_id, sess_idx
        |ORDER BY user_id, session_start""".stripMargin,
    "q30_funnel" ->
      """WITH u AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
        |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
        |  FROM events GROUP BY user_id)
        |SELECT COUNT(*) AS n_users, COUNT(t1) AS n_viewed,
        |  COUNT(*) FILTER (t2 > t1) AS n_clicked,
        |  COUNT(*) FILTER (t3 > t2 AND t2 > t1) AS n_purchased
        |FROM u""".stripMargin,
    "q32_pivot" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q33_histogram" ->
      """SELECT event_type,
        |  CAST(FLOOR(value / 50.0) AS BIGINT) AS bin, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bin_value
        |FROM events GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin,
    // mirrors bucketByBoundaries: ANSI percentile_disc boundaries
    // (both engines pick the smallest value whose cume_dist >= p, an
    // ACTUAL input double — exact equality replays), then a map-side
    // strictly-greater count. CAST to INTEGER matches Spark's int.
    "q34_ntile" ->
      ("""WITH b AS (SELECT
        |""" + (1 to 9).map(k =>
        s"  percentile_disc(0.$k) WITHIN GROUP (ORDER BY c_acctbal)" +
          s" AS b$k").mkString(",\n") + """
        |  FROM customer)
        |SELECT c_custkey, c_acctbal,
        |  CAST(1 """ + (1 to 9).map(k =>
        s"+ (CASE WHEN c_acctbal > b$k THEN 1 ELSE 0 END)")
        .mkString(" ") + """ AS INTEGER) AS decile
        |FROM customer CROSS JOIN b
        |ORDER BY c_custkey""").stripMargin,
    "q31_retention" ->
      """WITH e AS (SELECT user_id,
        |    CAST(DATE_TRUNC('week', ts) AS DATE) AS wk FROM events),
        |c AS (SELECT user_id, wk,
        |    MIN(wk) OVER (PARTITION BY user_id) AS cohort FROM e)
        |SELECT cohort,
        |  CAST(DATE_DIFF('day', cohort, wk) / 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM c GROUP BY cohort, week_offset
        |ORDER BY cohort, week_offset""".stripMargin
  )
}
