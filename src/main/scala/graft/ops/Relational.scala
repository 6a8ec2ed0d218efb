package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.schema.Tables

/** Relational capability set over the driver testdata — the §2.3 gap-fill
  * the reference's FK star schema implies but never exercises (SURVEY.md
  * §2.3): joins (inner / broadcast / semi / anti / outer), grouped
  * aggregation with rollup & cube, ranking and running-frame windows,
  * sort / limit / top-k, set operations, and distinct.
  *
  * Scale notes (100 TB posture):
  *  - Dimension joins (`nation`, `region`, `part`-by-key subsets) are
  *    explicitly `broadcast()` — no shuffle of the fact table.
  *  - Fact-fact joins key on the join column and let AQE pick
  *    sort-merge vs shuffled-hash; no driver-side collection anywhere.
  *  - Aggregations are partial+final by construction (groupBy.agg).
  *  - Every query ends in a deterministic ORDER BY so results are
  *    stable under any partitioning/parallelism.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: scan-heavy partial+final agg; the
    * shipdate filter and 7-column projection push down to the parquet scan. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    li.filter(col("l_shipdate") < lit("2000-01-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Star join: fact orders ⋈ dim customer ⋈ dim nation, revenue per
    * nation. customer/nation are broadcast — zero shuffle of orders. */
  def q2JoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
           count(lit(1)).as("n_orders"))
      .orderBy(col("n_name"))
  }

  /** Broadcast hash join of the 60k-row fact against the small part dim. */
  def q3BrandVolume(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val p = Tables(spark, dir, "part")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_quantity")), 2).as("total_qty"),
           round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
      .orderBy(col("p_brand"))
  }

  /** Left-semi join (EXISTS): customers that placed at least one URGENT
    * order, counted by market segment. */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Left-anti join (NOT EXISTS): customers with no order after 2001-01-01. */
  def q5AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_inactive"))
      .orderBy(col("c_mktsegment"))
  }

  /** Left-outer join with ungrouped side: nations with their supplier
    * count (0 where none) — exercises null-generating joins + coalesce. */
  def q6OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables(spark, dir, "nation")
    val s = Tables(spark, dir, "supplier")
      .groupBy(col("s_nationkey")).agg(count(lit(1)).as("cnt"))
    n.join(s, n("n_nationkey") === s("s_nationkey"), "left_outer")
      .select(col("n_name"), coalesce(col("cnt"), lit(0L)).as("n_suppliers"))
      .orderBy(col("n_name"))
  }

  /** Ranking window: top-3 orders per nation by price (deterministic
    * tie-break on orderkey). Partition-parallel: shuffle on nation only. */
  def q7WindowTopPerNation(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val joined = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
    val w = Window.partitionBy(col("n_name"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    joined.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("n_name"), col("rk"), col("o_orderkey"),
              round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("n_name"), col("rk"))
  }

  /** Analytic window with a running frame: cumulative revenue per supplier
    * in ship order (rowsBetween unboundedPreceding..current). */
  def q8WindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem").filter(col("l_suppkey") <= 5)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
              round(sum(col("l_extendedprice")).over(w), 2).as("running_revenue"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** ROLLUP grouping-set hierarchy over returnflag/linestatus. */
  def q9Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** CUBE over status × priority. */
  def q10Cube(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** Global top-k: orderBy + limit → Spark plans TakeOrderedAndProject
    * (per-partition top-k, then merge — no global sort shuffle). */
  def q11TopK(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))

  /** Set ops on the 1995 vs 2001 buyer key sets (distinct semantics). */
  private def buyers(spark: SparkSession, dir: String, year: Int): DataFrame =
    Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(f"$year-01-01").cast("timestamp") &&
              col("o_orderdate") < lit(f"${year + 1}-01-01").cast("timestamp"))
      .select(col("o_custkey")).distinct()

  def q12Union(spark: SparkSession, dir: String): DataFrame =
    buyers(spark, dir, 1995).union(buyers(spark, dir, 2001)).distinct()
      .orderBy(col("o_custkey"))

  def q13Intersect(spark: SparkSession, dir: String): DataFrame =
    buyers(spark, dir, 1995).intersect(buyers(spark, dir, 2001))
      .orderBy(col("o_custkey"))

  def q14Except(spark: SparkSession, dir: String): DataFrame =
    buyers(spark, dir, 1995).except(buyers(spark, dir, 2001))
      .orderBy(col("o_custkey"))

  /** distinct / dropDuplicates / exact distinct counts per group. */
  def q15Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
           countDistinct(col("l_suppkey")).as("n_supps"),
           count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** approx_count_distinct (HLL, rsd 0.02) with an in-query invariant
    * oracle (replaces the r3 no-oracle registration): the ESTIMATE is
    * engine-specific (no cross-engine oracle exists for a sketch), but the
    * error bound is checkable — emit the exact count plus a boolean
    * |approx − exact| ≤ 5%·exact (2.5× the requested rsd; deterministic
    * for the fixed data + hash seed). The sketch still runs and a broken
    * HLL fails the bound; the tighter rsd-level bound stays spec-pinned
    * in RelationalSpec. */
  def q16ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    q16ApproxDistinctRaw(spark, dir)
      .select(col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          col("exact_orders") * lit(0.05)).as("approx_ok"))

  /** The raw (approx, exact) pair — RelationalSpec pins the estimate at
    * the rsd level; the registered query above emits the oracle-able
    * invariant form. */
  def q16ApproxDistinctRaw(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "lineitem")
      .agg(approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
           countDistinct(col("l_orderkey")).as("exact_orders"))

  /** Mergeable-sketch distinct counting across epochs — THE pattern that
    * makes approximate aggregates work at 100 TB: build one DataSketches
    * HLL per month-epoch (what an incremental pipeline would persist per
    * partition), then merge the sketches and estimate — never re-touching
    * the epochs' rows. Invariants, both in-query and oracled:
    *   - merge agreement: estimate(union of per-epoch sketches) within 3%
    *     of estimate(one sketch over the whole scope). NOT exact equality:
    *     DataSketches' union path lands in a different HLL register
    *     representation (HLL_4 vs HLL_8 promotion) than a directly-built
    *     sketch, so the two estimates differ within the sketch's own
    *     error envelope — measured 14908 vs 14869 (0.26%) at sf0.01 and
    *     150443 vs 147959 (1.7%) at sf0.1, both under the 3% bound;
    *   - accuracy: the merged estimate sits within 5% (≈3× the lgK=12
    *     rsd of 1.6%) of the exact distinct count; deterministic for
    *     fixed data + hash.
    * The oracle emits the exact count + both booleans true. */
  def q34HllMergeEpochs(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val epochSketches = li
      .groupBy(date_trunc("month", col("l_shipdate")).as("epoch"))
      .agg(hll_sketch_agg(col("l_orderkey")).as("sk"))
    val merged = epochSketches
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_est"))
    val direct = li.agg(
      hll_sketch_estimate(hll_sketch_agg(col("l_orderkey"))).as("direct_est"),
      countDistinct(col("l_orderkey")).as("exact_orders"))
    direct.crossJoin(merged)
      .select(col("exact_orders"),
        (abs(col("merged_est") - col("direct_est")) <=
          col("exact_orders") * lit(0.03)).as("merge_agrees"),
        (abs(col("merged_est") - col("exact_orders")) <=
          col("exact_orders") * lit(0.05)).as("within_bound"))
  }

  /** National market share (TPC-H Q8 shape) — the widest join tree in the
    * suite: lineitem ⋈ part ⋈ orders ⋈ customer ⋈ nation ⋈ region ⋈
    * supplier ⋈ nation(again), then a conditional-share aggregate per
    * order year. Every dimension is broadcast (nation appears TWICE under
    * different aliases — the self-join-free double role); the part filter
    * lands before its broadcast so the fact is pruned by the join itself;
    * the only exchange the fact crosses is lineitem ⋈ orders' key
    * shuffle + the final per-year aggregate. The optimizer workout: 7
    * broadcasts, join-order freedom, and a CASE-gated ratio in one
    * aggregation pass. */
  def q37MarketShare(spark: SparkSession, dir: String,
                     homeNation: String = "NATION_1"): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val p = Tables(spark, dir, "part").filter(col("p_type") === "ECONOMY")
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val s = Tables(spark, dir, "supplier")
    val n1 = Tables(spark, dir, "nation").as("n1")
    val n2 = Tables(spark, dir, "nation").as("n2")
    val r = Tables(spark, dir, "region").filter(col("r_name") === "AMERICA")
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n1), c("c_nationkey") === col("n1.n_nationkey"))
      .join(broadcast(r), col("n1.n_regionkey") === r("r_regionkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey"))
      .join(broadcast(n2), s("s_nationkey") === col("n2.n_nationkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        round(sum(when(col("n2.n_name") === homeNation, vol).otherwise(lit(0.0))) /
          sum(vol), 6).as("mkt_share"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_year"))
  }

  /** Waiting suppliers (TPC-H Q21 shape, the suite's double-correlated
    * subquery: EXISTS + NOT EXISTS over the same fact): suppliers who
    * were the SOLE late shipper on a multi-supplier finalized order
    * ("late" adapted to this schema as shipping >`lateDays` after the
    * order date — the reference tables carry no receipt/commit dates).
    *
    * Spark-first decorrelation: the textbook plan replays lineitem three
    * times (the probe plus one semi- and one anti-join). Here both
    * correlated predicates collapse into ONE window pass over the same
    * l_orderkey partitioning — per order, the distinct-supplier count
    * (the EXISTS) and the distinct LATE-supplier set (the NOT EXISTS:
    * sole-late ⇔ that set is exactly {me}) — so the fact crosses exactly
    * one exchange and is scanned once. The oracle runs the faithful
    * EXISTS/NOT-EXISTS form in DuckDB, proving the rewrite. At 100 TB
    * the difference is two fewer corpus-sized shuffles. */
  def q38WaitingSuppliers(spark: SparkSession, dir: String,
                          lateDays: Int = 60, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables(spark, dir, "lineitem")
    val ord = Tables(spark, dir, "orders").filter(col("o_orderstatus") === "F")
    val sup = Tables(spark, dir, "supplier")
    val w = Window.partitionBy(col("l_orderkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("is_late",
        col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"), col("is_late"))
      // both window aggregates in ONE projection → a single Window node
      // over one sort of the already-correct partitioning
      .select(col("l_suppkey"), col("is_late"),
        size(collect_set(col("l_suppkey")).over(w)).as("n_supp"),
        size(collect_set(when(col("is_late"), col("l_suppkey"))).over(w))
          .as("n_late_supp"))
      .filter(col("is_late") && col("n_supp") >= 2 && col("n_late_supp") === 1)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(k)
  }

  /** Top supplier by revenue (TPC-H Q15 shape: aggregate → scalar MAX
    * over that same aggregate → equality filter, ties kept). Spark-first:
    * the per-supplier revenue aggregate materializes ONCE (eager
    * localCheckpoint — ~|suppliers| rows); its max is a broadcast 1-row
    * frame joined back, so neither the fact nor the aggregate is
    * recomputed and nothing funnels through a single partition.
    * Revenues round at 4 decimals before the equality (exact for sums
    * of 2-decimal products — the repo's float-parity discipline). */
  def q39TopRevenueSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val sup = Tables(spark, dir, "supplier")
    val rev = li.groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("total_revenue"))
      .localCheckpoint(true)
    rev.join(broadcast(rev.agg(max(col("total_revenue")).as("max_rev"))),
        col("total_revenue") === col("max_rev"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** Global sales opportunity (TPC-H Q22 shape: uncorrelated scalar AVG
    * subquery + null-tolerant anti join + grouped rollout): customers
    * with above-average positive balance and no HIGH-VALUE orders,
    * counted per nation (this schema carries no phone country code — the
    * nation key plays the grouping role; the price floor keeps the
    * survivor set non-degenerate at every sf). The scalar average rides
    * as a broadcast 1-row frame; the anti join shuffles on custkey;
    * output is ~|nations| rows. */
  def q40SalesOpportunity(spark: SparkSession, dir: String,
                          bigOrder: Double = 400000.0): DataFrame = {
    val cust = Tables(spark, dir, "customer")
    val ord = Tables(spark, dir, "orders").filter(col("o_totalprice") > bigOrder)
    val abar = cust.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("abar"))
    cust.join(broadcast(abar))
      .filter(col("c_acctbal") > col("abar"))
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal")), 2).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** A month-PARTITIONED copy of orders (hive-style `o_month=yyyy-MM/`
    * dirs) plus a KB-scale months DIMENSION carrying a `busy` attribute
    * (above-average order count, precomputed at build) — the classic
    * star layout dynamic partition pruning needs: the dim attribute is
    * not derivable from the join key, so only a runtime subquery can
    * prune the fact. Built once per (session, sf dir). */
  private def dppWarehouse(spark: SparkSession, dir: String): String =
    graft.schema.Fixtures.memo(spark, "graft-dpp", dir) { tmp =>
      val withMonth = Tables(spark, dir, "orders")
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      withMonth.write.partitionBy("o_month").mode("overwrite")
        .parquet(s"$tmp/orders_bymonth")
      val monthly = withMonth.groupBy(col("o_month")).agg(count(lit(1)).as("n"))
      monthly.join(broadcast(monthly.agg(avg(col("n")).as("nbar"))))
        .select(col("o_month"),
          when(col("n") > col("nbar"), "busy").otherwise("quiet").as("tier"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/months_dim")
      tmp
    }

  /** DYNAMIC PARTITION PRUNING: the fact is partitioned by month; the
    * dimension rows that survive `busy` are only known at RUNTIME, so
    * no static rule can prune the fact — Catalyst inserts a
    * dynamicpruningexpression subquery on the fact's partition column
    * fed by the broadcast dim. At 100 TB this is the difference between
    * scanning every date partition and only the qualifying ones, for a
    * predicate the user never wrote against the fact. RelationalSpec
    * pins the dynamicpruningexpression in the scan's PartitionFilters;
    * the oracle replays everything from the unpartitioned table. */
  def q41DppJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = dppWarehouse(spark, dir)
    val fact = spark.read.parquet(s"$base/orders_bymonth")
    val busy = spark.read.parquet(s"$base/months_dim")
      .filter(col("tier") === "busy").select(col("o_month"))
    fact.join(broadcast(busy), Seq("o_month"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("o_month"))
  }

  /** Skew-resilient salted join: the fact side gets a deterministic salt
    * in [0, S); the dimension is replicated ×S; the join key becomes
    * (key, salt), spreading any hot key over S tasks. Result is
    * join-equivalent to the unsalted query (the oracle is the plain join).
    * At 100 TB this is the manual fallback for skewed keys that AQE's
    * skew-join splitting can't reach (e.g. broadcast-ineligible dims on
    * engines without AQE); S multiplies only the SMALL side.
    */
  def q17SaltedJoin(spark: SparkSession, dir: String, salts: Int = 8): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val sup = Tables(spark, dir, "supplier")
    val salted = li.withColumn("salt",
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts)).cast("int"))
    val replicated = sup.withColumn("salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated,
        salted("l_suppkey") === replicated("s_suppkey") &&
          salted("salt") === replicated("salt"))
      .groupBy(col("s_nationkey"))
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("s_nationkey"))
  }

  /** Deliberately skewed join — the AQE-side answer to the same problem
    * [[q17SaltedJoin]] solves by hand. ~Half the fact rows collapse onto
    * ONE hot key (every even l_orderkey maps to orderkey 0), so one
    * shuffle partition carries ~50% of the table; the MERGE hint keeps the
    * join sort-merge (a broadcast would hide the skew). With AQE's skew
    * handling (on by default; thresholds sized for the fixture in
    * RelationalSpec, defaults at production scale) the hot partition is
    * SPLIT across tasks at runtime — the plan assertion pins that the
    * split actually activates. Result is oracle-checked like any join;
    * the skew mapping is deterministic SQL both engines replay. */
  def q36SkewJoinAqe(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .withColumn("skew_key",
        when(pmod(col("l_orderkey"), lit(2)) === 0, lit(0))
          .otherwise(col("l_orderkey")))
    val o = Tables(spark, dir, "orders")
    li.hint("MERGE")
      .join(o, col("skew_key") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_items"),
           round(sum(col("l_extendedprice")), 2).as("revenue"))
      .orderBy(col("o_orderstatus"))
  }

  /** The UNsalted form of [[q17SaltedJoin]] — same result, plain join keys.
    * Registered as its own query so the bench shows the salting overhead/
    * benefit explicitly (the salted variant buys skew resilience at the
    * cost of replicating the small side ×salts). */
  def q17bPlainJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val sup = Tables(spark, dir, "supplier")
    li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("s_nationkey"))
  }

  /** Pivot (long→wide conditional aggregation): order counts per priority
    * pivoted over status. Explicit pivot values keep the plan a single
    * partial+final agg (no extra distinct-values job, fixed output schema
    * — required for a stable plan when the fact table is huge). */
  def q18Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).as("n_f"),
        coalesce(col("O"), lit(0L)).as("n_o"),
        coalesce(col("P"), lit(0L)).as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** Explicit GROUPING SETS (the general form rollup/cube specialize):
    * per-status totals and per-priority totals in one Expand + one
    * exchange, instead of two scans + a union. */
  def q19GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_gs")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)
  }

  /** Scalar subquery: orders above 90% of the global max price. The
    * subquery is one scalar agg broadcast into the filter — max (not avg)
    * so the threshold is float-exact and oracle-stable across engines. */
  def q20ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_ss")
    spark.sql(
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders_ss
        |WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders_ss)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Navigation/distribution window functions (lag, lead, ntile,
    * percent_rank) over each customer's order history — one hash
    * partition by custkey serves all four. */
  def q21Navigation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(spark, dir, "orders")
      .filter(col("o_custkey") <= 50)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** TPC-H Q3-shaped shipping priority: the one genuine fact⋈fact join in
    * the set (orders ⋈ lineitem on orderkey — both too big to broadcast at
    * scale, so it shuffles on the join key and AQE picks SMJ/SHJ and
    * handles skew). customer stays a broadcast dim; date filters push to
    * both parquet scans before the join. */
  def q22ShippingPriority(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val cutoff = lit("1998-06-30").cast("timestamp")
    val c = Tables(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables(spark, dir, "orders").filter(col("o_orderdate") < cutoff)
    val li = Tables(spark, dir, "lineitem").filter(col("l_shipdate") > cutoff)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(li, o("o_orderkey") === li("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(k)
  }

  /** Post-aggregation predicate (HAVING): brands whose discounted revenue
    * clears a floor — the filter runs on the ~|brands| aggregate, after
    * the single partial+final exchange. */
  def q23Having(spark: SparkSession, dir: String, floor: Double = 1.0e6): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val p = Tables(spark, dir, "part")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
           count(lit(1)).as("n_items"))
      .filter(col("revenue") > floor)
      .orderBy(col("p_brand"))
  }

  /** Time-RANGE window frame: 30-day trailing revenue per supplier —
    * the value-based frame (peers by ORDER BY value, not row position)
    * that rows-frames can't express. Same single hash partition by
    * suppkey as the rows-frame query; the range bound is evaluated
    * against the sorted run, no extra pass. RANGE frames are
    * tie-inclusive, so the result is deterministic even when ship dates
    * repeat within a supplier. */
  def q24RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("lineitem_rf")
    spark.sql(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_extendedprice) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
        |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW), 2) AS trailing_30d
        |FROM lineitem_rf WHERE l_suppkey <= 5
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin)
  }

  /** IN-subquery membership (TPC-H Q18 shape): orders whose total lineitem
    * quantity clears a floor. Catalyst rewrites the IN into a left-semi
    * join against the pre-aggregated subquery — the fact table shuffles
    * once on the join key and the HAVING floor shrinks the build side
    * before the join ever runs. */
  def q25InSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_q25")
    Tables(spark, dir, "lineitem").createOrReplaceTempView("lineitem_q25")
    spark.sql(
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders_q25
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem_q25
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** TPC-H Q5-shaped 6-way local-supplier join: region→nation dims are
    * broadcast; customer joins orders broadcast-side; the only real
    * shuffle is the fact⋈fact orders⋈lineitem on orderkey; the
    * supplier co-nationality predicate rides the supplier broadcast.
    * At 100 TB this is THE canonical star-join plan: one exchange. */
  def q26LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders")
    val li = Tables(spark, dir, "lineitem")
    val s = Tables(spark, dir, "supplier")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    o.join(li, o("o_orderkey") === li("l_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(s), li("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Conditional aggregation (TPC-H Q12 shape): CASE-gated sums split one
    * pass over the joined fact into per-class tallies — the idiom that
    * replaces N filtered scans with 1 scan + N conditional counters. */
  def q27ConditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val li = Tables(spark, dir, "lineitem")
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"),
        round(sum(when(high, col("l_extendedprice")).otherwise(0d)), 2)
          .as("high_revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** Correlated scalar subquery (TPC-H Q17 shape): lineitems below 20% of
    * their part's average quantity. Written as correlated SQL on purpose —
    * Catalyst's decorrelation rewrites it into groupBy(partkey)+join, so
    * the plan is one aggregate and one join, not a per-row re-scan. */
  def q28CorrelatedScalar(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("lineitem_q28")
    spark.sql(
      """SELECT count(*) AS n_small, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem_q28 l1
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem_q28 l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin)
  }

  /** Remaining analytic window functions (first_value / nth_value /
    * cume_dist / dense_rank) over each supplier's shipment history —
    * completes the window-function surface alongside q7 (ranking),
    * q8/q24 (frames) and q21 (navigation). One hash partition by
    * suppkey serves all four. */
  def q29WindowExtras(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, dir, "lineitem")
      .filter(col("l_suppkey") <= 5)
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        round(first_value(col("l_extendedprice")).over(wAll), 2).as("first_price"),
        round(nth_value(col("l_extendedprice"), 3).over(wAll), 2).as("third_price"),
        // floor-scaled ppm, not round(…, 6): cume_dist is rank/n, whose
        // shortest decimal often ends in 5 exactly at the rounding digit
        // (e.g. 41/640 = .0640625) — Spark rounds the decimal string
        // (HALF_UP), DuckDB rounds the binary double, and they disagree on
        // those ties; floor of the same double is engine-independent
        floor(cume_dist().over(w) * 1000000).cast("long").as("ship_cume_ppm"),
        dense_rank().over(w).as("ship_dense_rank"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** NOT IN over a nullable vs clean subquery — the null-aware anti-join
    * corner of SQL's three-valued logic. custkey 0 exists in the data, so
    * `nullif(o_custkey, 0)` puts real NULLs in the first variant's list
    * and `x NOT IN (S)` is never TRUE: 0 survivors, by the standard, in
    * both engines. The clean variant is the plain anti join (hundreds of
    * survivors). Spark plans the nullable branch through its null-aware
    * anti-join machinery (single-column broadcast NAAJ) instead of a
    * naive LeftAnti that would wrongly return rows. Both build sides are
    * small filtered key sets and broadcast; the probe never shuffles. */
  def q30NotInNullAware(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "customer").createOrReplaceTempView("customer_q30")
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_q30")
    spark.sql(
      """SELECT 'null_in_list' AS variant, count(*) AS n_survivors
        |FROM customer_q30
        |WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 0) FROM orders_q30
        |                        WHERE o_totalprice > 400000)
        |UNION ALL
        |SELECT 'clean_list', count(*)
        |FROM customer_q30
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders_q30
        |                        WHERE o_totalprice > 400000)
        |ORDER BY variant""".stripMargin)
  }

  /** Same result as rel_q7 (top-3 orders per nation) through the native
    * bounded-heap aggregate [[graft.functions.TopKByAgg]] instead of a
    * ranking window: each partition keeps a size-3 heap per nation, so
    * only ≤3 (ord, value) pairs per nation per partition cross the
    * exchange — vs the window plan shuffling and sorting EVERY joined
    * order row. Ord is (price, -orderkey) so ties break exactly like the
    * window's ORDER BY price DESC, orderkey ASC. */
  def q31TopKAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(graft.functions.GraftFunctions.topk_by(
        struct(col("o_totalprice"), (-col("o_orderkey")).as("neg_key")),
        struct(col("o_orderkey"), col("o_totalprice")), 3).as("top"))
      .select(col("n_name"), posexplode(col("top")))
      .select(col("n_name"), (col("pos") + 1).cast("int").as("rk"),
        col("col.o_orderkey").as("o_orderkey"),
        round(col("col.o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("n_name"), col("rk"))
  }

  /** Runtime bloom-filter join pruning: build a bloom bitset over the
    * small side's keys ([[graft.functions.BloomBuildAgg]], fixed-size
    * partial states OR-merged), broadcast the one-row result, and
    * prefilter the fact scan with the codegen'd probe BEFORE the exact
    * semi join. At 100 TB this is the difference between shuffling the
    * whole fact and shuffling only rows that can possibly match; no false
    * negatives ⇒ result identical to the plain semi join the oracle
    * states. */
  def q32BloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.{bloom_build, bloom_might_contain}
    val li = Tables(spark, dir, "lineitem")
    val part = Tables(spark, dir, "part").filter(col("p_size") <= 5)
    val bloom = part.agg(bloom_build(col("p_partkey"), 1 << 16, 5).as("bf"))
    li.join(broadcast(bloom))
      .filter(bloom_might_contain(col("bf"), col("l_partkey"), 5))
      .drop("bf")
      .join(part.select(col("p_partkey")),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** Data-quality constraint audit — the industrial form of the
    * reference's verify/reconcile stage (its `aws s3 ls` + COUNT(*)
    * checks), expressed as one report: per constraint, the row population
    * and violation count. Constraints cover the classes a warehouse gate
    * actually runs: key uniqueness, non-null, referential integrity
    * (orders→customer FK via anti join), domain ranges, and cross-field
    * consistency. One pass per source table + one anti join; every check
    * is a map-side predicate aggregated with count_if-style sums, so the
    * audit costs a scan, not a scan per constraint: each table's scalar
    * constraints fold into ONE conditional aggregate whose row then
    * explodes into the per-constraint report rows (r16: the former
    * one-union-branch-per-check shape re-scanned orders 4× and lineitem
    * 3× — at 100 TB that is 5 fact scans doing one scan's work; the
    * violation sums are unchanged, so the report is identical). */
  def q35QualityAudit(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val li = Tables(spark, dir, "lineitem")
    val c = Tables(spark, dir, "customer")
    def row(name: String, n: Column, v: Column) =
      struct(lit(name).as("constraint"), n.as("n_rows"), v.as("n_violations"))
    // orders scalar checks + the FK population row: one scan, one agg
    val oScalar = o
      .agg(count(lit(1)).as("n"),
        sum(col("o_orderstatus").isNull.cast("long")).as("v_status"),
        sum((!(col("o_totalprice") > 0)).cast("long")).as("v_price"))
      .select(explode(array(
        row("orders.status_nonnull", col("n"), col("v_status")),
        row("orders.totalprice_positive", col("n"), col("v_price")),
        row("orders.custkey_fk_population", col("n"), lit(0L)))).as("r"))
      .select(col("r.*"))
    // lineitem range checks: one scan, one agg
    val liScalar = li
      .agg(count(lit(1)).as("n"),
        sum((!(col("l_quantity") >= 1 && col("l_quantity") <= 50)).cast("long"))
          .as("v_qty"),
        sum((!(col("l_discount") >= 0 && col("l_discount") <= 1)).cast("long"))
          .as("v_disc"),
        sum((!(col("l_tax") >= 0 && col("l_tax") <= 1)).cast("long")).as("v_tax"))
      .select(explode(array(
        row("lineitem.qty_range", col("n"), col("v_qty")),
        row("lineitem.discount_range", col("n"), col("v_disc")),
        row("lineitem.tax_range", col("n"), col("v_tax")))).as("r"))
      .select(col("r.*"))
    val orderKeyUnique = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("dup"))
      .agg(lit("orders.pk_unique").as("constraint"), count(lit(1)).as("n_rows"),
        sum((col("dup") > 1).cast("long")).as("n_violations"))
    // anti join emits ONLY violations; the population row rides oScalar
    val fkOrphans = o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
      .agg(lit("orders.custkey_fk").as("constraint"),
        count(lit(1)).as("n_rows"), count(lit(1)).as("n_violations"))
    oScalar
      .unionByName(liScalar)
      .unionByName(orderKeyUnique)
      .unionByName(fkOrphans)
      .orderBy(col("constraint"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_q35_quality_audit" -> q35QualityAudit,
    "rel_q31_topk_agg" -> q31TopKAgg,
    "rel_q32_bloom_semi_join" -> q32BloomSemiJoin,
    "rel_q33_bucketed_join" -> ((s, d) => Bucketed.q33BucketedJoin(s, d)),
    "rel_q34_hll_merge_epochs" -> q34HllMergeEpochs,
    "rel_q30_not_in_null_aware" -> q30NotInNullAware,
    "rel_q29_window_extras" -> q29WindowExtras,
    "rel_q24_range_frame" -> q24RangeFrame,
    "rel_q1_pricing_summary" -> q1PricingSummary,
    "rel_q2_join_revenue" -> q2JoinRevenue,
    "rel_q3_brand_volume" -> q3BrandVolume,
    "rel_q4_semi_join" -> q4SemiJoin,
    "rel_q5_anti_join" -> q5AntiJoin,
    "rel_q6_outer_join" -> q6OuterJoin,
    "rel_q7_window_top_per_nation" -> q7WindowTopPerNation,
    "rel_q8_window_running" -> q8WindowRunning,
    "rel_q9_rollup" -> q9Rollup,
    "rel_q10_cube" -> q10Cube,
    "rel_q11_topk" -> q11TopK,
    "rel_q12_union" -> q12Union,
    "rel_q13_intersect" -> q13Intersect,
    "rel_q14_except" -> q14Except,
    "rel_q15_distinct" -> q15Distinct,
    "rel_q16_approx_distinct" -> q16ApproxDistinct,
    "rel_q17_salted_join" -> ((s, d) => q17SaltedJoin(s, d)),
    "rel_q17b_plain_join" -> q17bPlainJoin,
    "rel_q36_skew_join_aqe" -> q36SkewJoinAqe,
    "rel_q37_market_share" -> ((s: SparkSession, d: String) => q37MarketShare(s, d)),
    "rel_q38_waiting_suppliers" -> ((s: SparkSession, d: String) => q38WaitingSuppliers(s, d)),
    "rel_q39_top_revenue_supplier" -> q39TopRevenueSupplier,
    "rel_q40_sales_opportunity" -> ((s: SparkSession, d: String) => q40SalesOpportunity(s, d)),
    "rel_q41_dpp_join" -> q41DppJoin,
    "rel_q18_pivot" -> q18Pivot,
    "rel_q19_grouping_sets" -> q19GroupingSets,
    "rel_q20_scalar_subquery" -> q20ScalarSubquery,
    "rel_q21_navigation" -> q21Navigation,
    "rel_q22_shipping_priority" -> ((s, d) => q22ShippingPriority(s, d)),
    "rel_q23_having" -> ((s, d) => q23Having(s, d)),
    "rel_q25_in_subquery" -> q25InSubquery,
    "rel_q26_local_supplier" -> q26LocalSupplier,
    "rel_q27_conditional_agg" -> q27ConditionalAgg,
    "rel_q28_correlated_scalar" -> q28CorrelatedScalar
  )

  val oracles: Map[String, String] = Map(
    // replayed from the unpartitioned table: busy months (above-average
    // order count) aggregated — DPP is an optimization, never a
    // semantics change
    "rel_q41_dpp_join" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
        |    count(*) AS n, round(sum(o_totalprice), 2) AS total
        |  FROM orders GROUP BY 1)
        |SELECT o_month, n AS n_orders, total FROM m
        |WHERE n > (SELECT avg(n) FROM m)
        |ORDER BY o_month""".stripMargin,
    // the faithful CREATE VIEW + scalar-subquery form (ties kept)
    "rel_q39_top_revenue_supplier" ->
      """WITH r AS (SELECT l_suppkey,
        |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN r ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM r)
        |ORDER BY s_suppkey""".stripMargin,
    // the faithful scalar-AVG-subquery + NOT-EXISTS form
    "rel_q40_sales_opportunity" ->
      """SELECT c_nationkey, count(*) AS numcust,
        |  round(sum(c_acctbal), 2) AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
        |                   WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_totalprice > 400000)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    // the faithful double-correlated EXISTS/NOT-EXISTS form — the engine
    // runs the single-window-pass decorrelation; equality proves the
    // rewrite
    "rel_q38_waiting_suppliers" ->
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
        |JOIN supplier s ON s.s_suppkey = l1.l_suppkey
        |WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
    // HLL invariant form: exact count + the 5% bound the engine asserts
    // in-query (the estimate itself has no cross-engine oracle)
    "rel_q16_approx_distinct" ->
      """SELECT count(DISTINCT l_orderkey) AS exact_orders, TRUE AS approx_ok
        |FROM lineitem""".stripMargin,
    "rel_q30_not_in_null_aware" ->
      """SELECT 'null_in_list' AS variant, count(*) AS n_survivors
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 0) FROM orders
        |                        WHERE o_totalprice > 400000)
        |UNION ALL
        |SELECT 'clean_list', count(*)
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
        |                        WHERE o_totalprice > 400000)
        |ORDER BY variant""".stripMargin,
    "rel_q29_window_extras" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(first_value(l_extendedprice) OVER wa, 2) AS first_price,
        |  round(nth_value(l_extendedprice, 3) OVER wa, 2) AS third_price,
        |  CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS ship_cume_ppm,
        |  CAST(dense_rank() OVER w AS INTEGER) AS ship_dense_rank
        |FROM lineitem WHERE l_suppkey <= 5
        |WINDOW w AS (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate, l_orderkey, l_linenumber),
        |  wa AS (PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "rel_q24_range_frame" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_extendedprice) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate
        |    RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW), 2) AS trailing_30d
        |FROM lineitem WHERE l_suppkey <= 5
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "rel_q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "rel_q2_join_revenue" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "rel_q3_brand_volume" ->
      """SELECT p_brand, round(sum(l_quantity), 2) AS total_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "rel_q4_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "rel_q5_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_inactive FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "rel_q6_outer_join" ->
      """SELECT n_name, coalesce(cnt, 0) AS n_suppliers
        |FROM nation LEFT JOIN (SELECT s_nationkey, count(*) AS cnt
        |                       FROM supplier GROUP BY s_nationkey) s
        |ON n_nationkey = s_nationkey ORDER BY n_name""".stripMargin,
    "rel_q7_window_top_per_nation" ->
      """SELECT n_name, CAST(rk AS INTEGER) AS rk, o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM (
        |  SELECT n_name, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY n_name
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey) t
        |WHERE rk <= 3 ORDER BY n_name, rk""".stripMargin,
    // same statement as rel_q7: the native bounded-heap aggregate must
    // reproduce the ranking window exactly, ties included
    "rel_q31_topk_agg" ->
      """SELECT n_name, CAST(rk AS INTEGER) AS rk, o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM (
        |  SELECT n_name, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY n_name
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey) t
        |WHERE rk <= 3 ORDER BY n_name, rk""".stripMargin,
    // the audit is plain counting — DuckDB states each constraint directly
    "rel_q35_quality_audit" ->
      """SELECT 'lineitem.discount_range' AS "constraint", count(*) AS n_rows,
        |  CAST(sum(CASE WHEN NOT (l_discount >= 0 AND l_discount <= 1)
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.qty_range', count(*),
        |  CAST(sum(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50)
        |                THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.tax_range', count(*),
        |  CAST(sum(CASE WHEN NOT (l_tax >= 0 AND l_tax <= 1)
        |                THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'orders.custkey_fk', count(*), count(*)
        |FROM orders o WHERE NOT EXISTS
        |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'orders.custkey_fk_population', count(*), CAST(0 AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'orders.pk_unique', count(*),
        |  CAST(sum(CASE WHEN dup > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM (SELECT o_orderkey, count(*) AS dup FROM orders GROUP BY o_orderkey) t
        |UNION ALL
        |SELECT 'orders.status_nonnull', count(*),
        |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'orders.totalprice_positive', count(*),
        |  CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) FROM orders
        |ORDER BY "constraint"""".stripMargin,
    // sketch-merge invariants: exact count + the lossless-union and
    // accuracy booleans the engine asserts in-query
    "rel_q34_hll_merge_epochs" ->
      """SELECT count(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS merge_agrees, TRUE AS within_bound
        |FROM lineitem""".stripMargin,
    // bucketing is a physical layout choice — the oracle is the plain join
    "rel_q33_bucketed_join" ->
      """SELECT o_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    // the bloom prefilter must be invisible in the result: plain semi join
    "rel_q32_bloom_semi_join" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "rel_q8_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_extendedprice) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_revenue
        |FROM lineitem WHERE l_suppkey <= 5
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "rel_q9_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "rel_q10_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "rel_q11_topk" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice FROM orders
        |ORDER BY orders.o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "rel_q12_union" ->
      """SELECT DISTINCT o_custkey FROM orders
        |WHERE (o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')
        |   OR (o_orderdate >= TIMESTAMP '2001-01-01' AND o_orderdate < TIMESTAMP '2002-01-01')
        |ORDER BY o_custkey""".stripMargin,
    "rel_q13_intersect" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2001-01-01' AND o_orderdate < TIMESTAMP '2002-01-01'
        |ORDER BY o_custkey""".stripMargin,
    "rel_q14_except" ->
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2001-01-01' AND o_orderdate < TIMESTAMP '2002-01-01'
        |ORDER BY o_custkey""".stripMargin,
    "rel_q15_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // the salted join is result-equivalent to the plain join — that IS the test
    "rel_q17b_plain_join" ->
      """SELECT s_nationkey, round(sum(l_extendedprice), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "rel_q17_salted_join" ->
      """SELECT s_nationkey, round(sum(l_extendedprice), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    // the skew mapping is plain SQL; AQE's runtime split must not change results
    "rel_q36_skew_join_aqe" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS revenue
        |FROM (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE l_orderkey END
        |        AS skew_key, l_extendedprice FROM lineitem) f
        |JOIN orders ON f.skew_key = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // 8-relation Q8 shape; ratio of double sums rounds stably at 6
    "rel_q37_market_share" ->
      """SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
        |  round(sum(CASE WHEN n2.n_name = 'NATION_1'
        |            THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END) /
        |        sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS mkt_share,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |GROUP BY year(o.o_orderdate)
        |ORDER BY o_year""".stripMargin,
    "rel_q18_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "rel_q19_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "rel_q20_scalar_subquery" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "rel_q21_navigation" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice,
        |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank
        |FROM orders WHERE o_custkey <= 50
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "rel_q22_shipping_priority" ->
      """SELECT o_orderkey, o_orderdate,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-30'
        |  AND l_shipdate > TIMESTAMP '1998-06-30'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "rel_q23_having" ->
      """SELECT p_brand,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |HAVING round(sum(l_extendedprice * (1 - l_discount)), 4) > 1000000
        |ORDER BY p_brand""".stripMargin,
    "rel_q25_in_subquery" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
        |ORDER BY o_orderkey""".stripMargin,
    "rel_q26_local_supplier" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "rel_q27_conditional_agg" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |    AS high_line_count,
        |  count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
        |    AS low_line_count,
        |  round(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                 THEN l_extendedprice ELSE 0 END), 2) AS high_revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "rel_q28_correlated_scalar" ->
      """SELECT count(*) AS n_small, round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        |FROM lineitem l1
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin
  )
}
