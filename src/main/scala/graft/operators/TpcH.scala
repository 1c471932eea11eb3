package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** TPC-H-style composite queries adapted to the driver testdata's
  * simplified star schema (no partsupp / commitdate / shipmode
  * columns, so q2/q4/q12/q16 use equivalent predicates over the
  * columns that exist — the OPERATOR shapes are the point: existence
  * semi-joins, left-outer count distributions, disjunctive multi-table
  * predicates, group-filter-semi-join composition).
  *
  * Scale notes, per query:
  *  - Every aggregate follows the engine's exact-decimal policy
  *    (sum via DECIMAL, single final division — order-independent, so
  *    results are partitioning-invariant at any cluster size).
  *  - Dimension tables (nation, part at sf, customer-side filters)
  *    broadcast; the fact table (lineitem) is never shuffled except by
  *    its aggregation key.
  *  - Date/range filters sit directly on scan columns so they reach
  *    the parquet reader as PushedFilters (verified in PlanShapeSpec).
  */
object TpcH {

  private def revenue: Column =
    sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,4)")).cast("double")

  /** TPC-H q6: single-scan filtered aggregate — the pure
    * pushdown/codegen benchmark (no join, no shuffle beyond one
    * partial+final agg).
    */
  def q6RevenueDelta(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,4)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H q4 shape: priority rollup of orders having at least one
    * matching lineitem (EXISTS -> left-semi join; the distinct is
    * implicit in semi-join semantics — no pair fanout).
    */
  def q4PriorityExists(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey"))
    o.join(returned, Seq("o_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** TPC-H q7 shape: shipping volume between a nation pair, both
    * directions, by ship year. Two broadcast nation lookups (aliased
    * dimensions), disjunctive pair predicate AFTER the equi-joins.
    */
  def q7NationVolume(spark: SparkSession, dir: String,
      nationA: String = "NATION_18", nationB: String = "NATION_19"): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nationkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nationkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), Seq("s_nationkey"))
      .join(broadcast(n2), Seq("c_nationkey"))
      .filter(
        (col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(revenue.as("volume"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
  }

  /** TPC-H q8: national market share — the share of one supplier
    * nation in a region's PROMO-part import volume, per order year.
    * The widest join in the registry (lineitem + orders + customer +
    * supplier + part + nation x2 + region); every dimension broadcasts,
    * the two aggregates are a CASE'd sum and a total sum with ONE final
    * division.
    */
  def q8MarketShare(spark: SparkSession, dir: String,
      nation: String = "NATION_1", region: String = "ASIA"): DataFrame = {
    val custNation = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
        .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nationkey"))
    val suppNation = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))
    val vol = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .cast("decimal(18,4)")
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .filter(col("p_type") === "PROMO")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNation), Seq("c_nationkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNation), Seq("s_nationkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === nation, vol)
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double")
          .as("nation_volume"),
        sum(vol).cast("double").as("total_volume"))
      .select(col("o_year"),
        round(col("nation_volume"), 4).as("nation_volume"),
        round(col("total_volume"), 4).as("total_volume"),
        round(col("nation_volume") / col("total_volume"), 6).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** TPC-H q10: returned-item revenue per customer in a quarter,
    * top 20 (explicit total tie-break so the limit is deterministic).
    */
  def q10ReturnedRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(revenue.as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** TPC-H q12 shape: line counts by high/low order priority per
    * return flag for a ship-year — join + conditional aggregation.
    */
  def q12PriorityClass(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("high_line_count"),
        count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("low_line_count"))
      .orderBy(col("l_returnflag"))

  /** TPC-H q13: customer distribution by order count — LEFT OUTER join
    * (customers with no orders must appear with count 0; the join-side
    * predicate lives in the ON clause, not a WHERE, which would turn
    * the outer join inner) + two-level aggregation.
    */
  def q13CustDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderpriority") =!= "3-MEDIUM"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H q14: promotion revenue share for a quarter — broadcast part
    * join + CASE'd aggregate ratio, single final IEEE division.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO",
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(18,4)")).otherwise(lit(0).cast("decimal(18,4)")))
          .cast("double").as("promo_revenue"),
        revenue.as("total_revenue"))
      .select(
        round(col("promo_revenue"), 4).as("promo_revenue"),
        round(col("total_revenue"), 4).as("total_revenue"),
        round(col("promo_revenue") / col("total_revenue"), 6).as("promo_share"))

  /** TPC-H q16 shape: distinct supplier variety per (brand, size) for
    * mid-size parts, excluding blacklisted suppliers (NOT IN -> anti
    * join on the supplier dimension before the distinct count).
    */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame = {
    val bad = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("l_suppkey"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .filter(col("p_brand") =!= "Brand#1" && col("p_size").between(1, 15))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(bad), Seq("l_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** TPC-H q18: large-quantity orders — group-filter on the fact
    * table, then join the keys back to orders+customer. The HAVING
    * runs BEFORE the joins so only qualifying orderkeys (a tiny set)
    * reach the join — at 100 TB the join probe side is the filter
    * output, not the fact table.
    */
  def q18LargeOrders(spark: SparkSession, dir: String,
      minQty: Double = 300.0): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    big
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("sum_qty").cast("double").as("sum_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** TPC-H q15: top supplier(s) by quarterly revenue — aggregate once,
    * then select the row(s) equal to the aggregate's own max (scalar
    * subquery over the SAME aggregate; exact-decimal revenue makes the
    * equality well-defined, which a double sum would not).
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).as("total_rev"))
    val top = rev.agg(max(col("total_rev")).as("max_rev"))
    rev
      .join(broadcast(top), col("total_rev") === col("max_rev"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H q17: small-quantity-order revenue — each lineitem compared
    * to 0.2x its PART's average quantity (correlated aggregate,
    * decorrelated into a self-aggregation join on partkey).
    */
  def q17SmallQuantity(spark: SparkSession, dir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
        count(lit(1)) * 0.2).as("qty_limit"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .filter(col("p_brand") === "Brand#3")),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, Seq("l_partkey"))
      .filter(col("l_quantity") < col("qty_limit"))
      .agg(
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          / 7.0, 4).as("avg_yearly"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H q22: dormant high-balance customers — balance above the
    * positive-balance global average (scalar subquery) AND no RECENT
    * orders (anti join on a filtered fact side; every customer in this
    * data has SOME order, so "dormant" = nothing since 2000),
    * counted per nation.
    */
  def q22DormantRich(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_bal"))
    cust
      .join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("total_bal"))
      .orderBy(col("c_nationkey"))
  }

  /** TPC-H q21: suppliers who kept orders waiting — for finished
    * orders, count the late lines whose supplier was the ONLY late
    * supplier in a multi-supplier order. "Late" is adapted to this
    * schema (no commitdate/receiptdate): shipped more than `lateDays`
    * after the order date.
    *
    * The textbook form is EXISTS (another supplier in the order) AND
    * NOT EXISTS (another LATE supplier in the order) — two correlated
    * self-joins over the fact table. Here both are decorrelated through
    * ONE per-(order, supplier) pre-aggregate: the fact table is scanned
    * and shuffled exactly once, and everything after operates on the
    * reduced table. The earlier formulation used two countDistincts
    * over different expressions, which forced an Expand (2x the fact
    * rows into the aggregate) and consumed the fact join twice (once
    * for the per-order counts, once for the late-lines join) — at
    * 100 TB that is two fact joins and a doubled shuffle where one
    * suffices.
    *
    * The per-order EXISTS counts come from a WINDOW over the reduced
    * table, not a second aggregate + self-join: a count() over
    * partitionBy(l_orderkey) needs only per-order clustering and a
    * local sort over per-order groups (a handful of suppliers each, at
    * any scale) — no self-join, and no persist(). The plan is
    * regime-adaptive and right in both regimes: at cluster scale the
    * orders side outgrows the broadcast threshold, the join becomes an
    * orderkey shuffle join, and the aggregate (orderkey is a prefix of
    * its group keys) and the window both ride that partitioning with
    * NO further exchange — one fact shuffle total; at local/test scale
    * orders broadcasts instead, the fact is never pre-partitioned, and
    * the plan pays the aggregate's own exchange of map-side-reduced
    * partials plus a reduced-table exchange for the window — two
    * exchanges of ~0.6x-fact narrow rows, cheaper locally than forcing
    * the cluster shape with a merge-join hint would be. The r10 form
    * materialized perOS through the memory store so two consumers (the
    * per-order counts and the join back) could share it; the window
    * formulation has ONE consumer, so the sharing problem the persist
    * solved is gone — recompute-safety concerns with it. perOS carries
    * n_late_lines so the final numwait keeps line (not supplier)
    * multiplicity. The oracle SQL deliberately keeps the EXISTS/NOT
    * EXISTS form, so the gate proves the formulations equivalent.
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String,
      nation: String = "NATION_3", lateDays: Int = 90): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") >
          col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS")).as("late"))
    // one row per (order, supplier): any_late replaces the distinct-
    // count's deduplication, n_late_lines preserves the late-line
    // multiplicity numwait counts
    val perOS = lines
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(
        max(col("late")).as("any_late"),
        count(when(col("late"), lit(1))).as("n_late_lines"))
    val wOrd = Window.partitionBy(col("l_orderkey"))
    val natSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter(col("n_name") === nation)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
    perOS
      .withColumn("n_supp", count(lit(1)).over(wOrd))
      .withColumn("n_late_supp",
        count(when(col("any_late"), lit(1))).over(wOrd))
      .filter(col("any_late") &&
        col("n_supp") > 1 && col("n_late_supp") === 1)
      .join(broadcast(natSupp), Seq("l_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late_lines")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** TPC-H q9 shape: product-type profit by nation and order year.
    * The testdata has no partsupp, so supply cost is a deterministic
    * function of the part (half retail price) — the OPERATOR shape is
    * the point: a selective dimension filter fanned through the fact
    * table, two broadcast dimension joins plus the orders equi-join,
    * and a two-key rollup. lineitem is shuffled ONCE (the orderkey
    * join); part/supplier/nation broadcast, and the part filter
    * reaches the scan before the join fans anything out.
    */
  def q9Profit(spark: SparkSession, dir: String,
      namePattern: String = "%red%"): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_name").like(namePattern))
      .select(col("p_partkey"), col("p_retailprice"))
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
          lit(0.5) * col("p_retailprice") * col("l_quantity"))
        .cast("decimal(18,4)")).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** TPC-H q19: disjunctive multi-column predicate (OR of AND blocks
    * spanning both join sides) — the planner must still use the
    * equi-join on partkey and evaluate the residual disjunction after.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(11, 20) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(21, 30) &&
          col("l_quantity").between(20, 40)))
      .agg(revenue.as("revenue"), count(lit(1)).as("n_lines"))

  /** TPC-H q2 shape: minimum-cost supplier per part within a region —
    * the correlated-MIN-subquery pattern, decorrelated as an aggregate
    * plus equality join-back. Adapted (no partsupp in the testdata):
    * the supply relation derives from lineitem — supplier s supplies
    * part p at unit cost min(l_extendedprice / l_quantity) over their
    * shipments — and EUROPE scopes the supplier side. The double
    * division is computed identically by both engines and MIN is an
    * exact selection, so the cost = min_cost equality join is
    * cross-engine safe. The supply table is consumed twice (per-part
    * min + the join-back probe); nation/region and the filtered part
    * dim broadcast; output is the canonical top-100 by account
    * balance with a total-order tiebreak.
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String,
      region: String = "EUROPE"): DataFrame = {
    val regionSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .join(broadcast(Tables.region(spark, dir)
          .filter(col("r_name") === region)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val supply = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("cost"))
    val eligible = supply
      .join(regionSupp, col("l_suppkey") === col("s_suppkey"))
    val minCost = eligible.groupBy(col("l_partkey"))
      .agg(min(col("cost")).as("min_cost"))
    eligible
      .join(minCost, Seq("l_partkey"))
      .filter(col("cost") === col("min_cost"))
      .join(broadcast(Tables.part(spark, dir)
        .filter(col("p_size").between(10, 20) && col("p_type") === "LARGE")),
        col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_type"),
        round(col("min_cost"), 4).as("min_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** TPC-H q11 shape: per-part "stock value" for one nation's
    * suppliers with a scalar-subquery HAVING (value above a
    * total-derived threshold). Adapted (no partsupp): value = revenue
    * over the nation's lineitems per part, and the canonical
    * `fraction / SF` threshold — which TPC-H itself scales down with
    * data size, because any FIXED share of the total filters
    * everything once the part count grows past 1/fraction — becomes
    * the scale-invariant above-average form: keep parts with
    * value * n_parts > total. The (total, n_parts) pair rides a 1-row
    * broadcast (the scalar subquery) and the comparison runs ENTIRELY
    * in decimal x integer arithmetic, so a part sitting exactly on
    * the boundary cannot flip between engines at any SF.
    */
  def q11ImportantStock(spark: SparkSession, dir: String,
      nation: String = "NATION_3"): DataFrame = {
    val natSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter(col("n_name") === nation)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val value = Tables.lineitem(spark, dir)
      .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).as("value"))
    val total = value.agg(sum(col("value")).as("total"),
      count(lit(1)).as("n_parts"))
    value.crossJoin(broadcast(total))
      .filter(col("value") * col("n_parts") > col("total"))
      .select(col("l_partkey").as("p_partkey"),
        col("value").cast("double").as("value"))
      .orderBy(col("value").desc, col("p_partkey"))
  }

  /** TPC-H q20 shape: the nested-IN-subquery chain — suppliers who
    * shipped more than HALF of a part's total 1997 volume, for parts
    * of one type, then the supplier dim is filtered by that derived
    * set (IN -> left-semi join) and nation-annotated. Adapted (no
    * partsupp): shipped lineitem quantity stands in for availqty on
    * both sides of the correlated comparison, which runs in exact
    * decimal (sq * 2 > tq — no 0.5 double multiply).
    */
  def q20PromotionSuppliers(spark: SparkSession, dir: String,
      ptype: String = "ECONOMY"): DataFrame = {
    val shipped = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(Tables.part(spark, dir)
        .filter(col("p_type") === ptype)
        .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
    val totals = shipped.groupBy(col("l_partkey"))
      .agg(sum(col("sq")).as("tq"))
    val bigShippers = shipped.join(totals, Seq("l_partkey"))
      .filter(col("sq") * lit(2) > col("tq"))
      .select(col("l_suppkey").as("s_suppkey"))
    Tables.supplier(spark, dir)
      .join(bigShippers, Seq("s_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_name"))
  }

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("q4_priority_exists", (s, d) => q4PriorityExists(s, d),
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q6_revenue_delta", (s, d) => q6RevenueDelta(s, d),
      """SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),
    Query("q7_nation_volume", (s, d) => q7NationVolume(s, d),
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |       CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |   OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
        |GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, ship_year""".stripMargin),
    Query("q8_market_share", (s, d) => q8MarketShare(s, d),
      """WITH flat AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4)) AS vol,
        |         n2.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey),
        |agg AS (
        |  SELECT o_year,
        |    CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol
        |             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_volume,
        |    CAST(sum(vol) AS DOUBLE) AS total_volume
        |  FROM flat GROUP BY o_year)
        |SELECT o_year, round(nation_volume, 4) AS nation_volume,
        |       round(total_volume, 4) AS total_volume,
        |       round(nation_volume / total_volume, 6) AS mkt_share
        |FROM agg ORDER BY o_year""".stripMargin),
    Query("q10_returned_revenue", (s, d) => q10ReturnedRevenue(s, d),
      """SELECT c_custkey, c_name,
        |       CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),
    Query("q12_priority_class", (s, d) => q12PriorityClass(s, d),
      """SELECT l_returnflag,
        |  CAST(count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
        |  CAST(count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q13_cust_distribution", (s, d) => q13CustDistribution(s, d),
      """WITH per_cust AS (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '3-MEDIUM'
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM per_cust GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Query("q14_promo_share", (s, d) => q14PromoShare(s, d),
      """WITH agg AS (
        |  SELECT
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT round(promo_revenue, 4) AS promo_revenue,
        |       round(total_revenue, 4) AS total_revenue,
        |       round(promo_revenue / total_revenue, 6) AS promo_share
        |FROM agg""".stripMargin),
    Query("q16_supplier_variety", (s, d) => q16SupplierVariety(s, d),
      """SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size BETWEEN 1 AND 15
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_size""".stripMargin),
    Query("q15_top_supplier", (s, d) => q15TopSupplier(s, d),
      """WITH rev AS (
        |  SELECT l_suppkey, sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),
    Query("q17_small_quantity", (s, d) => q17SmallQuantity(s, d),
      """WITH pa AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) * 0.2 AS qty_limit
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4) AS avg_yearly,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN pa ON lineitem.l_partkey = pa.l_partkey
        |WHERE p_brand = 'Brand#3' AND l_quantity < qty_limit""".stripMargin),
    // r17: the last three TPC-H members (partsupp-adapted shapes —
    // correlated MIN, scalar-subquery HAVING, nested IN chain)
    // q2 adaptation: the supply relation derives from lineitem
    // (supplier s supplies part p at unit cost min(extendedprice /
    // quantity)); the double division is identical IEEE on both
    // engines and MIN is an exact selection, so the cost = min_cost
    // equality join-back is safe cross-engine.
    Query("q2_min_cost_supplier", (s, d) => q2MinCostSupplier(s, d),
      """WITH rsupp AS (
        |  SELECT s_suppkey, s_name, s_acctbal, n_name
        |  FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE'),
        |supply AS (
        |  SELECT l_partkey, l_suppkey,
        |         min(l_extendedprice / l_quantity) AS cost
        |  FROM lineitem GROUP BY 1, 2),
        |eligible AS (
        |  SELECT l_partkey, cost, s_acctbal, s_name, n_name
        |  FROM supply JOIN rsupp ON l_suppkey = s_suppkey),
        |mc AS (
        |  SELECT l_partkey, min(cost) AS min_cost
        |  FROM eligible GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
        |       round(min_cost, 4) AS min_cost
        |FROM eligible e
        |JOIN mc ON e.l_partkey = mc.l_partkey AND e.cost = mc.min_cost
        |JOIN part ON e.l_partkey = p_partkey
        |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),
    // q11 adaptation: per-part revenue of one nation's suppliers
    // stands in for partsupp stock value; the canonical fraction/SF
    // threshold becomes the scale-invariant above-average form
    // (value * n_parts > total), which runs entirely in decimal x
    // integer arithmetic on both engines, so a boundary part cannot
    // flip — at any SF.
    Query("q11_important_stock", (s, d) => q11ImportantStock(s, d),
      """WITH val AS (
        |  SELECT l_partkey AS p_partkey,
        |         sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS value
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY 1),
        |tot AS (SELECT sum(value) AS total, count(*) AS n_parts FROM val)
        |SELECT p_partkey, CAST(value AS DOUBLE) AS value
        |FROM val, tot
        |WHERE value * n_parts > total
        |ORDER BY value DESC, p_partkey""".stripMargin),
    // q20 adaptation: shipped 1997 quantity stands in for partsupp
    // availqty on both sides of the correlated comparison, which runs
    // in exact decimal as sq * 2 > tq (no 0.5 double multiply).
    Query("q20_promotion_suppliers", (s, d) => q20PromotionSuppliers(s, d),
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |         sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'ECONOMY'
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2),
        |totals AS (
        |  SELECT l_partkey, sum(sq) AS tq FROM shipped GROUP BY 1)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (
        |  SELECT s.l_suppkey
        |  FROM shipped s JOIN totals t ON s.l_partkey = t.l_partkey
        |  WHERE s.sq * 2 > t.tq)
        |ORDER BY s_name""".stripMargin),
    Query("q18_large_orders", (s, d) => q18LargeOrders(s, d),
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |SELECT c_name, c_custkey, o_orderkey, o_totalprice,
        |       CAST(sq AS DOUBLE) AS sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin),
    Query("q19_disjunctive", (s, d) => q19Disjunctive(s, d),
      """SELECT CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 20 AND l_quantity BETWEEN 10 AND 30)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 21 AND 30 AND l_quantity BETWEEN 20 AND 40)""".stripMargin),
    Query("q21_waiting_suppliers", (s, d) => q21WaitingSuppliers(s, d),
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND n_name = 'NATION_3'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin),
    // q9 adaptation: supply cost is 0.5 * p_retailprice (no partsupp
    // in the testdata); the double expression is written in the same
    // left-associated order as the Spark column so the IEEE sequence
    // matches before the DECIMAL(18,4) cast. The literals are cast to
    // DOUBLE explicitly — bare 1.0/0.5 parse as DECIMAL(2,1) in DuckDB
    // and only become double today via promotion against the all-DOUBLE
    // testdata columns; a future DECIMAL-typed testdata generation
    // would silently flip the whole expression to decimal arithmetic
    // while Spark's lit(1.0)/lit(0.5) stay double.
    Query("q9_profit", (s, d) => q9Profit(s, d),
      """SELECT n_name AS nation,
        |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(CAST(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) -
        |                     CAST(0.5 AS DOUBLE) * p_retailprice * l_quantity
        |                     AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin),
    Query("q22_dormant_rich", (s, d) => q22DormantRich(s, d),
      """WITH ab AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg_bal FROM ab)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin))
}
