package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Core relational surface over the TPC-H-ish testdata: scans with
  * pushdown, hash aggregation, joins (broadcast/shuffle/semi/anti),
  * top-k, set ops, rollup/cube, window functions.
  *
  * Numeric policy for oracle parity: every SUM over doubles casts its
  * per-row term to an exact DECIMAL first, then casts the total back to
  * double. Decimal addition is associative, so the result is independent
  * of partitioning/merge order — the same number at local[1], local[32],
  * or 1000 executors — and bit-equal to DuckDB evaluating the same SQL.
  * Raw double sums would drift by summation order at scale, which is a
  * determinism bug, not just an oracle nuisance. Averages are derived as
  * exact-decimal-sum / count (one IEEE division of identical operands).
  *
  * Scale notes: filters sit directly on scan columns (pushed to parquet
  * row-group pruning — verify via PushedFilters in explain); `nation`/
  * `region` are broadcast (dims of 25/5 rows at any SF); the big
  * fact-fact joins (orders x lineitem) hash-shuffle on the join key,
  * which AQE re-plans at runtime for skew.
  */
object Relational {

  private def decSum(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** decSum for totals that can outgrow double precision. The decimal
    * sums themselves are exact in every engine; the FINAL decimal→double
    * cast diverges by 1 ulp across engines once the total has more than
    * ~16 significant digits, because Spark correctly-rounds the full
    * decimal while DuckDB converts the scaled integer and divides — two
    * roundings (first seen at sf1: q1's global scale-6 charge total hit
    * 17 digits and the hash check caught the ulp). Rounding the total to
    * cents first keeps the scaled integer under 2^53 (exact in double)
    * for totals up to ~9e13, i.e. sf ~3000, and both engines convert it
    * identically. Grouped sums elsewhere sit orders of magnitude below
    * the threshold and keep full scale.
    *
    * Oracle parity: the matching DuckDB SQL must use round(total, 2) —
    * a bare CAST(x AS DECIMAL(38,2)) TRUNCATES in DuckDB (1.345→1.34,
    * even 1.0370→1.03) while Spark's decimal cast rounds HALF_UP;
    * round() is half-away-from-zero, which equals HALF_UP for the
    * positive money totals here.
    */
  private def decSumMoney(c: org.apache.spark.sql.Column, scale: Int): org.apache.spark.sql.Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("decimal(38,2)").cast("double")

  /** TPC-H Q1: pricing summary. One scan, one shuffle (partial+final
    * hash agg), 6 groups.
    */
  def q1Pricing(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity"), 2).as("sum_qty"),
        decSum(col("l_extendedprice"), 2).as("sum_base_price"),
        decSumMoney(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("sum_disc_price"),
        decSumMoney(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")), 6).as("sum_charge"),
        (decSum(col("l_quantity"), 2) / count(lit(1))).as("avg_qty"),
        (decSum(col("l_extendedprice"), 2) / count(lit(1))).as("avg_price"),
        (decSum(col("l_discount"), 2) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q3: shipping priority — customer ⋈ orders ⋈ lineitem with
    * selective filters on both sides, top-10 by revenue.
    * Catalyst pushes the segment/date predicates below the joins;
    * orderBy+limit plans as TakeOrderedAndProject (no global sort).
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue"))
      .select(col("l_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("o_orderdate"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-ish: revenue by nation for one region/year — a 6-table
    * join. `nation`/`region` broadcast (constant-size dims); the
    * fact joins shuffle on their keys.
    */
  def q5LocalVolume(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Top-k without a global sort: TakeOrderedAndProject. */
  def topOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  /** Left-semi join: customers that placed at least one high-value order. */
  def semiJoinCustomers(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.orders(spark, dir).filter(col("o_totalprice") > 400000.0)
    Tables.customer(spark, dir)
      .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join: customers with no premium (>450k) order. */
  def antiJoinCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(col("o_totalprice") > 450000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** Broadcast dim join: order counts per nation (customer ⋈bcast nation). */
  def ordersPerNation(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice"), 2).as("total_spend"))
      .orderBy(col("n_name"))

  /** Set ops over compatible projections. */
  def setOpsNations(spark: SparkSession, dir: String): DataFrame = {
    val custNations = Tables.customer(spark, dir)
      .select(col("c_nationkey").cast("long").as("nationkey")).distinct()
    val suppNations = Tables.supplier(spark, dir)
      .select(col("s_nationkey").cast("long").as("nationkey")).distinct()
    val both = custNations.intersect(suppNations)
      .withColumn("which", lit("both"))
    val custOnly = custNations.except(suppNations)
      .withColumn("which", lit("cust_only"))
    val suppOnly = suppNations.except(custNations)
      .withColumn("which", lit("supp_only"))
    both.unionAll(custOnly).unionAll(suppOnly)
      .orderBy(col("which"), col("nationkey"))
  }

  /** Multiset (ALL) set ops: each customer key appears in the result
    * once per order beyond their first — exceptAll keeps duplicates,
    * unlike the distinct-semantics except.
    */
  def extraOrdersMultiset(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey").as("custkey"))
      .exceptAll(Tables.customer(spark, dir)
        .select(col("c_custkey").as("custkey")))
      .groupBy(col("custkey"))
      .agg(count(lit(1)).as("n_extra_orders"))
      .orderBy(col("custkey"))

  /** Distinct over a compound key. */
  def distinctParts(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_brand"), col("p_type")).distinct()
      .orderBy(col("p_brand"), col("p_type"))

  /** ROLLUP: order counts at (status, priority), (status), () levels.
    * Nulls from the rollup are made explicit strings so the grouping
    * level is part of the value (and hashable across engines).
    */
  def rollupOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice"), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  /** CUBE on part attributes. */
  def cubeParts(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .cube(col("p_brand"), col("p_size"))
      .agg(count(lit(1)).as("n"),
        decSum(col("p_retailprice"), 2).as("total_price"))
      .select(
        coalesce(col("p_brand"), lit("ALL")).as("brand"),
        coalesce(col("p_size").cast("string"), lit("ALL")).as("size"),
        col("n"), col("total_price"))
      .orderBy(col("brand"), col("size"))

  /** GROUPING SETS: order totals at three explicit grouping levels in
    * one pass (one shuffle; Spark expands the sets map-side).
    */
  def groupingSetsLineitem(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), decSum(col("l_quantity"), 2).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n"), col("qty"))
      .orderBy(col("returnflag"), col("linestatus"))

  /** Exact interpolated percentiles per group (sort-based aggregate —
    * the one agg here that cannot pre-aggregate map-side; at 100 TB
    * you'd switch to approx_percentile's mergeable sketch and accept
    * the error bound).
    */
  def quantityPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("price_p90"))
      .orderBy(col("l_returnflag"))

  /** Date + math scalar functions: monthly revenue with derived stats. */
  def monthlyRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mon"))
      .agg(
        count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice"), 2).as("revenue"))
      .withColumn("revenue_sqrt", round(sqrt(col("revenue")), 6))
      .withColumn("log_orders", round(log(col("n_orders").cast("double")), 6))
      .orderBy(col("yr"), col("mon"))

  /** Sketch-based approximate aggregates — the mergeable, bounded-state
    * forms of distinct-count and percentile that replace their exact
    * counterparts at 100 TB. No cross-engine oracle (sketch internals
    * differ); the spec bounds the error against exact answers instead.
    */
  def approxStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val hll = li.groupBy(col("l_returnflag"))
      .agg(
        // rsd 0.02 (2^12 registers) — half the sketch bytes of 0.01
        // per partial, same merge shape; the spec's 5% bound holds.
        // HLL merge is a per-register max: commutative, associative,
        // partition-independent — deterministic under any (M, R)
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"))
    // Approximate median via a FIXED-WIDTH HISTOGRAM sketch (bin
    // width 1, estimate = median bin's midpoint). Error bound, scoped
    // precisely: the TRUE median always lies in the reported bin, so
    // the midpoint is within width/2 of it ONLY on integer-dense
    // domains like l_quantity (every unit bin populated); on sparse or
    // real-valued columns the in-bin guarantee is all you get — the
    // midpoint can sit arbitrarily far from the interpolated median.
    // Reusers on such columns need a width chosen for their domain,
    // replacing percentile_approx (r18): merged QuantileSummaries are
    // partial-ARRIVAL-order dependent, and at sf1 the estimate
    // genuinely flipped 25 <-> 26 between cpus=3 and 16 — an
    // approximate aggregate can be imprecise, but this engine's
    // determinism matrix requires it be imprecise the SAME way under
    // any parallelism. Histogram bins are exact integer counts whose
    // merge is pure addition — commutative, deterministic, and the
    // better 100 TB shape anyway (a bounded-domain histogram is a
    // ~50-row aggregate; no sketch compression pathology). The
    // estimate is the smallest bin with 2*cum >= n, reported at the
    // bin midpoint; the oracle replays it exactly in SQL.
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    val med = li
      .select(col("l_returnflag"),
        floor(col("l_quantity")).cast("long").as("bin"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .filter(col("cum") * 2 >= col("n"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("bin")).as("mbin"))
      .select(col("l_returnflag"),
        (col("mbin") + lit(0.5)).as("approx_median_qty"))
    hll.join(med, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("approx_parts"),
        col("approx_orders"), col("approx_median_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Rollup-by-merge over serialized HLL sketches: distinct parts are
    * sketched per (returnflag, linestatus), then the SKETCHES (not the
    * rows) are unioned up to per-returnflag estimates. This is the
    * 100 TB pre-aggregation contract — partial sketches computed where
    * the data lives, merged upward without re-reading anything; the
    * spec asserts the merged estimate is IDENTICAL to sketching the
    * raw rows directly at the coarse level (union is lossless for
    * same-lgK HLL).
    */
  def hllRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      .groupBy(col("l_returnflag"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
        .as("approx_parts_merged"))
      .orderBy(col("l_returnflag"))

  /** Window ranking: top-3 orders per customer by price. The window
    * orderBy carries a unique tiebreaker (o_orderkey) — row_number over
    * a non-total order is nondeterministic under repartitioning.
    */
  def windowTopOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Window running aggregate: cumulative quantity per supplier over
    * ship time (rows-between running frame).
    */
  def windowRunningQty(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .filter(col("l_suppkey") <= 10)
      .withColumn("running_qty",
        sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Ranking-function breadth over one window: quartile, relative rank,
    * cumulative distribution, and the partition's top value — all from
    * a single sort (one window spec, one shuffle).
    */
  def windowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 50)
      .select(
        col("o_orderstatus"),
        col("o_orderkey"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        first(col("o_orderkey")).over(w).as("cheapest_order"))
      .orderBy(col("o_orderstatus"), col("o_orderkey"))
  }

  /** PIVOT: order counts per priority, one column per status. The
    * pivot values are pinned (never inferred from data — inference
    * means a driver-side distinct scan AND a nondeterministic column
    * set at scale).
    */
  def pivotOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"),
        col("F").as("n_f"), col("O").as("n_o"), col("P").as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** Correlated-style aggregate filter: parts priced above their
    * brand's average (windowed avg, then filter).
    */
  def aboveBrandAvgParts(spark: SparkSession, dir: String): DataFrame = {
    val brandAvg = Tables.part(spark, dir)
      .groupBy(col("p_brand"))
      .agg((decSum(col("p_retailprice"), 2) / count(lit(1))).as("brand_avg"))
    Tables.part(spark, dir)
      .join(broadcast(brandAvg), Seq("p_brand"))
      .filter(col("p_retailprice") > col("brand_avg"))
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("q1_pricing", (s, d) => q1Pricing(s, d),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(sum(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q3_shipping_priority", (s, d) => q3ShippingPriority(s, d),
      """SELECT l_orderkey,
        |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate,
        |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    Query("q5_local_volume", (s, d) => q5LocalVolume(s, d),
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
    Query("top_orders", (s, d) => topOrders(s, d),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
    Query("semi_join_customers", (s, d) => semiJoinCustomers(s, d),
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin),
    Query("anti_join_customers", (s, d) => antiJoinCustomers(s, d),
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000.0)
        |ORDER BY c_custkey""".stripMargin),
    Query("orders_per_nation", (s, d) => ordersPerNation(s, d),
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Query("setops_nations", (s, d) => setOpsNations(s, d),
      """WITH cn AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer),
        |     sn AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier)
        |SELECT nationkey, 'both' AS which FROM (SELECT * FROM cn INTERSECT SELECT * FROM sn)
        |UNION ALL
        |SELECT nationkey, 'cust_only' AS which FROM (SELECT * FROM cn EXCEPT SELECT * FROM sn)
        |UNION ALL
        |SELECT nationkey, 'supp_only' AS which FROM (SELECT * FROM sn EXCEPT SELECT * FROM cn)
        |ORDER BY which, nationkey""".stripMargin),
    Query("distinct_parts", (s, d) => distinctParts(s, d),
      """SELECT DISTINCT p_brand, p_type FROM part ORDER BY p_brand, p_type""".stripMargin),
    Query("rollup_orders", (s, d) => rollupOrders(s, d),
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin),
    Query("cube_parts", (s, d) => cubeParts(s, d),
      """SELECT coalesce(p_brand, 'ALL') AS brand,
        |       coalesce(CAST(p_size AS VARCHAR), 'ALL') AS size,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM part GROUP BY CUBE(p_brand, p_size)
        |ORDER BY brand, size""".stripMargin),
    Query("grouping_sets", (s, d) => groupingSetsLineitem(s, d),
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |       coalesce(l_linestatus, 'ALL') AS linestatus,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY returnflag, linestatus""".stripMargin),
    Query("percentiles", (s, d) => quantityPercentiles(s, d),
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.25), 4) AS p25,
        |       round(quantile_cont(l_quantity, 0.5), 4) AS p50,
        |       round(quantile_cont(l_quantity, 0.75), 4) AS p75,
        |       round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("monthly_revenue", (s, d) => monthlyRevenue(s, d),
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(month(o_orderdate) AS BIGINT) AS mon,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |       round(sqrt(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)), 6) AS revenue_sqrt,
        |       round(ln(CAST(count(*) AS DOUBLE)), 6) AS log_orders
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mon""".stripMargin),
    Query("window_top_orders", (s, d) => windowTopOrdersPerCustomer(s, d),
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    Query("window_running_qty", (s, d) => windowRunningQty(s, d),
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
        |    OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem WHERE l_suppkey <= 10
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    Query("above_brand_avg", (s, d) => aboveBrandAvgParts(s, d),
      """WITH ba AS (
        |  SELECT p_brand, CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS brand_avg
        |  FROM part GROUP BY p_brand)
        |SELECT p_partkey, part.p_brand, p_retailprice
        |FROM part JOIN ba ON part.p_brand = ba.p_brand
        |WHERE p_retailprice > brand_avg ORDER BY p_partkey""".stripMargin),
    Query("window_analytics", (s, d) => windowAnalytics(s, d),
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume,
        |  first_value(o_orderkey) OVER w AS cheapest_order
        |FROM orders WHERE o_custkey <= 50
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin),
    Query("pivot_orders", (s, d) => pivotOrders(s, d),
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // approx_stats: same skeleton-plus-estimates shape as hll_rollup
    // (see the oracleAux notes for the determinism argument per leg).
    // HLL estimates cross as aux data (estimate-as-data pattern); the
    // histogram median is DETERMINISTIC integer math and replays
    // exactly: smallest unit bin with 2*cum >= n, at the bin midpoint
    Query("approx_stats", (s, d) => approxStats(s, d),
      """WITH h AS (
        |  SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS bin,
        |    count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT l_returnflag, min(bin) + 0.5 AS approx_median_qty
        |  FROM (
        |    SELECT l_returnflag, bin,
        |      sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
        |      sum(c) OVER (PARTITION BY l_returnflag) AS n
        |    FROM h)
        |  WHERE cum * 2 >= n GROUP BY 1)
        |SELECT g.l_returnflag, s.approx_parts, s.approx_orders, m.approx_median_qty
        |FROM (SELECT DISTINCT l_returnflag FROM lineitem) g
        |LEFT JOIN read_parquet('/tmp/graft_oracle_aux/approx_stats_est/*.parquet') s USING (l_returnflag)
        |LEFT JOIN m USING (l_returnflag)
        |ORDER BY g.l_returnflag""".stripMargin),
    // hll_rollup: the deterministic skeleton — which returnflag groups
    // the rollup must produce — comes from DuckDB's own DISTINCT scan;
    // the merged HLL estimate crosses as aux data (per-register max →
    // merge-order independent, byte-stable across re-runs). LEFT JOIN
    // for the same reason as rolling_users_7d: a group the Spark side
    // dropped must surface as a NULL-estimate row, not vanish from an
    // inner join in lockstep.
    Query("hll_rollup", (s, d) => hllRollup(s, d),
      """SELECT g.l_returnflag, s.approx_parts_merged
        |FROM (SELECT DISTINCT l_returnflag FROM lineitem) g
        |LEFT JOIN read_parquet('/tmp/graft_oracle_aux/hll_rollup_est/*.parquet') s USING (l_returnflag)
        |ORDER BY g.l_returnflag""".stripMargin),
    Query("extra_orders_multiset", (s, d) => extraOrdersMultiset(s, d),
      """WITH extra AS (
        |  SELECT o_custkey AS custkey FROM orders
        |  EXCEPT ALL
        |  SELECT c_custkey AS custkey FROM customer)
        |SELECT custkey, CAST(count(*) AS BIGINT) AS n_extra_orders
        |FROM extra GROUP BY custkey ORDER BY custkey""".stripMargin))
}
