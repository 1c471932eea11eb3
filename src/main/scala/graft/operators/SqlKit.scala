package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** SQL-surface breadth operators: unpivot/melt, ordered string
  * aggregation, histogram bucketing, higher-moment + mode statistics,
  * calendar functions, lag/lead defaults, and bitwise aggregates.
  * Each is one narrow query over the testdata with a DuckDB oracle.
  */
object SqlKit {

  /** Wide->long unpivot (melt) of per-priority status counts. The wide
    * side is a pivot; `unpivot` turns the three count columns back
    * into (status, metric, n) rows — the reshape pair every feature
    * pipeline needs. Output long form is ORDER BY total.
    */
  def unpivotOrders(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(when(col("o_orderpriority") === "1-URGENT", 1)).as("n_urgent"),
        count(when(col("o_orderpriority") === "2-HIGH", 1)).as("n_high"),
        count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("n_other"))
    wide.unpivot(
      Array(col("o_orderstatus")),
      Array(col("n_urgent"), col("n_high"), col("n_other")),
      "metric", "n")
      .orderBy(col("o_orderstatus"), col("metric"))
  }

  /** Ordered string aggregation (listagg / string_agg): nations per
    * region as a deterministic CSV. The within-group ORDER BY is the
    * determinism contract; an unordered listagg is not reproducible
    * across partitionings.
    */
  def listaggNations(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_nations"),
        array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations_csv"))
      .orderBy(col("r_name"))

  /** Fixed-width histogram of order totals. The bucket formula is
    * explicit floor arithmetic (not width_bucket) so the oracle
    * computes the identical integer in DuckDB; HistogramSpec pins
    * Spark's built-in width_bucket to this formula.
    */
  def priceHistogram(spark: SparkSession, dir: String,
      lo: Double = 0.0, hi: Double = 500000.0, nBuckets: Int = 10): DataFrame = {
    val step = (hi - lo) / nBuckets
    Tables.orders(spark, dir)
      .withColumn("bucket",
        least(floor((col("o_totalprice") - lo) / step), lit(nBuckets - 1L))
          .cast("long"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      .orderBy(col("bucket"))
  }

  /** Higher-moment statistics (skewness, excess kurtosis) from exact
    * decimal power sums — the merge-order-independent formulation that
    * is bit-reproducible across partitionings AND engines (built-in
    * skewness/kurtosis aggregate IEEE doubles in shuffle order; fine
    * within one engine, not cross-engine) — plus a deterministic mode
    * (smallest most-frequent value).
    */
  def robustStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val modes = li
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("freq"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l_returnflag"))
          .orderBy(col("freq").desc, col("l_quantity"))))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"))
    val q = col("l_quantity")
    val moments = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).cast("double").as("n"),
      sum(q.cast("decimal(28,2)")).cast("double").as("s1"),
      sum((q * q).cast("decimal(28,2)")).cast("double").as("s2"),
      sum((q * q * q).cast("decimal(28,2)")).cast("double").as("s3"),
      sum((q * q * q * q).cast("decimal(28,2)")).cast("double").as("s4"))
    val mean = col("s1") / col("n")
    val m2 = col("s2") / col("n") - mean * mean
    val m3 = col("s3") / col("n") - lit(3.0) * mean * (col("s2") / col("n")) +
      lit(2.0) * mean * mean * mean
    val m4 = col("s4") / col("n") - lit(4.0) * mean * (col("s3") / col("n")) +
      lit(6.0) * mean * mean * (col("s2") / col("n")) -
      lit(3.0) * mean * mean * mean * mean
    moments
      .select(col("l_returnflag"),
        col("n").cast("long").as("n"),
        round(mean, 6).as("mean_qty"),
        round(m3 / pow(m2, 1.5), 6).as("skewness_qty"),
        round(m4 / (m2 * m2) - 3.0, 6).as("kurtosis_qty"))
      .join(modes, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"), col("mean_qty"),
        col("skewness_qty"), col("kurtosis_qty"), col("mode_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Calendar function kit: quarter, ISO week, day-of-week, month end,
    * add_months, epoch-day arithmetic — each pinned to the DuckDB
    * equivalent (dayofweek is normalized to 0=Sunday, both engines'
    * week is ISO).
    */
  def dateKit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") <= 200)
      .select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        quarter(col("o_orderdate")).cast("long").as("qtr"),
        weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
        (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd")
          .as("plus_3m"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("epoch_day"))
      .orderBy(col("o_orderkey"))

  /** Offset window functions with explicit defaults (lag/lead with a
    * fill value instead of NULL), dense_rank, and nth_value over a
    * running frame — per-customer order timelines.
    */
  def windowLagLead(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 30)
      .select(
        col("o_custkey"), col("o_orderkey"),
        col("o_totalprice"),
        lag(col("o_totalprice"), 1, -1.0).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1, -1.0).over(w).as("next_price"),
        dense_rank().over(
          Window.partitionBy(col("o_custkey")).orderBy(col("o_orderpriority")))
          .cast("long").as("prio_rank"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** ANSI-safe casts and division: try_cast yields NULL instead of a
    * runtime error on malformed input, try_divide on a zero divisor —
    * the difference between a 100 TB job dying at hour 9 on one dirty
    * row and a null that downstream aggregation can count.
    */
  def safeCasts(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderkey") <= 200)
      .select(
        col("o_orderkey"),
        expr("try_cast(o_orderstatus AS INT)").as("status_as_int"), // NULL
        expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)")
          .as("prio_digit"),
        round(try_divide(col("o_totalprice"), (col("o_orderkey") % 3)
          .cast("double")), 4).as("per_bucket"))
      .orderBy(col("o_orderkey"))

  /** Calendar-spine densification: generate the complete month series
    * between the data's bounds (sequence + explode — a generator, not
    * a table), left-join the monthly aggregate onto it, and zero-fill
    * the gaps. Months with no orders MUST appear with n_orders = 0 —
    * the property a bare GROUP BY cannot provide. The spine is
    * generated from a 1-row aggregate, so this adds no scan of the
    * fact table.
    */
  def monthSpine(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val spine = orders
      .agg(date_trunc("month", min(col("o_orderdate"))).as("lo"),
        date_trunc("month", max(col("o_orderdate"))).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("INTERVAL 1 MONTH"))).as("m"))
    val rev = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("r"))
    spine.join(rev, Seq("m"), "left")
      .select(date_format(col("m"), "yyyy-MM").as("month"),
        coalesce(col("n"), lit(0L)).as("n_orders"),
        coalesce(col("r"), lit(0.0)).as("revenue"))
      .orderBy(col("month"))
  }

  /** Bitwise aggregates (bit_and / bit_or / bit_xor) over event user
    * ids per type — commutative/associative, so partial aggregation
    * applies like any sum.
    */
  def bitwiseKit(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        expr("bit_and(user_id)").as("and_uid"),
        expr("bit_or(user_id)").as("or_uid"),
        expr("bit_xor(user_id)").as("xor_uid"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("unpivot_orders", (s, d) => unpivotOrders(s, d),
      """WITH wide AS (
        |  SELECT o_orderstatus,
        |    CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
        |    CAST(count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS n_high,
        |    CAST(count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS BIGINT) AS n_other
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, metric, n FROM (
        |  SELECT o_orderstatus, 'n_urgent' AS metric, n_urgent AS n FROM wide
        |  UNION ALL
        |  SELECT o_orderstatus, 'n_high' AS metric, n_high AS n FROM wide
        |  UNION ALL
        |  SELECT o_orderstatus, 'n_other' AS metric, n_other AS n FROM wide)
        |ORDER BY o_orderstatus, metric""".stripMargin),
    Query("listagg_nations", (s, d) => listaggNations(s, d),
      """SELECT r_name, CAST(count(*) AS BIGINT) AS n_nations,
        |       string_agg(n_name, ',' ORDER BY n_name) AS nations_csv
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    Query("price_histogram", (s, d) => priceHistogram(s, d),
      """SELECT least(CAST(floor(o_totalprice / 50000.0) AS BIGINT), 9) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       round(min(o_totalprice), 2) AS min_price,
        |       round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),
    Query("robust_stats", (s, d) => robustStats(s, d),
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(l_quantity*l_quantity*l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS s3,
        |    CAST(sum(CAST(l_quantity*l_quantity*l_quantity*l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS s4
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n, s1 / n AS mean,
        |         s2 / n - (s1/n) * (s1/n) AS m2,
        |         s3 / n - 3.0 * (s1/n) * (s2/n) + 2.0 * (s1/n) * (s1/n) * (s1/n) AS m3,
        |         s4 / n - 4.0 * (s1/n) * (s3/n) + 6.0 * (s1/n) * (s1/n) * (s2/n)
        |           - 3.0 * (s1/n) * (s1/n) * (s1/n) * (s1/n) AS m4
        |  FROM m),
        |modes AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty FROM (
        |    SELECT l_returnflag, l_quantity,
        |           row_number() OVER (PARTITION BY l_returnflag
        |                              ORDER BY count(*) DESC, l_quantity) AS rn
        |    FROM lineitem GROUP BY l_returnflag, l_quantity)
        |  WHERE rn = 1)
        |SELECT d.l_returnflag, CAST(n AS BIGINT) AS n,
        |       round(mean, 6) AS mean_qty,
        |       round(m3 / pow(m2, 1.5), 6) AS skewness_qty,
        |       round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_qty,
        |       mode_qty
        |FROM d JOIN modes ON d.l_returnflag = modes.l_returnflag
        |ORDER BY d.l_returnflag""".stripMargin),
    Query("date_kit", (s, d) => dateKit(s, d),
      """SELECT o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |       CAST(week(o_orderdate) AS BIGINT) AS iso_week,
        |       CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
        |       strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
        |       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3m,
        |       CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS epoch_day
        |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin),
    Query("window_lag_lead", (s, d) => windowLagLead(s, d),
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       lag(o_totalprice, 1, -1.0) OVER w AS prev_price,
        |       lead(o_totalprice, 1, -1.0) OVER w AS next_price,
        |       CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS BIGINT) AS prio_rank,
        |       nth_value(o_orderkey, 2) OVER w AS second_order
        |FROM orders WHERE o_custkey <= 30
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),
    Query("bitwise_kit", (s, d) => bitwiseKit(s, d),
      """SELECT event_type,
        |       CAST(bit_and(user_id) AS BIGINT) AS and_uid,
        |       CAST(bit_or(user_id) AS BIGINT) AS or_uid,
        |       CAST(bit_xor(user_id) AS BIGINT) AS xor_uid,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("month_spine", (s, d) => monthSpine(s, d),
      """WITH b AS (
        |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |         date_trunc('month', max(o_orderdate)) AS hi
        |  FROM orders),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS m FROM b),
        |rev AS (
        |  SELECT date_trunc('month', o_orderdate) AS m,
        |         CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
        |  FROM orders GROUP BY 1)
        |SELECT strftime(spine.m, '%Y-%m') AS month,
        |       coalesce(n, 0) AS n_orders,
        |       coalesce(r, 0.0) AS revenue
        |FROM spine LEFT JOIN rev ON spine.m = rev.m
        |ORDER BY month""".stripMargin),
    Query("safe_casts", (s, d) => safeCasts(s, d),
      """SELECT o_orderkey,
        |       TRY_CAST(o_orderstatus AS INTEGER) AS status_as_int,
        |       TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit,
        |       round(o_totalprice / nullif(CAST(o_orderkey % 3 AS DOUBLE), 0.0), 4) AS per_bucket
        |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin))
}
