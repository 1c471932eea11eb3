package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Temporal joins Spark has no built-in operator for: as-of join and
  * bounded range (interval) join. Both are expressed as SCALABLE
  * compositions rather than custom physical nodes:
  *
  *  - As-of join = tagged union + one window pass: right rows are
  *    interleaved with left rows in (key, time) order and the latest
  *    right payload is carried forward (`last_value ignoreNulls`).
  *    ONE shuffle on the key, zero join nodes — at 100 TB this beats
  *    any per-row lookup join and cannot skew worse than the key
  *    distribution itself.
  *  - Range join = time-bucket equi-join: left probes bucket k and
  *    k+1 (bounded 2x fanout), exact interval predicate applied after
  *    the equi-join. Turns an unbounded theta-join into a shuffle join
  *    with constant fanout.
  *
  * Both operate on the RAW nanosecond `ts` longs (not the micro-second
  * TimestampType) so comparisons are exact at source precision — the
  * same ns arithmetic the DuckDB oracle (`ASOF JOIN`, interval
  * predicate) performs.
  */
object Temporal {

  private val NsPerSec = 1000000000L

  /** Raw events with ts as ns-since-epoch long. Ns-long testdata passes
    * through untouched; timestamp testdata (instant or NTZ — the
    * normalizer handles both) converts via unix_micros, exact because
    * the source precision is at most microseconds there.
    */
  private def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    if (e.schema("ts").dataType == org.apache.spark.sql.types.LongType) e
    else Tables.normalizeEventTs(e)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
  }

  /** Generic as-of join: for each left row, the latest right row with
    * rightTime <= leftTime on the same key. Inner semantics (left rows
    * with no preceding right row are dropped).
    *
    * leftCols/rightCols name the payload columns to carry through.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      time: String, leftCols: Seq[String], rightCols: Seq[String])
      : DataFrame = {
    // tag 0 = right, 1 = left: at equal timestamps the right row sorts
    // first, so an exactly-simultaneous right row IS visible (>= match)
    val lPayT = left.select(leftCols.map(col): _*).schema
    val rPayT = right.select(rightCols.map(col): _*).schema
    val l = left.select(
      col(key), col(time).as("t"), lit(1).as("side"),
      struct(leftCols.map(col): _*).as("lpay"),
      lit(null).cast(rPayT).as("rpay"))
    val r = right.select(
      col(key), col(time).as("t"), lit(0).as("side"),
      lit(null).cast(lPayT).as("lpay"),
      struct(rightCols.map(col): _*).as("rpay"))
    // rpay as the final sort key: right rows tied on (t, side) resolve
    // by payload-struct order, so the carried match is deterministic
    // under any partitioning (greatest payload wins the tie; engines
    // with undefined as-of tie semantics may pick differently)
    val w = Window.partitionBy(col(key))
      .orderBy(col("t"), col("side"), col("rpay"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val outCols = Seq(col(key), col("t")) ++
      leftCols.map(c => col(s"lpay.$c").as(c)) ++
      rightCols.map(c => col(s"matched.$c").as(s"r_$c"))
    l.unionByName(r)
      .withColumn("matched", last(col("rpay"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("matched").isNotNull)
      .select(outCols: _*)
  }

  /** Native as-of join via the custom operator (graft.plans.AsOfJoin*):
    * same contract and output shape as [[asofJoin]], executed as a
    * co-partitioned single-pass merge instead of a tagged-union window.
    * Lazily registers the planner strategy on the session (clusters
    * that set `spark.sql.extensions=graft.GraftExtensions` already
    * have it). Null keys are dropped on both sides — the same rows the
    * window formulation can only match to each other, documented here
    * as out of the operator's contract.
    */
  def asofJoinNative(left: DataFrame, right: DataFrame, key: String,
      time: String, leftCols: Seq[String], rightCols: Seq[String],
      forward: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(
        graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    // Integral key/time only: a widening cast from int is lossless,
    // but silently casting timestamps (seconds vs the raw ns the
    // window formulation compares) or decimals/strings (null or
    // truncation AFTER a pre-cast null filter — nulls collapse onto
    // key 0 inside the merge) would change semantics, so reject them.
    def requireIntegral(df: DataFrame, c: String): Unit = {
      val dt = df.schema(c).dataType
      require(dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType,
        s"asofJoinNative needs an integral $c column (raw ns longs, " +
          s"as asofJoin), got $dt")
    }
    Seq(key, time).foreach { c =>
      requireIntegral(left, c); requireIntegral(right, c)
    }
    // fresh aliases on every column: both sides usually derive from the
    // same scan, and reusing the source attributes verbatim would put
    // duplicate ExprIds in the custom node's output. Null keys/times
    // are filtered AFTER the cast so nothing can slip past the guard.
    def prep(df: DataFrame, k: String, t: String, pay: String,
        cols: Seq[String]): DataFrame =
      df.select(col(key).cast("long").as(k), col(time).cast("long").as(t),
        struct(cols.map(col): _*).as(pay))
        .filter(col(k).isNotNull && col(t).isNotNull)
    val l = prep(left, "k", "t", "lpay", leftCols)
    val r = prep(right, "rk", "rt", "rpay", rightCols)
    val joinedPlan = graft.plans.AsOfJoinPlan(
      l.queryExecution.analyzed, r.queryExecution.analyzed, forward)
    org.apache.spark.sql.graft.PlanBridge.ofRows(spark, joinedPlan)
      .select(Seq(col("k").as(key), col("t")) ++
        leftCols.map(c => col(s"lpay.$c").as(c)) ++
        rightCols.map(c => col(s"rpay.$c").as(s"r_$c")): _*)
  }

  /** Shared purchase-asof-click query body, parameterized by the join
    * implementation so the window and native-merge variants cannot
    * drift apart (their bit-equality is spec-asserted).
    */
  private def purchaseAsofClickWith(spark: SparkSession, dir: String)(
      join: (DataFrame, DataFrame, String, String, Seq[String], Seq[String])
        => DataFrame): DataFrame = {
    val ev = rawEvents(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    // one click per (user_id, ts): DuckDB ASOF leaves exact-timestamp
    // ties unspecified — collapsing them keeps both engines aligned
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("value")).as("value"))
    join(purchases, clicks, "user_id", "ts",
      Seq("event_id", "value"), Seq("ts", "value"))
      .select(
        col("event_id"),
        col("user_id"),
        expr(s"t div $NsPerSec").as("purchase_sec"),
        expr(s"r_ts div $NsPerSec").as("click_sec"),
        col("r_value").as("click_value"))
      .orderBy(col("event_id"))
  }

  /** For each purchase event: the user's latest preceding (or
    * simultaneous) click, with its value.
    */
  def purchaseAsofClick(spark: SparkSession, dir: String): DataFrame =
    purchaseAsofClickWith(spark, dir)(asofJoin)

  /** purchaseAsofClick on the native merge operator — same rows, same
    * oracle, different physical plan (AsOfMergeJoinExec).
    */
  def purchaseAsofClickNative(spark: SparkSession, dir: String): DataFrame =
    purchaseAsofClickWith(spark, dir)(asofJoinNative(_, _, _, _, _, _))

  /** Forward as-of join: for each left row, the EARLIEST right row
    * with rightTime >= leftTime on the same key (the time-reversed
    * mirror of asofJoin — "what happened next"). Same plan shape: one
    * tagged union, one window pass over the FOLLOWING frame, zero
    * join nodes. left=0/right=1 tags keep an exactly-simultaneous
    * right row visible; tied right rows resolve by payload order.
    */
  def asofJoinForward(left: DataFrame, right: DataFrame, key: String,
      time: String, leftCols: Seq[String], rightCols: Seq[String])
      : DataFrame = {
    val lPayT = left.select(leftCols.map(col): _*).schema
    val rPayT = right.select(rightCols.map(col): _*).schema
    val l = left.select(
      col(key), col(time).as("t"), lit(0).as("side"),
      struct(leftCols.map(col): _*).as("lpay"),
      lit(null).cast(rPayT).as("rpay"))
    val r = right.select(
      col(key), col(time).as("t"), lit(1).as("side"),
      lit(null).cast(lPayT).as("lpay"),
      struct(rightCols.map(col): _*).as("rpay"))
    val w = Window.partitionBy(col(key))
      .orderBy(col("t"), col("side"), col("rpay"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val outCols = Seq(col(key), col("t")) ++
      leftCols.map(c => col(s"lpay.$c").as(c)) ++
      rightCols.map(c => col(s"matched.$c").as(s"r_$c"))
    l.unionByName(r)
      .withColumn("matched", first(col("rpay"), ignoreNulls = true).over(w))
      .filter(col("side") === 0 && col("matched").isNotNull)
      .select(outCols: _*)
  }

  /** For each error event: the user's next (or simultaneous) purchase —
    * the "did the user recover" question.
    *
    * The right side is pre-aggregated to ONE row per (user_id, ts)
    * (min value): asofJoinForward breaks exact-timestamp ties by
    * payload order, but DuckDB's ASOF JOIN (the oracle) leaves that
    * tie unspecified — collapsing ties before the join makes both
    * engines' pick a function of the data, not of engine internals.
    */
  private def errorNextPurchaseWith(spark: SparkSession, dir: String)(
      join: (DataFrame, DataFrame, String, String, Seq[String], Seq[String])
        => DataFrame): DataFrame = {
    val ev = rawEvents(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("value")).as("value"))
    join(errors, purchases, "user_id", "ts",
      Seq("event_id"), Seq("ts", "value"))
      .select(
        col("event_id"),
        col("user_id"),
        expr(s"t div $NsPerSec").as("error_sec"),
        expr(s"r_ts div $NsPerSec").as("purchase_sec"),
        col("r_value").as("purchase_value"))
      .orderBy(col("event_id"))
  }

  def errorNextPurchase(spark: SparkSession, dir: String): DataFrame =
    errorNextPurchaseWith(spark, dir)(asofJoinForward)

  /** errorNextPurchase on the native merge operator's forward
    * direction — same rows, same oracle, AsOfMergeJoinExec plan.
    */
  def errorNextPurchaseNative(spark: SparkSession, dir: String): DataFrame =
    errorNextPurchaseWith(spark, dir)(
      asofJoinNative(_, _, _, _, _, _, forward = true))

  /** Generic bounded range self/pair join: (a, b) on the same key with
    * b.t in (a.t, a.t + windowNs]. Bucketed equi-join, constant fanout.
    */
  def rangeJoin(a: DataFrame, b: DataFrame, key: String, time: String,
      windowNs: Long): DataFrame = {
    val aB = a
      .withColumn("bucket",
        explode(array(expr(s"$time div ${windowNs}L"),
          expr(s"$time div ${windowNs}L") + 1L)))
    val bB = b.withColumn("bucket", expr(s"$time div ${windowNs}L"))
    aB.as("a")
      .join(bB.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col(s"a.$key") === col(s"b.$key") &&
          col(s"b.$time") > col(s"a.$time") &&
          col(s"b.$time") <= col(s"a.$time") + windowNs)
  }

  /** Errors within 60 minutes after a purchase by the same user. */
  def purchaseThenError(spark: SparkSession, dir: String): DataFrame = {
    val ev = rawEvents(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    rangeJoin(purchases, errors, "user_id", "ts", 3600L * NsPerSec)
      .select(
        col("a.event_id").as("purchase_id"),
        col("b.event_id").as("error_id"),
        col("a.user_id").as("user_id"),
        ((col("b.ts") - col("a.ts")).cast("long") / lit(NsPerSec))
          .cast("long").as("gap_sec"))
      .orderBy(col("purchase_id"), col("error_id"))
  }

  /** Shared by asof_join_forward (window formulation) and
    * asof_join_forward_native (AsOfMergeJoinExec, forward direction).
    */
  private val AsOfForwardOracle: String =
    """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
      |     r AS (SELECT user_id, ts, MIN(value) AS value FROM events
      |           WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT l.event_id, l.user_id,
      |       CAST(epoch_ns(l.ts) // 1000000000 AS BIGINT) AS error_sec,
      |       CAST(epoch_ns(r.ts) // 1000000000 AS BIGINT) AS purchase_sec,
      |       r.value AS purchase_value
      |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
      |ORDER BY event_id""".stripMargin

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("asof_join", (s, d) => purchaseAsofClick(s, d),
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |     r AS (SELECT user_id, ts, MIN(value) AS value FROM events
        |           WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id,
        |       CAST(epoch_ns(l.ts) // 1000000000 AS BIGINT) AS purchase_sec,
        |       CAST(epoch_ns(r.ts) // 1000000000 AS BIGINT) AS click_sec,
        |       r.value AS click_value
        |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY event_id""".stripMargin),
    // identical SQL to asof_join by design: the native merge operator
    // must reproduce the window formulation's rows exactly
    Query("asof_join_native", (s, d) => purchaseAsofClickNative(s, d),
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |     r AS (SELECT user_id, ts, MIN(value) AS value FROM events
        |           WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id,
        |       CAST(epoch_ns(l.ts) // 1000000000 AS BIGINT) AS purchase_sec,
        |       CAST(epoch_ns(r.ts) // 1000000000 AS BIGINT) AS click_sec,
        |       r.value AS click_value
        |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY event_id""".stripMargin),
    Query("asof_join_forward", (s, d) => errorNextPurchase(s, d),
      AsOfForwardOracle),
    // native forward merge: same rows as the window formulation by the
    // AsOfMergeJoinExec direction contract (bit-equality spec'd)
    Query("asof_join_forward_native", (s, d) => errorNextPurchaseNative(s, d),
      AsOfForwardOracle),
    Query("range_join", (s, d) => purchaseThenError(s, d),
      """SELECT a.event_id AS purchase_id, b.event_id AS error_id,
        |       a.user_id AS user_id,
        |       CAST((epoch_ns(b.ts) - epoch_ns(a.ts)) // 1000000000 AS BIGINT) AS gap_sec
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_type = 'purchase' AND b.event_type = 'error'
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
        |ORDER BY purchase_id, error_id""".stripMargin))
}
