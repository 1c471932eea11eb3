package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Event-stream analytics over the batch `events` table: time bucketing,
  * lag-gap sessionization, JSON property extraction.
  *
  * Timestamp policy: `events.ts` is nanosecond-precision parquet; Spark
  * reads it at microsecond TimestampType while DuckDB keeps ns. Every
  * query therefore compares on second-truncated epoch values — exact in
  * both engines — never raw sub-second timestamps.
  *
  * Scale notes: sessionization is a single window function over
  * (user_id) — one shuffle, state bounded per user; hourly rollups are
  * plain hash aggregates. Streaming variants of these (watermarked
  * windows, mapGroupsWithState) live in `graft.streaming`.
  */
object EventOps {

  private def epochSec(c: org.apache.spark.sql.Column) =
    unix_timestamp(date_trunc("second", c))

  /** Tumbling 1-hour windows per event type: count + exact sum. */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour_start"), col("event_type"))

  /** Lag-gap sessionization: a session breaks after a 30-minute silence.
    * Emits per-user session stats. Deterministic: window order carries
    * event_id as tiebreaker.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val events = Tables.events(spark, dir)
      .withColumn("sec", epochSec(col("ts")))
      .withColumn("prev_sec", lag(col("sec"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_sec").isNull || col("sec") - col("prev_sec") > 1800, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    events
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (max(col("sec")) - min(col("sec"))).as("duration_sec"))
      .groupBy(col("user_id"))
      .agg(
        max(col("session_id")).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        max(col("duration_sec")).as("longest_session_sec"))
      .orderBy(col("user_id"))
  }

  /** JSON property extraction (`props` is a JSON string): bucket by the
    * integer property `k`, aggregate values.
    */
  def jsonPropRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("k_bucket", floor(col("k") / 10).cast("long"))
      .groupBy(col("k_bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy(col("k_bucket"))

  /** Markov-style transition counts: (previous event_type -> current)
    * per user via lag, aggregated corpus-wide.
    */
  def typeTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  /** Event-type funnel counts with share-of-total.
    *
    * Share-of-total needs the grand total next to every group row.
    * A global window would single-partition with a WindowExec warning,
    * and a broadcast-total self-join would re-scan `events` (Spark
    * cannot reuse a subtree across self-join branches). Instead the
    * tiny per-type aggregate (cardinality = #event types, an enum) is
    * collapsed to ONE row, the total computed with an array fold, and
    * the rows exploded back — one scan, one extra 5-element shuffle.
    */
  def typeFunnel(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .agg(collect_list(struct(col("event_type"), col("n"))).as("rows"))
      .select(col("rows"),
        expr("aggregate(rows, 0L, (a, x) -> a + x.n)").as("total"))
      .select(explode(col("rows")).as("r"), col("total"))
      .select(col("r.event_type").as("event_type"), col("r.n").as("n"),
        round(col("r.n").cast("double") / col("total").cast("double"), 6)
          .as("share"))
      .orderBy(col("event_type"))

  /** Rolling 7-day distinct users per day — the DAU/WAU-style reach
    * metric, computed the only way that survives scale: exact distinct
    * over a sliding window re-scans the window per day (7x the events,
    * and countDistinct cannot ride a window frame), so instead each
    * day aggregates ONE mergeable HLL sketch of its users (map-side
    * combined over the event scan) and the rolling union touches 7
    * fixed-size sketches per output day. The estimate is deterministic
    * for a fixed input multiset (sketch update/union are
    * order-independent — same contract as hll_rollup).
    *
    * The day-window pairing is a non-equi join over the DAY table
    * (cardinality = days, not events) — broadcast nested loop over a
    * tiny build side by construction, never over the event stream.
    * Days with no preceding 6 days report their shorter window
    * (n_days says how many merged).
    */
  def rollingUsers7d(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        col("user_id"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .localCheckpoint(eager = false)
    val windows = daily.select(col("day").as("wday"))
    daily
      .join(broadcast(windows),
        col("day").between(col("wday") - 6, col("wday")))
      .groupBy(col("wday"))
      .agg(hll_union_agg(col("sk")).as("wsk"), count(lit(1)).as("n_days"))
      .select(col("wday").as("day"),
        hll_sketch_estimate(col("wsk")).as("approx_users_7d"),
        col("n_days"))
      .orderBy(col("day"))
  }

  /** Weekly cohort retention — the activation/retention matrix every
    * product-analytics stack computes: users are cohorted by the week
    * of their FIRST event, and each (cohort, week-offset) cell counts
    * distinct users active that many weeks later, with the share of
    * the cohort still active.
    *
    * Week bucketing is pure integer epoch-day arithmetic
    * (floor(days / 7)) — deliberately NOT calendar/ISO weeks, whose
    * start-of-week and year-boundary semantics differ across engines.
    * (IEEE note: a long/7 double division is exact whenever the true
    * quotient is an integer, so the floor can never misbucket a
    * boundary day.)
    *
    * Scale shape: first-seen is one per-user aggregate; offsets come
    * from a narrow equi-join back on user_id (AQE-broadcast while the
    * user dimension fits); the cell table is a count-distinct per
    * (cohort, offset) — cardinality cohorts x offsets, tiny — and the
    * cohort-size denominator is a broadcast self-join of that tiny
    * table's offset-0 slice, never a second pass over events.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("eday"))
    val first = ev.groupBy(col("user_id")).agg(min(col("eday")).as("fday"))
    val cells = ev.join(first, "user_id")
      .select(col("user_id"),
        floor(col("fday") / 7).cast("long").as("cohort_week"),
        floor((col("eday") - col("fday")) / 7).cast("long").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val base = cells.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("cohort_size"))
    cells.join(broadcast(base), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        col("cohort_size"),
        round(col("n_users").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("hourly_rollup", (s, d) => hourlyRollup(s, d),
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),
    Query("sessionize", (s, d) => sessionize(s, d),
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
        |    lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts, sec,
        |    CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sessions AS (
        |  SELECT user_id, sec,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |per_session AS (
        |  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |    max(sec) - min(sec) AS duration_sec
        |  FROM sessions GROUP BY user_id, session_id)
        |SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
        |       CAST(sum(n_events) AS BIGINT) AS n_events,
        |       CAST(max(duration_sec) AS BIGINT) AS longest_session_sec
        |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin),
    Query("json_prop_rollup", (s, d) => jsonPropRollup(s, d),
      """SELECT CAST(floor(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) / 10.0) AS BIGINT) AS k_bucket,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin),
    Query("type_funnel", (s, d) => typeFunnel(s, d),
      """WITH agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY event_type)
        |SELECT event_type, n, round(CAST(n AS DOUBLE) / CAST(sum(n) OVER () AS DOUBLE), 6) AS share
        |FROM agg ORDER BY event_type""".stripMargin),
    Query("cohort_retention", (s, d) => cohortRetention(s, d),
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS eday
        |  FROM events),
        |f AS (SELECT user_id, min(eday) AS fday FROM ev GROUP BY user_id),
        |cells AS (
        |  SELECT CAST(floor(fday / 7) AS BIGINT) AS cohort_week,
        |         CAST(floor((eday - fday) / 7) AS BIGINT) AS week_offset,
        |         CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_users
        |  FROM ev JOIN f ON ev.user_id = f.user_id
        |  GROUP BY 1, 2),
        |base AS (SELECT cohort_week, n_users AS cohort_size
        |         FROM cells WHERE week_offset = 0)
        |SELECT c.cohort_week, week_offset, n_users, cohort_size,
        |  round(CAST(n_users AS DOUBLE) / cohort_size, 6) AS retention
        |FROM cells c JOIN base b ON c.cohort_week = b.cohort_week
        |ORDER BY c.cohort_week, week_offset""".stripMargin),
    // rolling_users_7d: the HLL estimate crosses engines as DATA (aux
    // export, same pattern as the ANN indexes); the deterministic part
    // — which days exist, which feed each 7-day window, n_days — is
    // recomputed independently. LEFT JOIN, not INNER: the aux comes
    // from the same Spark function under test, so a day the Spark side
    // dropped would vanish from an inner join in lockstep and go
    // undetected — the left join keeps the independently-derived spine
    // authoritative, surfacing a dropped day as a NULL estimate row
    // the hash compare then catches (extra/mispaired days change the
    // row set either way).
    Query("rolling_users_7d", (s, d) => rollingUsers7d(s, d),
      """WITH days AS (
        |  SELECT DISTINCT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day FROM events),
        |w AS (
        |  SELECT a.day, CAST(count(*) AS BIGINT) AS n_days
        |  FROM days a JOIN days b ON b.day BETWEEN a.day - 6 AND a.day
        |  GROUP BY a.day)
        |SELECT w.day, s.approx_users_7d, w.n_days
        |FROM w LEFT JOIN read_parquet('/tmp/graft_oracle_aux/rolling_users_7d_est/*.parquet') s USING (day)
        |ORDER BY w.day""".stripMargin),
    Query("type_transitions", (s, d) => typeTransitions(s, d),
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE prev_type IS NOT NULL
        |GROUP BY prev_type, event_type ORDER BY prev_type, event_type""".stripMargin))
}
