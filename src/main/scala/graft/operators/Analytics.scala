package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Analytic surface extensions: outer joins, moment-based statistics,
  * date arithmetic, range-frame windows, conditional aggregation,
  * string-function breadth, edit-distance similarity, and token
  * frequency distribution.
  *
  * Statistics policy: corr/covariance/stddev are derived from the five
  * raw moments (n, Σx, Σy, Σx², Σy², Σxy) accumulated as exact
  * DECIMALs, then combined with one fixed sequence of IEEE double ops.
  * Spark's built-in `corr`/`stddev_samp` use a streaming co-moment
  * merge whose result depends on partition merge order — fine
  * statistically, but a determinism bug at 1000 executors and
  * un-checkable against another engine. Moment sums are mergeable
  * (map-side combine works), so this is also the right 100 TB shape.
  */
object Analytics {

  private def decSum(c: Column, scale: Int): Column =
    sum(c.cast(s"decimal(28,$scale)")).cast("double")

  /** FULL OUTER join: nations' high-balance customer presence vs
    * high-balance supplier presence — thresholds chosen so each side
    * is missing some nations (the unmatched-row semantics being
    * exercised). Both sides pre-aggregate to ≤25 rows before the join,
    * so the outer join itself is trivially broadcastable.
    */
  def fullOuterNationActivity(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 9800.0)
      .groupBy(col("c_nationkey").cast("long").as("ck"))
      .agg(count(lit(1)).as("n_rich_cust"))
    val s = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") > 5000.0)
      .groupBy(col("s_nationkey").cast("long").as("sk"))
      .agg(count(lit(1)).as("n_rich_supp"))
    c.join(s, col("ck") === col("sk"), "full_outer")
      .select(
        coalesce(col("ck"), col("sk")).as("nationkey"),
        coalesce(col("n_rich_cust"), lit(0L)).as("n_rich_cust"),
        coalesce(col("n_rich_supp"), lit(0L)).as("n_rich_supp"))
      .orderBy(col("nationkey"))
  }

  /** Per-group statistics from exact decimal moments: correlation,
    * sample covariance, sample stddevs, and the exact median, of
    * (l_quantity, l_extendedprice) by return flag. One scan, one
    * map-side-combined aggregate (plus the median's sort-based agg).
    */
  def statsLineitem(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        decSum(x, 2).as("sx"),
        decSum(y, 2).as("sy"),
        decSum(x * x, 4).as("sxx"),
        decSum(y * y, 4).as("syy"),
        decSum(x * y, 4).as("sxy"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"))
      .select(
        col("l_returnflag"),
        col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("corr_qty_price"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * (col("n") - 1)), 4).as("covar_qty_price"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))), 6).as("stddev_qty"),
        col("median_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** Average-rank tables for one or more value streams in ONE shuffle
    * chain. Input is (kind, v) rows — `kind` tags which stream a value
    * belongs to, so ranking two columns (rank_corr's rx and ry) costs
    * one distinct-agg + one range exchange + one window pass over the
    * union instead of running the whole chain twice. Output is
    * (kind, v, cnt, r2) where r2 = TWICE the tie-averaged rank WITHIN
    * its kind — always an integer (avg rank is k or k+0.5), which
    * keeps every downstream moment exact — and cnt is the value's
    * multiplicity, kept so callers can derive their total row count
    * (sum of cnt within a kind) from this table's cached blocks
    * instead of paying another scan of the fact table.
    *
    * Ranks come from a two-phase distributed prefix sum over the
    * DISTINCT-(kind, value) table (the Pipeline.packSequences
    * pattern): bucket each value by EXPLICIT per-kind quantile splits
    * (strictly-smaller split count, so equal values always share a
    * bucket), per-bucket counts, prefix the per-(kind, bucket)
    * partials (a window over #buckets rows — the only serial step),
    * finish within buckets. No global single-reducer sort anywhere,
    * which is what a naive rank() window would do.
    *
    * The explicit-splits bucketing replaced an earlier
    * repartitionByRange + spark_partition_id formulation on two
    * counts. Determinism under recomputation: the range exchange
    * picks bounds by SAMPLING its child, so a partition recomputed
    * after block loss could land rows in different pids than the
    * offsets were computed from — silent rank corruption on a real
    * cluster, which the old code held off with lineage-truncating
    * localCheckpoints (fail loudly instead). Here the splits are a
    * tiny per-kind aggregate broadcast once, bucket assignment is a
    * pure function of (v, splits), and every stage recomputes to
    * identical output — persist() below is purely a compute-dedup
    * cut (the distinct table feeds the splits aggregate and the
    * bucketed chain; the lazy-localCheckpoint version also measured
    * 2-4x slower under the bench's unpersist cycling). Rank
    * correctness never depends on WHICH splits come back (any
    * bucketing yields the same prefix sums), so approx-percentile
    * merge-order wobble across cluster shapes cannot change results.
    *
    * Input contract: callers must drop null values first (a null key
    * ranks as its own group here, but an `===` join back in a caller
    * would drop it silently — see rankCorr's pairwise-complete
    * filter). NaN keys RANK CORRECTLY as the greatest value — Spark's
    * comparison is a total order with NaN last, the bucket expression
    * replicates it (ArrayCountLess: a NaN probe counts the whole
    * splits array, landing in the top bucket where orderBy(v) also
    * sorts NaN last — bucket-monotone), and the join back compares
    * NaN = NaN as true under the same total order. Statistics callers
    * still drop NaN (a rank for "not a number" is not a meaningful
    * observation), but that is the caller's statistical choice, not a
    * machinery limitation.
    */
  private def avgRank2Kinds(vals: DataFrame): DataFrame = {
    val dist = vals.groupBy(col("kind"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    // one split per target partition: scales with the session's
    // shuffle parallelism, so a 100 TB run with 10k partitions gets
    // 10k-way bucket balance from the same code path
    val nB = math.max(2,
      vals.sparkSession.sessionState.conf.numShufflePartitions)
    val probs = (1 until nB).map(i => i.toDouble / nB).mkString(",")
    val splits = dist.groupBy(col("kind"))
      .agg(expr(s"percentile_approx(v, array($probs), 1000)").as("splits"))
    // codegen binary search, not `size(filter(splits, s -> s < v))`:
    // the HOF is interpreted and O(nB) per distinct value, and nB
    // tracks shuffle parallelism — at 10k cluster partitions that is
    // 10k lambda evals per row vs 14 compiled comparisons here (same
    // result on the contract inputs; see ArrayCountLess's scaladoc,
    // including the null-key equivalence argument)
    val bucketed = dist.join(broadcast(splits), Seq("kind"))
      .withColumn("bucket",
        graft.plans.ArrayCountLess(col("splits"), col("v")))
      .drop("splits")
    val wOff = Window.partitionBy(col("kind")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy(col("kind"), col("bucket"))
      .agg(sum(col("cnt")).as("part_sum"))
      .withColumn("offset",
        coalesce(sum(col("part_sum")).over(wOff), lit(0L)))
      .select(col("kind"), col("bucket"), col("offset"))
    val wIn = Window.partitionBy(col("kind"), col("bucket")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offsets), Seq("kind", "bucket"))
      .withColumn("cum_smaller",
        col("offset") + coalesce(sum(col("cnt")).over(wIn), lit(0L)))
      .select(col("kind"), col("v"), col("cnt"),
        (col("cum_smaller") * 2 + col("cnt") + 1).as("r2"))
  }


  /** Spearman rank correlation (tie-averaged) between quantity and
    * extended price, with the Pearson coefficient alongside — the
    * monotone-vs-linear association pair an analyst reads together.
    * Spearman = Pearson over average ranks; ranks are doubled so all
    * moments accumulate as exact DECIMAL integers (see the statistics
    * policy above — Spearman is scale-invariant, so the doubling
    * cancels), and CENTERED before squaring: the tie-averaged rank sum
    * is exactly n(n+1)/2, so cx = 2*avgrank - (n+1) is an integer with
    * an exactly-zero sum, the cross moments ARE the covariances (no
    * n*Sxy - Sx*Sy cancellation), and their magnitude stays under n^3
    * — inside DECIMAL(38,0) to ~4.6e12 rows, where the uncentered
    * n*Sxy form overflows at ~2e9. The rank join keys on the value
    * itself; distinct-value tables are far smaller than the fact table
    * and AQE broadcasts them when they fit.
    */
  def rankCorr(spark: SparkSession, dir: String): DataFrame = {
    // Pairwise-complete observations: a null OR NaN in either coordinate
    // drops the ROW before ranking (the standard Spearman treatment).
    // The null leg is load-bearing, not just hygiene — avgRank2Kinds
    // would rank a NULL key as its own group, but the `===` join back
    // would silently drop those rows AFTER nRow counted them, breaking
    // the sum(cx) = 0 centering invariant the exact-moment derivation
    // relies on. The NaN leg is a statistical choice: the machinery
    // would rank NaN consistently as the greatest value (see the
    // avgRank2Kinds contract), but a rank for "not a number" is not a
    // meaningful observation for a correlation. lineitem's columns are
    // non-null and non-NaN, so this is a no-op here; it makes the
    // generic-input contract hold instead of assumed.
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_quantity").isNotNull &&
        col("l_extendedprice").isNotNull &&
        !isnan(col("l_quantity")) && !isnan(col("l_extendedprice")))
    // both coordinates ranked in ONE pass over a (kind, value) stream —
    // one distinct-agg/bucket/window chain instead of two. The
    // stream comes from a single fact scan via explode (2 rows out per
    // row in), where the previous unionAll of two projections planned
    // as TWO scans each paying its own ingest exchange — branches of a
    // union cannot share a subtree. Both columns are double, so the
    // struct battery is type-exact and the join-back equality below is
    // the same comparison as before. The persist cut: the ranked
    // table feeds the rx/ry filters AND the row-count aggregate, and
    // without it the whole chain re-executes per consumer.
    val ranked = avgRank2Kinds(
        li.select(explode(array(
            struct(lit(0).as("kind"), col("l_quantity").as("v")),
            struct(lit(1).as("kind"), col("l_extendedprice").as("v"))))
          .as("kv"))
          .select(col("kv.kind").as("kind"), col("kv.v").as("v")))
      .persist()
    val rx = ranked.filter(col("kind") === 0)
      .select(col("v").as("rx2_v"), col("r2").as("rx2"))
    val ry = ranked.filter(col("kind") === 1)
      .select(col("v").as("ry2_v"), col("r2").as("ry2"))
    // n = total (non-null-pair) rows = the multiplicity sum within
    // either kind — read from the persisted rank table instead of
    // a third scan over the fact table
    val nRow = ranked.filter(col("kind") === 0)
      .agg(sum(col("cnt")).as("nr"))
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    // The ry side is ~one row per distinct price (~|fact| on this
    // column): a shuffled HASH join builds on the rank table and
    // streams the fact — no sort on either side, where the default
    // SMJ sorts both 600k-row inputs. SHUFFLE_HASH is the right call
    // whenever one side's per-partition build fits executor memory,
    // which a (value, rank) pair table does at any corpus size with
    // sane partition counts. rx (tiny) broadcasts via AQE as before.
    val joined = li
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      .join(rx, col("x") === col("rx2_v"))
      .join(ry.hint("SHUFFLE_HASH"), col("y") === col("ry2_v"))
      .crossJoin(broadcast(nRow))
      .select(col("x"), col("y"),
        (col("rx2") - col("nr") - 1).as("cx"),
        (col("ry2") - col("nr") - 1).as("cy"))
    val s = joined.agg(
      count(lit(1)).as("n"),
      sum(d38(col("cx")) * d38(col("cx"))).as("sxx"),
      sum(d38(col("cy")) * d38(col("cy"))).as("syy"),
      sum(d38(col("cx")) * d38(col("cy"))).as("sxy"),
      decSum(col("x"), 2).as("px"),
      decSum(col("y"), 2).as("py"),
      decSum(col("x") * col("x"), 4).as("pxx"),
      decSum(col("y") * col("y"), 4).as("pyy"),
      decSum(col("x") * col("y"), 4).as("pxy"))
    s.select(
      col("n"),
      round(col("sxy").cast("double") /
        (sqrt(col("sxx").cast("double")) * sqrt(col("syy").cast("double"))),
        6).as("spearman_qty_price"),
      round((col("n") * col("pxy") - col("px") * col("py")) /
        (sqrt(col("n") * col("pxx") - col("px") * col("px")) *
          sqrt(col("n") * col("pyy") - col("py") * col("py"))), 6)
        .as("pearson_qty_price"))
  }

  /** Date arithmetic: order→ship latency in days, aggregated by order
    * month. The join shuffles on the order key; day differences are
    * exact integers so every aggregate is engine-exact.
    */
  def orderShipLatency(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("lat_days",
        datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")).cast("long"))
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mon"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("lat_days")).as("total_days"),
        (sum(col("lat_days")).cast("double") / count(lit(1)))
          .as("avg_days"),
        min(col("lat_days")).as("min_days"),
        max(col("lat_days")).as("max_days"))
      .orderBy(col("yr"), col("mon"))

  /** RANGE-frame window: per-supplier trailing-7-day shipped quantity.
    * The frame is value-based (day number), not row-based — peers on
    * the same day aggregate identically regardless of row order, so
    * the result is deterministic without a unique tiebreaker.
    */
  def rolling7dQty(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("day"))
      .rangeBetween(-6, 0)
    Tables.lineitem(spark, dir)
      .filter(col("l_suppkey") <= 10)
      .withColumn("day",
        datediff(col("l_shipdate").cast("date"),
          lit("1970-01-01").cast("date")).cast("long"))
      .withColumn("qty_7d",
        sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("day"), col("qty_7d"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Conditional aggregation (count_if / filtered aggregates): balance
    * health per nation in one pass — no self-joins, no second scan.
    */
  def conditionalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_cust"),
        count_if(col("c_acctbal") < 0.0).as("n_negative"),
        count_if(col("c_acctbal") > 7000.0).as("n_high"),
        round(count_if(col("c_acctbal") < 0.0).cast("double") /
          count(lit(1)), 6).as("share_negative"),
        decSum(when(col("c_acctbal") > 0.0, col("c_acctbal"))
          .otherwise(0.0), 2).as("sum_positive"))
      .orderBy(col("n_name"))

  /** String-function breadth over `part`: padding, translation,
    * reversal, concatenation, casing, substring — all codegen'd
    * built-ins, checked byte-for-byte against DuckDB.
    */
  def stringKit(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(
        col("p_partkey"),
        concat_ws("-", col("p_brand"),
          lpad(col("p_size").cast("string"), 2, "0")).as("brand_size"),
        translate(col("p_type"), " ", "_").as("type_key"),
        reverse(col("p_name")).as("name_rev"),
        upper(substring(col("p_name"), 1, 5)).as("name_head"),
        length(col("p_name")).cast("long").as("name_len"))
      .orderBy(col("p_partkey"))

  /** Edit-distance similarity join over the FULL part table:
    * near-identical part names within a brand. Two-level exact
    * blocking keeps the pair space sub-quadratic:
    *
    *  1. brand equality (the inverted-index principle: never compare
    *     across blocks that cannot match), and
    *  2. a LENGTH BAND folded into the equi-key — edit distance >=
    *     |len(a) - len(b)|, so a pair at distance <= d must sit within
    *     d of each other in length. With bucket width 2d+1, the
    *     interval [len-d, len+d] spans at most two consecutive
    *     buckets, and its two ENDPOINT buckets are exactly those — so
    *     one side emits <= 2 probe buckets (array_distinct'd: a pair
    *     can never match twice) and the other keeps its single home
    *     bucket. Within-block pairs then face the cheap |len1-len2|
    *     residual before the O(len^2) levenshtein, which itself gets
    *     the threshold argument (early-abort DP, returns -1 past d).
    *
    * Scale: levenshtein calls grow with the distinct-name-pair
    * candidate space (length-banded), and the expansion joins are
    * output-sized — no input cap needed (the round-5 version
    * hard-capped p_partkey <= 1000 and still generated all
    * within-brand ROW pairs, which on this name distribution meant
    * 7.7M distance calls at sf0.1 where 2k suffice).
    *
    * The result is the pair MULTISET, deliberately NOT globally
    * sorted: the output is quadratic in catalog size (51M rows at
    * sf1), and a trailing orderBy range-shuffles and sorts all of it
    * for presentation only — measured at sf1 as ~60% of the whole
    * query (sorted 123-151 s vs unsorted 45-61 s, 3 runs each). Both
    * correctness gates (the DuckDB oracle digest and the determinism
    * matrix) compare order-independently, and the multiset itself is
    * deterministic. Callers who need a total order pay for it
    * explicitly at their own scale.
    */
  def levenshteinPairs(spark: SparkSession, dir: String,
      maxDist: Int = 3): DataFrame = {
    val bw = 2 * maxDist + 1
    val parts = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_name"))
    // Edit distance is a function of the VALUE pair, so compute it on
    // the distinct-name domain and expand by equi-join — never once
    // per row pair. This is decisive whenever names repeat (here: 64
    // distinct names across 20k rows at sf0.1 — 2k distance calls vs
    // the 7.7M the row-pair join was measured doing, 11.2s -> ~1s),
    // and never worse: the distinct table is <= the input. The same
    // value-domain move as avgRank2Kinds's distinct-value ranking.
    val names = parts.select(col("p_name")).distinct()
      .withColumn("len", length(col("p_name")))
    val a = names.select(col("p_name").as("name_1"),
      col("len").as("len_1"),
      explode(array_distinct(array(
        floor((col("len") - maxDist) / bw),
        floor((col("len") + maxDist) / bw)))).as("lb"))
    val b = names.select(col("p_name").as("name_2"),
      col("len").as("len_2"), floor(col("len") / bw).as("lb"))
    // ORDERED name pairs (including name_1 == name_2): the expansion
    // below orders row pairs by partkey, so a row pair's (name_1,
    // name_2) can arrive in either name order and both must resolve
    val matched = a.join(b, Seq("lb"))
      .filter(abs(col("len_1") - col("len_2")) <= maxDist)
      .withColumn("edit_dist",
        levenshtein(col("name_1"), col("name_2"), maxDist).cast("long"))
      .filter(col("edit_dist") >= 0)
      .select(col("name_1"), col("name_2"), col("edit_dist"))
    // expansion: output-sized equi-joins (AQE broadcasts `matched`
    // when the matched-name-pair table is small; at high name
    // cardinality it shuffles — both are the right plan at their size)
    parts
      .select(col("p_partkey").as("partkey_1"), col("p_brand"),
        col("p_name").as("name_1"))
      .join(matched, Seq("name_1"))
      .join(parts.select(col("p_partkey").as("partkey_2"), col("p_brand"),
        col("p_name").as("name_2")), Seq("p_brand", "name_2"))
      .filter(col("partkey_1") < col("partkey_2"))
      .select(col("partkey_1"), col("partkey_2"), col("p_brand"),
        col("edit_dist"))
  }

  /** Array aggregation + array-function surface: each customer's
    * distinct order priorities as a sorted array, probed with
    * size/contains/element_at. The array itself leaves the query as a
    * canonical joined string — the repo's hash-safety rule for
    * oracle-checked outputs (QueriesSpec) keeps nested types out of
    * the compare surface.
    */
  def arrayAggOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sort_array(collect_set(col("o_orderpriority"))).as("prios"))
      .select(
        col("o_custkey"),
        array_join(col("prios"), ",").as("prios_csv"),
        size(col("prios")).cast("long").as("n_prios"),
        array_contains(col("prios"), "1-URGENT").as("has_urgent"),
        element_at(col("prios"), 1).as("first_prio"))
      .orderBy(col("o_custkey"))

  /** Map construction + explosion round-trip: per-status counts packed
    * into a map<priority, n> and exploded back to rows. The map is
    * engine-internal (never written out — map key order is not a
    * stable contract); the exploded relation is the checkable surface.
    */
  def mapRoundtrip(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("o_orderstatus"))
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("o_orderpriority"), col("n")))))
        .as("m"))
      .select(col("o_orderstatus"),
        explode(col("m")).as(Seq("priority", "n_orders")))
      .orderBy(col("o_orderstatus"), col("priority"))

  /** Regexp group extraction: pull the numeric id out of the source
    * tag and roll up by it.
    */
  def sourceIds(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(regexp_extract(col("source"), "src([0-9]+)", 1)
        .cast("long").as("source_id"))
      .groupBy(col("source_id"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source_id"))

  /** Batch upsert (MERGE): apply an update set to a snapshot — rows
    * present in the updates replace base rows by key, everything else
    * carries over. Expressed as left-anti + unionByName, the standard
    * Spark batch merge; at 100 TB both sides would be bucketed on the
    * key so the anti-join co-locates, or the table format's native
    * MERGE would take over. The updated price is an exact double add —
    * no cross-engine rounding surface.
    */
  def upsertSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val base = orders
      .filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val updates = orders
      .filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"))
    base
      .join(updates, Seq("o_orderkey"), "left_anti")
      .unionByName(updates)
      .orderBy(col("o_orderkey"))
  }

  /** Deterministic content-hash sampling: a ~10% systematic sample
    * keyed on the md5 of the text, NOT a seeded RNG — the same rows
    * are selected on any cluster, any partitioning, any engine (the
    * property that makes sampled pipelines reproducible and lets a
    * sample be joined back to its population later).
    */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(
        conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long")
          % 100 < 10)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Stratified deterministic sampling — the data-MIXING operator: each
    * language keeps a different content-hash fraction (downsample the
    * over-represented stratum, keep the rare ones whole). Same
    * md5-derived coin as hashSample, so membership is a pure function
    * of content: reproducible across runs, partitionings, and engines,
    * and stable under corpus growth (a doc's fate never changes when
    * neighbors arrive — a property random sampling lacks).
    */
  def stratifiedSample(spark: SparkSession, dir: String,
      rates: Map[String, Int] = Map("en" -> 10, "de" -> 50),
      defaultRate: Int = 100): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, r).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .filter(
        conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long")
          % 100 < rate)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** Per-stratum QUOTA sampling: exactly k docs per language, chosen
    * by content-hash order — the fixed-budget companion to
    * stratifiedSample's rates (build an eval slice of k docs per
    * language, reproducibly). The (md5, doc_id) ranking makes the
    * choice a pure function of content: stable across runs,
    * partitionings, and engines (doc_id breaks ties between duplicate
    * texts, which share an md5; null ordering is pinned NULLS LAST in
    * both engines).
    *
    * Two-phase top-k: phase 1 takes k per (lang, deterministic salt),
    * so no task ever sorts more than its salted slice; phase 2 ranks
    * only the <= 32k survivors per language. Top-k distributes over
    * partitions, so the final pick is EXACTLY the single-window
    * answer — without funneling a whole stratum through one sort task.
    */
  def quotaSample(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val byHash = Seq(md5(col("text")).asc_nulls_last, col("doc_id").asc)
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("salt")).orderBy(byHash: _*)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(byHash: _*)
    Tables.documents(spark, dir)
      .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(32)).cast("int"))
      .withColumn("lrn", row_number().over(w1))
      .filter(col("lrn") <= k)
      .withColumn("pick", row_number().over(w2))
      .filter(col("pick") <= k)
      .select(col("lang"), col("pick"), col("doc_id"))
      .orderBy(col("lang"), col("pick"))
  }

  /** Weight-proportional sampling without replacement (Efraimidis-
    * Spirakis A-ES), deterministic: each doc draws its "uniform" from
    * the md5 of its content — u = (first 8 hex digits + 0.5) / 2^32 —
    * and is ranked by the exponential-jump key -ln(u)/weight; the k
    * smallest keys are the sample. P(doc in sample) is proportional to
    * its token count (for k << N), which is exactly the
    * token-budget-weighted corpus subsample a training run draws.
    *
    * Same reproducibility contract as hashSample/quotaSample: the draw
    * is a pure function of content, so the sample is identical on any
    * cluster, partitioning, or engine. The k-smallest select compiles
    * to TakeOrderedAndProject — each partition keeps its local k, the
    * driver merges k-sized heaps; nothing global is sorted.
    */
  def weightedSample(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    val u = (conv(substring(md5(col("text")), 1, 8), 16, 10)
      .cast("double") + 0.5d) / lit(4294967296.0d)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        u.as("u"))
      .filter(col("n_tokens") > 0)
      .withColumn("es_key", -log(col("u")) / col("n_tokens"))
      .orderBy(col("es_key"), col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_tokens"),
        round(col("es_key"), 9).as("es_key"))
  }

  /** Interleave the low 16 bits of `c` into the even bit positions of
    * a 32-bit value (the magic-number bit-spread, 4 shift/mask steps).
    */
  private def spreadBits16(c: Column): Column =
    Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L),
      (1, 0x55555555L))
      .foldLeft(c) { case (acc, (s, mask)) =>
        acc.bitwiseOR(shiftleft(acc, s)).bitwiseAND(lit(mask))
      }

  /** The raw Morton interleave of two small non-negative longs. */
  def zorderValue(x: Column, y: Column): Column =
    spreadBits16(pmod(x, lit(65536L)))
      .bitwiseOR(shiftleft(spreadBits16(pmod(y, lit(65536L))), 1))

  /** Attach a RANK-NORMALIZED Morton key `z` for (x, y): each column
    * is first mapped to a 256-way equi-depth bucket via its
    * distributed average rank (see avgRank2Kinds — no global sort), then
    * the two 8-bit bucket ids are bit-interleaved. Interleaving RAW
    * values would let the wider-range column's high bits dominate the
    * key and leave the narrow column unclustered (orderkey spans 13
    * bits where partkey spans 8 at sf0.001 — measured: raw interleave
    * gives partkey per-file spans ~= the global span); rank bucketing
    * gives both dimensions exactly 8 bits of the key, which is what
    * production ZORDER implementations do (range-partition ids, not
    * raw values). Bucket = floor((r2-1)*256 / 2n) — exact integer
    * inputs, IEEE-exact division at integer quotients.
    */
  def zorderRanked(rows: DataFrame, x: Column, y: Column): DataFrame = {
    // both dimensions ranked in one (kind, value) stream from a SINGLE
    // scan via explode — see rankCorr (a unionAll of two projections
    // plans as two scans). array() coerces the two struct element
    // types to their wider common type exactly as the union did, so
    // mixed numeric key types keep working (spec-gated) and the
    // null-safe join-back below is equality-stable under the widening
    // (the shipped callers pass two longs).
    val ranked = avgRank2Kinds(
        rows.select(explode(array(
            struct(lit(0).as("kind"), x.as("v")),
            struct(lit(1).as("kind"), y.as("v")))).as("kv"))
          .select(col("kv.kind").as("kind"), col("kv.v").as("v")))
      .persist()
    val rx = ranked.filter(col("kind") === 0)
      .select(col("v").as("zrx2_v"), col("r2").as("zrx2"))
    val ry = ranked.filter(col("kind") === 1)
      .select(col("v").as("zry2_v"), col("r2").as("zry2"))
    // row count from the persisted rank table (cnt sums to the row
    // count within a kind) — not another pass over `rows`
    val nRow = ranked.filter(col("kind") === 0)
      .agg(sum(col("cnt")).as("znr"))
    def bucket(r2: Column) =
      floor((r2 - 1) * 256 / (col("znr") * 2)).cast("long")
    // null-SAFE joins: a NULL key column forms its own rank group in
    // avgRank2Kinds (groupBy keeps null keys) and must keep its row here —
    // an equi-join would silently DROP null-keyed rows from a layout
    // write built on this helper (data loss, not a keying artifact)
    rows
      .join(rx, x <=> col("zrx2_v"))
      .join(ry, y <=> col("zry2_v"))
      .crossJoin(broadcast(nRow))
      .withColumn("z",
        spreadBits16(bucket(col("zrx2")))
          .bitwiseOR(shiftleft(spreadBits16(bucket(col("zry2"))), 1)))
      .drop("zrx2_v", "zrx2", "zry2_v", "zry2", "znr")
  }

  /** Z-order (Morton) layout keys over (orderkey, partkey) — the
    * multi-dimensional clustering primitive behind OPTIMIZE ZORDER:
    * interleaving the two keys' bits gives ONE sort order under which
    * a range predicate on EITHER column maps to a small number of
    * contiguous z-ranges, so min/max file statistics skip data for
    * both access paths at once (a plain sort on orderkey gives perfect
    * skipping on orderkey and none on partkey). Emits the first k rows
    * of the z-ordered layout; the at-scale write is
    * repartitionByRange(z) + sortWithinPartitions(z) into parquet,
    * where this exact key drives the file-level clustering (asserted
    * on real parquet files in EdgeCasesSpec).
    *
    * The key is rank-normalized (see zorderRanked) — the bucketing
    * joins are the rank_corr machinery; the interleave itself is 4
    * shift/mask steps per column inside whole-stage codegen, and the
    * top-k is a TakeOrdered. Deterministic: integer-only ops, ties
    * broken on the key pair.
    */
  def zorderKey(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").cast("long").as("orderkey"),
        col("l_partkey").cast("long").as("partkey"))
    zorderRanked(li, col("orderkey"), col("partkey"))
      .orderBy(col("z"), col("orderkey"), col("partkey"))
      .limit(k)
  }

  /** Correlated scalar subquery through the SQL front-end: Catalyst
    * decorrelates it into an outer-joined aggregate — proof the engine
    * runs subquery SQL as set-oriented plans, never a per-row loop.
    * Customers with no orders surface as NULL (the scalar-subquery
    * contract), which the oracle reproduces.
    */
  def corrSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_corr_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_corr_orders")
    spark.sql(
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM graft_corr_orders
        |   WHERE o_custkey = c_custkey) AS max_price
        |FROM graft_corr_customer
        |WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin)
  }

  /** SQL front-end breadth in one statement: CTE + correlated EXISTS
    * (rewritten to a semi join) + GROUP BY/HAVING. The same text runs
    * unchanged on DuckDB modulo view names.
    */
  def sqlCteHaving(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("graft_cte_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("graft_cte_orders")
    Tables.nation(spark, dir).createOrReplaceTempView("graft_cte_nation")
    spark.sql(
      """WITH active AS (
        |  SELECT c_custkey, c_nationkey FROM graft_cte_customer
        |  WHERE EXISTS (SELECT 1 FROM graft_cte_orders
        |                WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT'))
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_active
        |FROM active JOIN graft_cte_nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |HAVING count(*) * 25 > (SELECT count(*) FROM active)
        |ORDER BY n_name""".stripMargin)
  }

  /** Null-handling semantics in one aggregate: count(*) vs count(col),
    * distinct over a nullable column, null-skipping max, and a null
    * predicate count — the SQL null contract, checked cross-engine.
    */
  def nullSemantics(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderstatus").as("status"),
        expr("nullif(o_orderpriority, '3-MEDIUM')").as("p"))
      .groupBy(col("status"))
      .agg(
        count(lit(1)).as("n_all"),
        count(col("p")).as("n_nonnull"),
        countDistinct(col("p")).as("n_distinct_p"),
        max(col("p")).as("max_p"),
        count_if(col("p").isNull).as("n_null"))
      .orderBy(col("status"))

  /** Token frequency distribution (Zipf profile): bucket words by the
    * digit count of their corpus frequency. The bucket key is the
    * DIGIT COUNT (string length of the integer), not log10 — exact in
    * any engine, no floating-point edge at powers of ten.
    */
  def zipfBuckets(spark: SparkSession, dir: String): DataFrame =
    TextOps.explodedWords(Tables.documents(spark, dir), col("doc_id"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .groupBy(length(col("n").cast("string")).cast("long").as("digits"))
      .agg(
        count(lit(1)).as("n_words"),
        min(col("n")).as("min_freq"),
        max(col("n")).as("max_freq"))
      .orderBy(col("digits"))

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("zorder_key", (s, d) => zorderKey(s, d),
      """WITH li AS (
        |  SELECT CAST(l_orderkey AS BIGINT) AS orderkey,
        |         CAST(l_partkey AS BIGINT) AS partkey
        |  FROM lineitem),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS nr FROM li),
        |r AS (
        |  SELECT orderkey, partkey,
        |    CAST(2 * RANK() OVER (ORDER BY orderkey)
        |         + COUNT(*) OVER (PARTITION BY orderkey) - 1 AS BIGINT) AS rx2,
        |    CAST(2 * RANK() OVER (ORDER BY partkey)
        |         + COUNT(*) OVER (PARTITION BY partkey) - 1 AS BIGINT) AS ry2
        |  FROM li),
        |b AS (
        |  SELECT orderkey, partkey,
        |    CAST(floor((rx2 - 1) * 256 / (nr * 2)) AS BIGINT) AS x,
        |    CAST(floor((ry2 - 1) * 256 / (nr * 2)) AS BIGINT) AS y
        |  FROM r CROSS JOIN nr),
        |s1 AS (SELECT orderkey, partkey,
        |         ((x | (x << 8)) & 16711935) AS xs,
        |         ((y | (y << 8)) & 16711935) AS ys FROM b),
        |s2 AS (SELECT orderkey, partkey,
        |         ((xs | (xs << 4)) & 252645135) AS xs,
        |         ((ys | (ys << 4)) & 252645135) AS ys FROM s1),
        |s3 AS (SELECT orderkey, partkey,
        |         ((xs | (xs << 2)) & 858993459) AS xs,
        |         ((ys | (ys << 2)) & 858993459) AS ys FROM s2),
        |s4 AS (SELECT orderkey, partkey,
        |         ((xs | (xs << 1)) & 1431655765) AS xs,
        |         ((ys | (ys << 1)) & 1431655765) AS ys FROM s3)
        |SELECT orderkey, partkey, (xs | (ys << 1)) AS z
        |FROM s4 ORDER BY z, orderkey, partkey LIMIT 100""".stripMargin),
    Query("full_outer_nations", (s, d) => fullOuterNationActivity(s, d),
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS ck, CAST(count(*) AS BIGINT) AS n_rich_cust
        |           FROM customer WHERE c_acctbal > 9800.0 GROUP BY 1),
        |     s AS (SELECT CAST(s_nationkey AS BIGINT) AS sk, CAST(count(*) AS BIGINT) AS n_rich_supp
        |           FROM supplier WHERE s_acctbal > 5000.0 GROUP BY 1)
        |SELECT coalesce(ck, sk) AS nationkey,
        |       coalesce(n_rich_cust, 0) AS n_rich_cust,
        |       coalesce(n_rich_supp, 0) AS n_rich_supp
        |FROM c FULL OUTER JOIN s ON ck = sk
        |ORDER BY nationkey""".stripMargin),
    Query("stats_lineitem", (s, d) => statsLineitem(s, d),
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity*l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
        |    round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6) AS corr_qty_price,
        |  round((n*sxy - sx*sy) / (n*(n-1)), 4) AS covar_qty_price,
        |  round(sqrt((n*sxx - sx*sx) / (n*(n-1))), 6) AS stddev_qty,
        |  median_qty
        |FROM m ORDER BY l_returnflag""".stripMargin),
    Query("order_ship_latency", (s, d) => orderShipLatency(s, d),
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |       CAST(month(o_orderdate) AS BIGINT) AS mon,
        |       CAST(count(*) AS BIGINT) AS n_lines,
        |       CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS BIGINT) AS total_days,
        |       CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS DOUBLE) / count(*) AS avg_days,
        |       CAST(min(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS BIGINT) AS min_days,
        |       CAST(max(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS BIGINT) AS max_days
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY yr, mon""".stripMargin),
    Query("rolling_7d_qty", (s, d) => rolling7dQty(s, d),
      """WITH t AS (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity,
        |         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS day
        |  FROM lineitem WHERE l_suppkey <= 10)
        |SELECT l_suppkey, l_orderkey, l_linenumber, CAST(day AS BIGINT) AS day,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS qty_7d
        |FROM t ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin),
    Query("conditional_agg", (s, d) => conditionalAgg(s, d),
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(count(*) FILTER (WHERE c_acctbal < 0.0) AS BIGINT) AS n_negative,
        |  CAST(count(*) FILTER (WHERE c_acctbal > 7000.0) AS BIGINT) AS n_high,
        |  round(CAST(count(*) FILTER (WHERE c_acctbal < 0.0) AS DOUBLE) / count(*), 6) AS share_negative,
        |  CAST(sum(CAST(CASE WHEN c_acctbal > 0.0 THEN c_acctbal ELSE 0.0 END AS DECIMAL(28,2))) AS DOUBLE) AS sum_positive
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Query("string_kit", (s, d) => stringKit(s, d),
      """SELECT p_partkey,
        |  concat_ws('-', p_brand, lpad(CAST(p_size AS VARCHAR), 2, '0')) AS brand_size,
        |  translate(p_type, ' ', '_') AS type_key,
        |  reverse(p_name) AS name_rev,
        |  upper(substr(p_name, 1, 5)) AS name_head,
        |  CAST(length(p_name) AS BIGINT) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin),
    // no ORDER BY: the Spark side deliberately returns the (quadratic
    // -sized) pair multiset unsorted — see levenshteinPairs' Scaladoc;
    // the compare is order-independent on both sides
    Query("levenshtein_pairs", (s, d) => levenshteinPairs(s, d),
      """SELECT a.p_partkey AS partkey_1, b.p_partkey AS partkey_2, a.p_brand,
        |       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
        |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 3""".stripMargin),
    Query("zipf_buckets", (s, d) => zipfBuckets(s, d),
      """WITH toks AS (
        |  SELECT lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents),
        |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM toks WHERE length(word) > 0 GROUP BY word)
        |SELECT CAST(length(CAST(n AS VARCHAR)) AS BIGINT) AS digits,
        |       CAST(count(*) AS BIGINT) AS n_words,
        |       CAST(min(n) AS BIGINT) AS min_freq, CAST(max(n) AS BIGINT) AS max_freq
        |FROM wc GROUP BY 1 ORDER BY digits""".stripMargin),
    Query("array_agg_orders", (s, d) => arrayAggOrders(s, d),
      """SELECT o_custkey,
        |  array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS prios_csv,
        |  CAST(len(list_distinct(list(o_orderpriority))) AS BIGINT) AS n_prios,
        |  list_contains(list(o_orderpriority), '1-URGENT') AS has_urgent,
        |  list_sort(list_distinct(list(o_orderpriority)))[1] AS first_prio
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    Query("map_roundtrip", (s, d) => mapRoundtrip(s, d),
      """SELECT o_orderstatus, o_orderpriority AS priority,
        |       CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, priority""".stripMargin),
    Query("source_ids", (s, d) => sourceIds(s, d),
      """SELECT CAST(regexp_extract(source, 'src([0-9]+)', 1) AS BIGINT) AS source_id,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY source_id""".stripMargin),
    Query("upsert_snapshot", (s, d) => upsertSnapshot(s, d),
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 0),
        |upd AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT * FROM (
        |  SELECT b.* FROM base b WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT * FROM upd)
        |ORDER BY o_orderkey""".stripMargin),
    Query("hash_sample", (s, d) => hashSample(s, d),
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 100 < 10
        |ORDER BY doc_id""".stripMargin),
    Query("stratified_sample", (s, d) => stratifiedSample(s, d),
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_kept
        |FROM documents
        |WHERE CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 100 <
        |      CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50 ELSE 100 END
        |GROUP BY lang ORDER BY lang""".stripMargin),
    Query("quota_sample", (s, d) => quotaSample(s, d),
      """SELECT lang, pick, doc_id FROM (
        |  SELECT lang, doc_id,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(text) NULLS LAST, doc_id) AS INTEGER) AS pick
        |  FROM documents)
        |WHERE pick <= 5 ORDER BY lang, pick""".stripMargin),
    Query("corr_subquery", (s, d) => corrSubquery(s, d),
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_price
        |FROM customer
        |WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin),
    Query("null_semantics", (s, d) => nullSemantics(s, d),
      """SELECT o_orderstatus AS status,
        |  CAST(count(*) AS BIGINT) AS n_all,
        |  CAST(count(nullif(o_orderpriority, '3-MEDIUM')) AS BIGINT) AS n_nonnull,
        |  CAST(count(DISTINCT nullif(o_orderpriority, '3-MEDIUM')) AS BIGINT) AS n_distinct_p,
        |  max(nullif(o_orderpriority, '3-MEDIUM')) AS max_p,
        |  CAST(count(*) FILTER (WHERE nullif(o_orderpriority, '3-MEDIUM') IS NULL) AS BIGINT) AS n_null
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin),
    Query("sql_cte_having", (s, d) => sqlCteHaving(s, d),
      """WITH active AS (
        |  SELECT c_custkey, c_nationkey FROM customer
        |  WHERE EXISTS (SELECT 1 FROM orders
        |                WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT'))
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_active
        |FROM active JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |HAVING count(*) * 25 > (SELECT count(*) FROM active)
        |ORDER BY n_name""".stripMargin),
    Query("rank_corr", (s, d) => rankCorr(s, d),
      """WITH nr AS (SELECT CAST(count(*) AS BIGINT) AS nr FROM lineitem),
        |r AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y,
        |    CAST(2 * RANK() OVER (ORDER BY l_quantity)
        |         + COUNT(*) OVER (PARTITION BY l_quantity) - 1 AS BIGINT) - nr - 1 AS cx,
        |    CAST(2 * RANK() OVER (ORDER BY l_extendedprice)
        |         + COUNT(*) OVER (PARTITION BY l_extendedprice) - 1 AS BIGINT) - nr - 1 AS cy
        |  FROM lineitem CROSS JOIN nr),
        |s AS (SELECT
        |  CAST(count(*) AS BIGINT) AS n,
        |  sum(CAST(cx AS DECIMAL(38,0)) * CAST(cx AS DECIMAL(38,0))) AS sxx,
        |  sum(CAST(cy AS DECIMAL(38,0)) * CAST(cy AS DECIMAL(38,0))) AS syy,
        |  sum(CAST(cx AS DECIMAL(38,0)) * CAST(cy AS DECIMAL(38,0))) AS sxy,
        |  CAST(sum(CAST(x AS DECIMAL(28,2))) AS DOUBLE) AS px,
        |  CAST(sum(CAST(y AS DECIMAL(28,2))) AS DOUBLE) AS py,
        |  CAST(sum(CAST(x * x AS DECIMAL(28,4))) AS DOUBLE) AS pxx,
        |  CAST(sum(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS pyy,
        |  CAST(sum(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE) AS pxy
        |  FROM r)
        |SELECT n,
        |  round(CAST(sxy AS DOUBLE) /
        |    (sqrt(CAST(sxx AS DOUBLE)) * sqrt(CAST(syy AS DOUBLE))), 6) AS spearman_qty_price,
        |  round((n * pxy - px * py) /
        |    (sqrt(n * pxx - px * px) * sqrt(n * pyy - py * py)), 6) AS pearson_qty_price
        |FROM s""".stripMargin),
    Query("weighted_sample", (s, d) => weightedSample(s, d),
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '[ \t\n]+'), x -> length(x) > 0)) AS BIGINT) AS n_tokens,
        |    (CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) + 0.5) / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id, n_tokens, round(-ln(u) / n_tokens, 9) AS es_key
        |FROM t WHERE n_tokens > 0
        |ORDER BY -ln(u) / n_tokens, doc_id
        |LIMIT 20""".stripMargin))
}
