package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Star-schema runtime-filtering plans — the two mechanisms that decide
  * whether a 100 TB fact scan reads 100 TB or 4 TB:
  *
  *  1. **Dynamic partition pruning** (DPP): the fact copy is laid out
  *     hive-partitioned by the dimension key (`nationkey=<k>/` dirs, the
  *     date/region layout every warehouse fact table ships with); a join
  *     whose dimension side carries a selective filter then prunes fact
  *     PARTITIONS at runtime — Spark plans a `dynamicpruning#` subquery
  *     into the scan's PartitionFilters, reusing the dimension's
  *     broadcast exchange, so only the matching partition directories
  *     are ever listed or read. At 100 TB with 25 nation partitions and
  *     a 5-nation region filter, the scan does 20% of the IO before a
  *     single task runs. (Cf. TPC-DS-style date_dim pruning; Spark's
  *     `PartitionPruning` rule.)
  *
  *  2. **Runtime bloom-filter join** (semi-join reduction): on a
  *     NON-partition join key, the selective dimension side builds a
  *     bloom filter at runtime and the fact side applies
  *     `might_contain(...)` BEFORE the join shuffle — rows that cannot
  *     match are dropped at scan-side, shrinking the shuffle by the
  *     dimension's selectivity (Spark's `InjectRuntimeFilter` rule;
  *     the classic sideways-information-passing / Bloom-join plan).
  *     Correctness never depends on the filter — the join still
  *     verifies every surviving row — so the oracle is the plain join.
  *
  * Both queries are oracle-gated on their RESULTS (plain SQL over the
  * original tables) and plan-gated in `PlanShapeSpec` on the mechanism
  * (`dynamicpruning#` in PartitionFilters; `might_contain` ahead of the
  * shuffle), the [[graft.sources.Bucketing]] convention.
  */
object StarSchema {

  /** Once-per-(process, sfdir) registry of written fact copies — the
    * copy is an immutable function of the source tables, so one write
    * per process serves every subsequent query (Bucketing's idempotent
    * warehouse posture; path is keyed by the sf dir so scale factors
    * never collide).
    */
  private val written =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write (once per process) the nation-partitioned fact copy: orders
    * enriched with the customer's nation key, hive-partitioned by it.
    * At warehouse scale this is the ingest-time layout decision — the
    * fact lands partitioned by the dimension key queries filter on —
    * and 25 nation partitions keep each directory's files in the
    * hundreds-of-MB band at 100 TB (a higher-cardinality key would
    * instead partition by a coarser derived column, e.g. order month).
    */
  def partitionedFactPath(spark: SparkSession, dir: String): String = {
    // Keyed on the CANONICAL absolute source dir plus the resolved
    // warehouse path (r20 advice): distinct dirs that sanitize
    // identically (/data/sf0-1 vs /data/sf0_1) must not collide, and a
    // second session with a different warehouse in the same JVM must
    // not be served the first session's copy. The on-disk name is a
    // hash of that key plus the SOURCE-TABLE STAMP (staleness safety)
    // plus THIS PROCESS's pid: the copy stays once-per-PROCESS exactly
    // as before r21 — the entry's committed floor includes the write,
    // and cross-process reuse would let a bench serve a persisted
    // intermediate it never paid for (the no-precomputation rule; the
    // suffix index is different — its forced-rebuild build_* entry
    // times the build explicitly every run).
    val canon =
      try java.nio.file.Paths.get(dir).toRealPath().toString
      catch { case _: Throwable =>
        java.nio.file.Paths.get(dir).normalize().toAbsolutePath.toString }
    val whDir = new java.io.File(
      new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath)
      .getAbsolutePath
    val stamp = graft.sources.CorpusStamp.of(spark, s"$canon/orders.parquet") +
      31 * graft.sources.CorpusStamp.of(spark, s"$canon/customer.parquet")
    val pid = java.lang.ProcessHandle.current().pid()
    val key = f"$canon|$whDir|$stamp%016x|$pid%d"
    written.computeIfAbsent(key, { _ =>
      // The dir name embeds the owning pid so a retention sweep can
      // tell a concurrent JVM's in-use copy (pid alive — keep) from a
      // finished/crashed one's (pid dead — delete): the per-pid keying
      // otherwise grows the shared warehouse monotonically (r21
      // advice). Swept below, once per process, before this process
      // writes its own copy.
      val tag = f"${CorpusStampHash.fnv(key)}%016x"
      val loc = new org.apache.hadoop.fs.Path(
        new java.io.File(whDir, s"fact_orders_by_nation_${tag}_p$pid")
          .getAbsolutePath)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      sweepDeadCopies(fs, whDir)
      val success = new org.apache.hadoop.fs.Path(loc, "_SUCCESS")
      if (!fs.exists(success)) {
        // attempt dir + atomic promotion (r20 advice): two JVMs sharing
        // a warehouse can both build; each writes a process-unique
        // attempt, first promotion wins, and a committed in-use copy is
        // never overwritten mid-read. The copy is a deterministic
        // function of the source tables, so serving the winner is
        // unobservable.
        val attempt = new org.apache.hadoop.fs.Path(
          loc.toString + s".attempt-${java.util.UUID.randomUUID()}")
        Tables.orders(spark, dir)
          .join(Tables.customer(spark, dir)
              .select(col("c_custkey"), col("c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderpriority"), col("c_nationkey").as("nationkey"))
          .write.partitionBy("nationkey").parquet(attempt.toString)
        graft.sources.AtomicPromote(spark, fs, attempt, loc)
        if (!fs.exists(success)) throw new IllegalStateException(
          s"fact-copy promotion left no committed dir at $loc")
      }
      loc.toString
    })
  }

  /** Pid-suffixed fact-copy dir (or its `.attempt-`/partial leftover):
    * capture group 1 is the owning pid. Pre-r22 dirs (bare 16-hex tag,
    * no `_p` suffix) deliberately do NOT match — their ownership is
    * unknowable, so the sweep leaves them to manual pruning rather
    * than risk deleting a live old-code JVM's copy mid-read. */
  private val SweepableName =
    """fact_orders_by_nation_[0-9a-f]{16}_p(\d+)(?:\..*)?""".r

  /** Delete fact copies owned by DEAD processes (pid parsed from the
    * dir name, liveness via ProcessHandle). A live pid — any live pid,
    * even a reused one — keeps its dirs: the sweep errs toward
    * retention, and a missed dir is just disk until the next sweep.
    * Called once per process before it writes its own copy.
    */
  private[graft] def sweepDeadCopies(
      fs: org.apache.hadoop.fs.FileSystem, whDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(
      new java.io.File(whDir).getAbsolutePath)
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case SweepableName(pidStr) =>
          val dead =
            try !java.lang.ProcessHandle.of(pidStr.toLong)
              .map[java.lang.Boolean](h => h.isAlive)
              .orElse(java.lang.Boolean.FALSE)
          catch { case _: NumberFormatException => false }
          if (dead) fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }

  /** FNV-1a of a string — the stamp-independent piece of the fact-copy
    * directory tag (CorpusStamp's hash is path-content-keyed; this one
    * folds the full cache key).
    */
  private object CorpusStampHash {
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < s.length) {
        h ^= s.charAt(i).toLong
        h *= 0x100000001b3L
        i += 1
      }
      h
    }
  }

  /** Registry: revenue by nation for one region, over the partitioned
    * fact — the canonical DPP star join. The nation dimension filter
    * (`n_regionkey = 1`, 5 of 25 nations) broadcasts; DPP reuses that
    * broadcast as a `dynamicpruning#` PartitionFilter on the fact scan,
    * so 20 of 25 partition directories are never read. Partition-column
    * types match exactly (int vs int) — a cast on the partition side
    * would block the pruning-key extraction.
    */
  def dppStarRevenue(spark: SparkSession, dir: String): DataFrame = {
    val fact = spark.read.parquet(partitionedFactPath(spark, dir))
    val dim = Tables.nation(spark, dir)
      .filter(col("n_regionkey") === 1)
      .select(col("n_nationkey"), col("n_name"))
    fact.join(dim, fact("nationkey") === dim("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("n_name"))
  }

  /** Registry: urgent-order revenue via a runtime BLOOM-filter join on
    * the non-partition key `l_orderkey` — the selective orders side
    * (one priority class) builds the filter, lineitem applies
    * `might_contain` before its shuffle. Injection preconditions are
    * scoped to THIS plan compilation and restored in a finally:
    * broadcast is disabled (the rule only fires on shuffle joins — at
    * 100 TB the filtered orders side is far over any broadcast
    * threshold, so the local[32] conf reproduces the at-scale plan
    * shape, not a different query), and the application-side scan-size
    * floor drops to 0 (its 10 GB default is sized for real clusters;
    * the sf0.01 scan is KBs). The physical plan is forced inside the
    * scope, so the returned DataFrame carries the bloom-filtered plan.
    */
  /** The urgent-order revenue join+agg, before presentation sort. */
  private def urgentRevenueAgg(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Run `body` under the bloom-injection preconditions, restoring
    * every conf (incl. null/unset defaults) on the way out.
    *
    * SINGLE-THREADED ASSUMPTION (r20 advice): this mutates
    * session-global SQL confs for the duration of planning/execution,
    * so any query planned CONCURRENTLY on the same SparkSession would
    * compile under the temporary confs. The Verify/Bench drivers run
    * entries sequentially; if entries ever run in parallel, scope the
    * overrides with a cloned session (`spark.newSession()`) instead.
    */
  private def scopedForBloom[T](spark: SparkSession)(body: => T): T = {
    val scoped = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = scoped.map { case (k, _) =>
      // Option(...) also maps a null default (e.g. the adaptive
      // broadcast threshold's unset state) to "restore by unsetting"
      k -> (try Option(spark.conf.get(k)) catch { case _: Exception => None })
    }
    try {
      scoped.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The bloom-injected PLAN, un-executed — what `PlanShapeSpec`
    * inspects for `might_contain` ahead of the shuffle join.
    */
  private[graft] def bloomJoinPlan(spark: SparkSession,
      dir: String): DataFrame = scopedForBloom(spark) {
    val df = urgentRevenueAgg(spark, dir).orderBy(col("o_orderpriority"))
    df.queryExecution.executedPlan // force planning under the scope
    df
  }

  def bloomJoinRevenue(spark: SparkSession, dir: String): DataFrame =
    // EXECUTE the runtime-filtered join inside the conf scope via an
    // eager localCheckpoint (the mediaNearDup precedent): every
    // downstream consumer (Verify's parquet write, Bench's noop sink)
    // re-plans the DataFrame it is handed in a FRESH QueryExecution,
    // which would silently re-optimize without the bloom subquery once
    // the confs are restored — so the bloom-planned join runs here and
    // hands on its group-count-bounded (tiny at any corpus size)
    // result. The presentation sort composes on the checkpoint.
    scopedForBloom(spark) {
      urgentRevenueAgg(spark, dir).localCheckpoint()
    }.orderBy(col("o_orderpriority"))

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    // star-schema runtime filtering: DPP over the nation-partitioned
    // fact copy; runtime bloom-filter join on the non-partition key.
    // Oracles are the plain joins over the ORIGINAL tables — the fact
    // copy holds the same rows, and the bloom filter never changes a
    // result; the mechanisms are plan-gated in PlanShapeSpec.
    // dpp_star_revenue: the engine reads a nation-partitioned fact COPY
    // (orders x customer.nationkey) so the region filter prunes fact
    // partitions at runtime; the copy holds exactly these rows, so the
    // plain star join over the original tables is the oracle.
    Query("dpp_star_revenue", (s, d) => dppStarRevenue(s, d),
      """SELECT n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 1
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    // bloom_join_revenue: the runtime bloom filter is a pure pruning
    // device — the join verifies every surviving row — so the plain
    // filtered join IS the oracle.
    Query("bloom_join_revenue", (s, d) => bloomJoinRevenue(s, d),
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))
}
