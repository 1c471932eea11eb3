package graft

/** Every registered query must run on sf0.001 and produce rows, and the
  * registry's names must be unique across the families that declare them.
  */
class QueriesSpec extends SparkTestBase {

  test("registry names are unique and every NljAllowed name is registered") {
    // the name-keyed views silently keep one of two same-named queries
    val names = SparkEntry.registry.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"registered more than once: $dups")
    // a renamed query would otherwise leave a stale allowlist entry
    val stale = NljAllowed -- names
    assert(stale.isEmpty, s"NljAllowed names no registered query: $stale")
  }

  test("oracle-checked queries emit only hash-safe column types") {
    // the driver compares column-sorted, row-sorted VALUES against
    // DuckDB; raw timestamps (us vs ns), arrays, and floats are the
    // classes that hash-diverge across engines — every oracle query
    // must project them away (epoch seconds, joined strings, doubles)
    import org.apache.spark.sql.types._
    val safe: Set[DataType] =
      Set(StringType, LongType, IntegerType, DoubleType, BooleanType)
    SparkEntry.oracleSql.keySet.toSeq.sorted.foreach { name =>
      val schema = SparkEntry.queries(name)(spark, sf("sf0.001")).schema
      val badCols = schema.fields.filterNot(f => safe.contains(f.dataType))
      assert(badCols.isEmpty,
        s"$name has hash-fragile columns: ${badCols.mkString(", ")}")
    }
  }

  /** Queries whose semantics genuinely need a non-equi join (brute-force
    * scoring against a broadcast side, or a broadcast scalar): a
    * nested-loop join is the intended plan there and nowhere else.
    */
  private val NljAllowed = Set(
    "cosine_near_dup", "cosine_topk", "ann_topk", "ivf_topk",
    "tfidf_top_term",
    // N x nCells scoring against the broadcast 16-row centroid table
    // (the ivf_topk probe shape) — constant fanout, intended
    "knn_graph",
    // 1-row broadcast scalar joins (corpus total / global average):
    // the build side is a single row, so the "nested loop" is one
    // comparison per streamed row — the intended plan
    "doc_entropy", "q22_dormant_rich",
    // the B-row bucket-stats table against the 1-row totals scalar
    "dsir_weights", "dsir_sample",
    // ccnet_buckets composes doc_perplexity's scoring pass and
    // inherits its 1-row vocab scalar join
    "bm25_topk", "pmi_pairs", "data_mix", "doc_perplexity", "ccnet_buckets",
    "tfidf_cosine_pairs", "cms_heavy_hitters", "hard_negatives",
    "rank_corr", "pagerank_neardup", "zorder_key",
    // day-table non-equi window pairing: the build side is the tiny
    // per-day sketch table (cardinality = days), the intended plan
    "rolling_users_7d",
    // the incremental-maintenance demos inherit syntheticDelta's 1-row
    // max(vec_id) broadcast scalar (the q22 shape), and the IVF one
    // also probes the broadcast 16-row centroid panel (the ivf_topk
    // shape) — both intended
    "ivf_incremental_topk", "pq_incremental_topk",
    // TPC-H q11's scalar-subquery HAVING: per-part value against the
    // broadcast 1-row grand total (the q22 shape) — intended
    "q11_important_stock",
    // the learned classifier's per-doc margin joins the broadcast
    // 1-row BIAS scalar (the q22 shape, once per epoch) — intended
    "quality_classifier",
    // one-vs-rest lang-id: the same 1-row bias scalar, once per
    // language model — intended (K bounded by the label space)
    "lang_id_learned")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"query $name runs and returns rows on sf0.001") {
      val df = fn(spark, sf("sf0.001"))
      assert(df.count() > 0, s"$name returned no rows")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product")
      if (!NljAllowed(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unintended nested-loop join")
    }
  }
}
