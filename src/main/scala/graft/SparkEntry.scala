package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables
import graft.functions.TextOps

/** Driver contract (SURVEY.md §7).
  *
  * The registry is one list, [[registry]]: each operator family
  * declares its own `queries: Seq[Query]` (name, builder, DuckDB oracle
  * SQL) beside its code, and `queries` / `oracleSql` are views over it.
  * Every query is deterministic (explicit total ORDER BY and
  * exact-decimal aggregation — see Relational's numeric policy) and its
  * oracle has matching column names/types.
  */
object SparkEntry {

  /** Flagship query (the reference's entire computation, SURVEY §2.1) on
    * sf0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    InvertedIndex.ordered(
      Tables.documents(spark, "/root/testdata/sf0.001"))

  /** Fixed export path for oracle-support tables (see oracleAux). */
  val OracleAuxDir: String = Query.OracleAuxDir

  /** Oracle-support tables: Spark-computed inputs that oracle SQL reads
    * back via read_parquet(OracleAuxDir). Exists for exactly one
    * reason: DuckDB cannot recompute xxhash64, so ops keyed on it
    * (simhash) would otherwise be stuck rows-only. The hash values
    * cross engines as data; everything DOWNSTREAM of the hash (bit
    * votes, fingerprint pack, hamming blocking) is recomputed
    * independently in SQL, which is the part worth oracling.
    */
  def oracleAux: Map[String, (SparkSession, String) => DataFrame] = Map(
    "simhash_words" -> ((s, d) =>
      Dedup.simhashWordTf(Tables.documents(s, d))),
    // The IVF index the ivf_topk/ann_topk queries build — the build is
    // bit-deterministic (spec-gated), so exporting a fresh build here
    // yields byte-identical centroids/assignments to the ones the
    // queries used; the oracle then recomputes probe selection,
    // scoring, and ranking from them independently.
    "ivf_centroids" -> ((s, d) => Ivf.cachedCentroids(s, d, 16, 2)),
    "ivf_cells" -> ((s, d) =>
      Ivf.assign(Tables.embeddings(s, d), Ivf.cachedCentroids(s, d, 16, 2))),
    // The MAINTAINED index of ivf_incremental_topk (delta-updated
    // centroids + merged-corpus assignment): maintenance is
    // bit-deterministic like the build (decimal delta sums + a
    // fixed-order driver fold — IvfIncrementalSpec), so this fresh
    // re-maintenance exports byte-identical tables to the ones the
    // query used; the oracle replays probe/score/rank from them.
    "ivf_incr_centroids" -> ((s, d) =>
      Ivf.incrementalCentroids(s, d, Ivf.syntheticDelta(s, d), 16, 2)),
    "ivf_incr_cells" -> ((s, d) =>
      Ivf.assign(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
          .unionByName(Ivf.syntheticDelta(s, d)),
        Ivf.incrementalCentroids(s, d, Ivf.syntheticDelta(s, d), 16, 2))),
    // cosineNearDupLsh's bucket table; the Hamming-ball probe masks
    // are a literal list in the oracle SQL (nPlanes=4, maxFlips=2)
    "lsh_buckets" -> ((s, d) =>
      Tables.embeddings(s, d).select(col("vec_id"),
        graft.operators.Similarity.lshBucket(col("embedding"), 4)
          .as("bucket"))),
    // Count-min cell map: each distinct word's d=4 grid cells (DuckDB
    // has no MurmurHash3); the oracle rebuilds the whole grid from the
    // token stream and takes the min-estimate independently
    "cms_cells" -> ((s, d) => {
      // pure-expression cell index: pmod(xxhash64(row, word), w) —
      // the CountMinAggregator.cell seeding contract
      def cellE(x: Column, i: Int): Column =
        pmod(xxhash64(lit(i), x), lit(1024L)).cast("int")
      val rows = (0 until 4).map(i =>
        struct(lit(i).as("row_i"), cellE(col("word"), i).as("cell")))
      TextOps.explodedWords(Tables.documents(s, d))
        .select(col("word")).distinct()
        .select(col("word"), explode(array(rows: _*)).as("rc"))
        .select(col("word"), col("rc.row_i").as("row_i"),
          col("rc.cell").as("cell"))
    }),
    // rolling_users_7d's HLL estimates: sketch state is a per-register
    // max, so the estimate is order-independent — the aux re-run is
    // byte-identical to the registry query's column. Day spine and
    // window pairing are NOT exported; the oracle recomputes those.
    "rolling_users_7d_est" -> ((s, d) =>
      EventOps.rollingUsers7d(s, d).select("day", "approx_users_7d")),
    // hll_rollup's merged estimates: same per-register-max argument —
    // HLL union is commutative/idempotent, so the re-run export is
    // byte-identical to the registry query's column no matter how the
    // partials arrive. The oracle recomputes the grouping skeleton
    // (which returnflag groups exist) independently.
    "hll_rollup_est" -> ((s, d) => Relational.hllRollup(s, d)),
    // approx_stats' estimates: the HLL legs are per-register maxes
    // (merge-order independent like hll_rollup). percentile_approx
    // merges QuantileSummaries in partial-arrival order, which is NOT
    // order-independent by construction — the export pattern only
    // needs run-to-run agreement within ONE session (Verify's main
    // dump and this export run back to back), which holds on the
    // deterministic local shuffle (probed: 15 consecutive runs
    // byte-identical at sf0.01 and sf0.1, with the median sitting
    // exactly on a value boundary — the worst case for wobble). If
    // this column ever flakes the mismatch lands here, not in an
    // exact operator.
    "approx_stats_est" -> ((s, d) => Relational.approxStats(s, d)),
    // PQ index artifacts (bit-deterministic build, like IVF): the
    // oracle recomputes the ADC lookup, candidate ranking, and exact
    // re-rank from the exported codebook + codes
    "pq_codebook" -> ((s, d) => Pq.cachedCodebook(s, d, 8, 16, 1)),
    "pq_codes" -> ((s, d) =>
      Pq.assign(Pq.subvectors(Tables.embeddings(s, d), 8, 64),
        Pq.cachedCodebook(s, d, 8, 16, 1))),
    // pq_incremental_topk's MAINTAINED index (delta-updated codebook +
    // merged-corpus codes): maintenance is bit-deterministic
    // (PqIncrementalSpec), so the fresh re-maintenance here is
    // byte-identical to what the query used
    "pq_incr_codebook" -> ((s, d) =>
      Pq.incrementalCodebook(s, d, Ivf.syntheticDelta(s, d), 8, 16, 1)),
    "pq_incr_codes" -> ((s, d) =>
      Pq.assign(
        Pq.subvectors(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
            .unionByName(Ivf.syntheticDelta(s, d)), 8, 64),
        Pq.incrementalCodebook(s, d, Ivf.syntheticDelta(s, d), 8, 16, 1))),
    // Unigram-LM EM: per-round Viterbi segmentations (the per-word DP
    // SQL cannot express). The oracle re-derives every vocabulary from
    // them with validity guards folded into the joins — out-of-vocab
    // pieces, dropped characters, or wrong frequencies break the chain
    // (Unigram's oracle-decomposition Scaladoc); DP optimality itself
    // is UnigramSpec's exhaustive-enumeration bit-equality test.
    "unigram_segs" -> ((s, d) => Unigram.segTable(s, d)),
    // the incremental demo's segmentations (merged word table under the
    // maintained vocabularies): the unigram_incremental oracle replays
    // its census→EM chain from these exactly as unigram_train does
    // from unigram_segs
    "unigram_incr_segs" -> ((s, d) => Unigram.incrSegTable(s, d)))

  /** One-time index build for the ANN/PCA/tokenizer families, with the
    * SAME parameters the registry queries use (ivf_topk/ann_topk/
    * semantic_dedup → Ivf.cachedCentroids(16, 2); knn_graph →
    * (autoCells, 0) and its (16, 0) sibling; pq_topk → (8, 16, 1)).
    * The bench gives each its own timed line — the deployment posture:
    * an index is built offline once and persisted, and query jobs serve
    * from it (the prebuilt-index paths are spec-gated). BPE is
    * deliberately NOT here — it is uncached by design (Bpe.corpusMerges)
    * so BPE-family timings stay self-contained including training.
    *
    * `build` FORCES a fresh build (invalidating its stamped cache — and,
    * for the suffix index, the persisted parquet — first), so a flagged
    * rerun measures the build again rather than a cache hit that would
    * launder a real regression into "noise". `warm` only makes sure the
    * cache is populated (no invalidation): the bench's SPARK_GRAFT_ONLY
    * isolation probe runs it for builds it did not ask for, so isolated
    * queries serve from warm caches like in-suite ones without paying
    * the forced rebuild — a persisted artifact re-serves from disk, a
    * driver-held one builds once lazily, exactly like a fresh serving
    * process would. For the incremental builds the two differ in what
    * they touch, not just in forcing: maintenance is timed whole, while
    * serving needs only the cached occupancy pass.
    */
  final case class IndexBuild(
      name: String,
      build: (SparkSession, String) => Unit,
      warm: (SparkSession, String) => Unit)

  def indexBuilds: Seq[IndexBuild] = Seq(
    IndexBuild("build_ivf_c16_i2",
      (s, d) => {
        Ivf.invalidateCentroids(d, 16, 2)
        Ivf.cachedCentroids(s, d, 16, 2); ()
      },
      (s, d) => { Ivf.cachedCentroids(s, d, 16, 2); () }),
    IndexBuild("build_ivf_c16_i0",
      (s, d) => {
        Ivf.invalidateCentroids(d, 16, 0)
        Ivf.cachedCentroids(s, d, 16, 0); ()
      },
      (s, d) => { Ivf.cachedCentroids(s, d, 16, 0); () }),
    // knn_graph's sqrt(N)-sized cell set
    IndexBuild("build_ivf_auto_i0",
      (s, d) => {
        val cells = Similarity.autoCells(s, d)
        Ivf.invalidateCentroids(d, cells, 0)
        Ivf.cachedCentroids(s, d, cells, 0); ()
      },
      (s, d) => {
        Ivf.cachedCentroids(s, d, Similarity.autoCells(s, d), 0); ()
      }),
    IndexBuild("build_pq_codebook",
      (s, d) => {
        Pq.invalidateCodebook(d, 8, 16, 1)
        Pq.cachedCodebook(s, d, 8, 16, 1); ()
      },
      (s, d) => { Pq.cachedCodebook(s, d, 8, 16, 1); () }),
    // one k=2 fit serves the whole PCA family: cachedPcaFitK hands
    // smaller-k requests the prefix of this build
    IndexBuild("build_pca_fit",
      (s, d) => {
        Vectors.invalidatePcaFit(d, 3, 2)
        Vectors.cachedPcaFitK(s, d, 3, 2); ()
      },
      (s, d) => { Vectors.cachedPcaFitK(s, d, 3, 2); () }),
    // unigram-LM tokenizer fit: trained offline once like the ANN
    // indexes; unigram_seed/train/tokenize and tokenizer_compare's
    // unigram leg all serve from the cached vocabularies. The persisted
    // word table is retired too, so the forced rebuild measures the
    // corpus scan as well (not a disk-served table).
    IndexBuild("build_unigram_vocabs",
      (s, d) => {
        Unigram.invalidateVocabs(d)
        Unigram.invalidateWordFreqs(s, d)
        Unigram.cachedVocabs(s, d); ()
      },
      (s, d) => { Unigram.cachedVocabs(s, d); () }),
    // suffix-rank index: built offline once and PERSISTED (parquet) —
    // suffix_ranks / repeated_spans_sa serve from the on-disk table
    IndexBuild("build_suffix_index",
      (s, d) => {
        SuffixRanks.invalidateIndex(s, d)
        SuffixRanks.cachedRanks(s, d); ()
      },
      (s, d) => { SuffixRanks.cachedRanks(s, d); () }),
    // incremental IVF maintenance: the delta-bounded alternative to
    // build_ivf_c16_i2's full re-seed — timed with its occupancy pass
    // forced fresh (the pass is stamp-cached in steady state, but a
    // flagged rerun must measure the whole maintenance). Depends on
    // the (16,2) centroids built above, like a real maintainer would.
    IndexBuild("build_ivf_incremental",
      (s, d) => {
        Ivf.invalidateCellCounts(d, 16, 2)
        // all maintenance work (assignment aggregate + driver fold) runs
        // eagerly inside; the returned DF is a local relation
        Ivf.incrementalCentroids(s, d, Ivf.syntheticDelta(s, d), 16, 2); ()
      },
      (s, d) => { Ivf.cellCounts(s, d, 16, 2); () }),
    IndexBuild("build_pq_incremental",
      (s, d) => {
        Pq.invalidateCodeCounts(d, 8, 16, 1)
        Pq.incrementalCodebook(s, d, Ivf.syntheticDelta(s, d), 8, 16, 1); ()
      },
      (s, d) => { Pq.codeCounts(s, d, 8, 16, 1); () }),
    // incremental PCA maintenance: one warm iteration from the served
    // fit (built by build_pca_fit above) over the merged corpus — the
    // delta-bounded-iteration alternative to a cold refit. Nothing of
    // the maintenance itself is cached, so reruns measure the work.
    IndexBuild("build_pca_incremental",
      (s, d) => {
        Vectors.incrementalPcaFitK(s, d, Ivf.syntheticDelta(s, d), 3, 1); ()
      },
      (s, d) => { Vectors.cachedPcaFitK(s, d, 3, 2); () }),
    // incremental unigram maintenance: delta census merged into the
    // PERSISTED word table (built by build_unigram_vocabs above —
    // serving from it IS the maintenance) + the census/EM tail; no
    // corpus re-scan. Forced fresh via its own demo cache.
    IndexBuild("build_unigram_incremental",
      (s, d) => {
        Unigram.invalidateIncrVocabs(d)
        Unigram.cachedIncrVocabs(s, d); ()
      },
      (s, d) => { Unigram.cachedIncrVocabs(s, d); () }))

  /** Every registry query, in family order. Adding a query is one
    * `Query` in its family's `queries`; nothing here changes. */
  lazy val registry: Seq[Query] = Seq(
    TextAnalysis.queries, Relational.queries, StarSchema.queries,
    Dedup.queries, Similarity.queries, Ivf.queries, Pq.queries,
    Pipeline.queries, Temporal.queries, Multimodal.queries,
    Lossy.queries, Video.queries, EventOps.queries, Analytics.queries,
    TpcH.queries, SqlKit.queries, TextQuality.queries,
    Boilerplate.queries, QualityClassifier.queries, Dsir.queries,
    Vectors.queries, SuffixRanks.queries, Bpe.queries,
    Unigram.queries).flatten

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap
}
