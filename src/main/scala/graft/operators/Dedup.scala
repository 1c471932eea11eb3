package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Deduplication operators for LLM training-data pipelines: exact
  * (content hash), layout-blind exact (normalized fingerprint), exact
  * n-gram Jaccard similarity join, MinHash+LSH near-dup (the scale
  * path), and SimHash.
  *
  * Scale notes:
  *  - Exact dedup is one hash + one shuffle on the hash — the only
  *    correct O(n) dedup at 100 TB. md5 is used (not xxhash) so the
  *    DuckDB oracle can recompute keys.
  *  - The exact Jaccard join NEVER cross-joins: candidates are pairs
  *    sharing at least one n-gram (inverted-index join), which is the
  *    PHiDJ-style pruning — pairs sharing nothing have similarity 0 and
  *    are provably below any positive threshold. The DEFAULT exact
  *    path (ngramJaccardPairsPrefix) additionally applies LOSSLESS
  *    prefix filtering: only each doc's rarest grams generate
  *    candidates, so the sum-of-df^2 blowup a corpus-common n-gram
  *    causes in the naive posting self-join (ngramJaccardPairs) never
  *    enters the plan. The naive join keeps an opt-in `maxDocFreq`
  *    cap whose scores are a documented lower bound.
  *  - MinHash+LSH replaces the candidate join's n-gram fanout with
  *    b=32 constant-size band keys per doc: shuffle volume per doc is
  *    O(b), independent of doc length — the 100 TB path. Band
  *    parameters (n=64, r=2, b=32) put the s-curve knee near 0.35, so
  *    pairs at the 0.5 output threshold are caught with
  *    P(miss) = (1-s^2)^32 < 1e-14.
  */
object Dedup {

  // ---------- exact ----------

  /** Per-doc content-hash clustering: every doc gets its cluster key and
    * keeper flag (keeper = min doc_id in the cluster). Output covers all
    * docs so downstream can either drop non-keepers or audit clusters.
    */
  def exactClusters(docs: DataFrame, key: Column): DataFrame = {
    val w = Window.partitionBy(col("content_key"))
    docs
      .withColumn("content_key", key)
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("is_keeper", col("doc_id") === min(col("doc_id")).over(w))
      .select(col("doc_id"), col("content_key"), col("cluster_size"),
        col("is_keeper"))
  }

  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    exactClusters(Tables.documents(spark, dir), md5(col("text")))
      .orderBy(col("doc_id"))

  /** Layout-blind exact dedup: hash of the normalized word stream, so
    * whitespace/punctuation/case variants collapse.
    */
  def fingerprintDedup(spark: SparkSession, dir: String): DataFrame =
    exactClusters(Tables.documents(spark, dir),
      md5(TextOps.normalizedStream(col("text"))))
      .orderBy(col("doc_id"))

  // ---------- exact n-gram Jaccard similarity join ----------

  /** (doc_id, ngram) distinct pairs; the unit of Jaccard similarity.
    *
    * Deliberately NOT `explode(TextOps.wordNgrams(...))`: array
    * higher-order functions are interpreted (CodegenFallback) and cost
    * ~10x on this hot path. Instead: posexplode the raw token split,
    * normalize/filter (all codegen), then window `lead` to stitch
    * consecutive SURVIVING words — token positions keep their order
    * across the empty-word filter, so adjacency semantics are identical
    * to the array formulation (and to the DuckDB oracle).
    *
    * The emitted key `ng` is the 64-bit xxhash of the n-gram string,
    * not the string: every downstream consumer (distinct, size count,
    * inverted-index join, minhash, decontamination) needs only key
    * EQUALITY, and 8-byte keys make each of those shuffles ~3x
    * narrower and the join probes cheap. The string never leaves this
    * method. Caveat, stated rather than hidden: two distinct n-grams
    * colliding in 64 bits would count as one (P ~ m^2/2^65 — under
    * 1e-8 up to ~30M distinct n-grams per corpus; the at-scale
    * mitigation is a 128-bit hash, same plan shape).
    */
  private def docNgrams(docs: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), TextOps.TokenSplitRe))
          .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        TextOps.normalize(col("tok")).as("w0"))
      .filter(length(col("w0")) > 0)
    val leads = (1 until n).map(i => lead(col("w0"), i).over(w).as(s"w$i"))
    words
      .select(col("doc_id") +: col("w0") +: leads: _*)
      .filter(col(s"w${n - 1}").isNotNull)
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", (0 until n).map(i => col(s"w$i")): _*))
          .as("ng"))
      .distinct()
  }

  /** (doc_id, ngs) — each doc's DISTINCT n-gram hash set as one array
    * row. Same extraction as docNgrams, but the dedup happens in a
    * collect_set aggregation that reuses the lead-window's doc_id
    * partitioning — no standalone distinct exchange over the gram
    * table.
    */
  private def docNgramSets(docs: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), TextOps.TokenSplitRe))
          .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        TextOps.normalize(col("tok")).as("w0"))
      .filter(length(col("w0")) > 0)
    val leads = (1 until n).map(i => lead(col("w0"), i).over(w).as(s"w$i"))
    words
      .select(col("doc_id") +: col("w0") +: leads: _*)
      .filter(col(s"w${n - 1}").isNotNull)
      .select(col("doc_id"),
        xxhash64(concat_ws(" ", (0 until n).map(i => col(s"w$i")): _*))
          .as("ng"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("ng")).as("ngs"))
  }

  /** (doc_id, ng, n_ng) — n-gram hashes annotated with their doc's set
    * size via a window (no second aggregation pass over the corpus).
    */
  private[graft] def ngramsWithSize(docs: DataFrame, n: Int): DataFrame =
    docNgrams(docs, n)
      .withColumn("n_ng",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))

  /** Exact Jaccard similarity join on word n-grams: all pairs with
    * jaccard >= threshold, in ONE inverted-index self-join + one
    * aggregation — the join on the shared n-gram both generates the
    * candidate pairs and counts their intersections (pairs sharing
    * nothing have similarity 0 and are provably below any positive
    * threshold, so never cross-join). Set sizes ride along as window
    * columns, so the whole operator evaluates the n-gram extraction
    * exactly twice (the two join sides) — Spark cannot share a subtree
    * across self-join branches.
    *
    * maxDocFreq, when set, drops corpus-common n-grams (df above the
    * cap) from the join — the prefix-filtering skew guard for
    * boilerplate-heavy corpora. It is an EXPLICIT opt-in approximation:
    * dropped n-grams are excluded from intersection counts while set
    * sizes n1/n2 stay exact, so capped scores are a LOWER BOUND on the
    * true Jaccard. The default is uncapped — exact by construction, the
    * same semantics as the DuckDB oracle and the MinHash verification.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxDocFreq: Option[Int] = None): DataFrame = {
    // Materialize the sized n-gram sets once: Spark re-executes a
    // subtree per self-join branch, so without this cut the whole
    // extraction (posexplode + window + distinct + window) runs twice.
    // At 100 TB this is the "write the shingle table, then join it"
    // pattern — the materialization is the same order of bytes the
    // join's shuffle moves anyway, paid once instead of twice.
    val sized = ngramsWithSize(docs, n).localCheckpoint()
    val enriched = maxDocFreq.fold(sized)(cap =>
      sized
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy(col("ng"))))
        .filter(col("df") <= cap))
    val a = enriched.select(col("doc_id").as("doc_id_1"), col("ng"),
      col("n_ng").as("n1"))
    val b = enriched.select(col("doc_id").as("doc_id_2"), col("ng"),
      col("n_ng").as("n2"))
    a.join(b, Seq("ng"))
      .filter(col("doc_id_1") < col("doc_id_2"))
      .groupBy(col("doc_id_1"), col("doc_id_2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id_1"), col("doc_id_2"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  /** Exact n-gram Jaccard join with PREFIX FILTERING (the PPJoin
    * family, Xiao et al., WWW'08): same output as ngramJaccardPairs,
    * but the candidate-generating self-join runs only over each doc's
    * PREFIX — its grams ordered by ascending corpus document frequency
    * (ties on the gram hash), truncated to n_ng - ceil(t * n_ng) + 1.
    *
    * Why that is lossless: J(x,y) >= t implies the overlap is at least
    * ceil(t * |x|), and an overlap of o with any set must touch the
    * first |x| - o + 1 elements of x under ANY fixed global order —
    * so two qualifying docs always share a gram inside both prefixes.
    * A doc-frequency-ascending order makes those prefixes the RARE
    * grams: the df distribution's stop-word head (df in the millions
    * at corpus scale, d^2 join rows per gram in the naive self-join)
    * sorts to the ends of the docs and never enters the join unless a
    * doc consists mostly of boilerplate — in which case its matches
    * are true near-dups and the output itself is that large. This is
    * what makes the EXACT operator survive a 100x scale-up; the
    * uncapped posting self-join (ngramJaccardPairs) is quadratic in
    * the head gram's df regardless of how few pairs qualify.
    *
    * A symmetric length filter (t*n1 <= n2 <= n1/t) prunes candidates
    * before the exact verification, which re-joins only the CANDIDATE
    * pairs against the full gram table to count true intersections —
    * work proportional to candidates x doc size, never df^2.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // One pass builds everything per doc: its grams SORTED by (df, ng)
    // as an array. The array is the verification structure (set
    // intersection per candidate pair — no re-join against the gram
    // table, no aggregation) and its slice is the prefix. Docs are
    // bounded (documents, not whole files), so a per-doc array is
    // executor-safe at any corpus size.
    //
    // Exchange accounting (each is a full pass over the gram table, so
    // they are rationed): per-doc dedup rides the extraction window's
    // doc_id partitioning (collect_set, NO new exchange, unlike
    // docNgrams' standalone distinct); df is a hash aggregate + an
    // aligned join on ng (partial aggregation and no sort, unlike a
    // count-over-window which sorts the whole table); the array
    // rebuild is the one unavoidable shuffle back to doc_id.
    // NOT checkpointed (measured at sf1): the exploded gram table is
    // larger than its own lineage is expensive — materializing it for
    // the df aggregate + join-probe pair ran slightly SLOWER than
    // letting the docNgramSets pass recompute (6.4-8.7 s vs 5.4-6.3 s
    // steady), unlike the narrow combined tables checkpointed in
    // dupSpanCoverage/tfidf/pmi where the saved pass dominates
    val grams = docNgramSets(docs, n)
      .select(col("doc_id"), explode(col("ngs")).as("ng"))
    val dfTab = grams.groupBy(col("ng")).agg(count(lit(1)).as("df"))
    val arrays = grams
      .join(dfTab, Seq("ng"))
      .groupBy(col("doc_id"))
      .agg(transform(
        sort_array(collect_list(struct(col("df"), col("ng")))),
        x => x("ng")).as("grams"))
      .withColumn("n_ng", size(col("grams")))
      // the 1e-9 slack biases float slop DOWNWARD: a ceil one too high
      // would shorten the prefix and silently miss pairs, one too low
      // only admits extra candidates for the exact verify to reject
      .withColumn("prefix", slice(col("grams"), lit(1),
        (col("n_ng") - ceil(lit(threshold) * col("n_ng") - lit(1e-9)) + 1)
          .cast("int")))
      .localCheckpoint()
    val prefixes = arrays
      .select(col("doc_id"), col("n_ng"), explode(col("prefix")).as("ng"))
    val cand = prefixes
      .select(col("doc_id").as("doc_id_1"), col("ng"), col("n_ng").as("n1"))
      .join(prefixes
        .select(col("doc_id").as("doc_id_2"), col("ng"),
          col("n_ng").as("n2")), Seq("ng"))
      .filter(col("doc_id_1") < col("doc_id_2"))
      // J >= t forces min(n1,n2) >= t*max(n1,n2); same downward slack
      .filter(col("n1") * lit(threshold) - lit(1e-9) <= col("n2") &&
        col("n2") * lit(threshold) - lit(1e-9) <= col("n1"))
      .select(col("doc_id_1"), col("doc_id_2"), col("n1"), col("n2"))
      .distinct()
    // exact verify: candidate-pair-sized work only. Both joins stream
    // the small candidate side against the checkpointed per-doc
    // arrays; n_common is a per-row array intersection (codegen), so
    // total verify cost is candidates x doc size — never df^2.
    cand
      .join(arrays.select(col("doc_id").as("doc_id_1"),
        col("grams").as("g1")), Seq("doc_id_1"))
      .join(arrays.select(col("doc_id").as("doc_id_2"),
        col("grams").as("g2")), Seq("doc_id_2"))
      .withColumn("n_common", size(array_intersect(col("g1"), col("g2"))))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id_1"), col("doc_id_2"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  def ngramJaccardDedup(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairsPrefix(Tables.documents(spark, dir))
      .orderBy(col("doc_id_1"), col("doc_id_2"))

  /** Asymmetric n-gram Jaccard: every pair (doc_id_1 < doc_id_2) at or
    * above the threshold where AT LEAST ONE side belongs to `probe` —
    * the incremental companion to the self-join above for delta
    * ingest: `base` is everything seen so far (it must CONTAIN the
    * probe docs), `probe` is the newly arrived slice. The probe's gram
    * table is micro-batch-sized by construction and BROADCASTS (the
    * decontaminate shape), so the accumulated corpus pays one linear
    * gram scan and an aggregation — never a self-join over history. At
    * 100 TB the remaining linear re-scan of `base` per delta is the
    * part a production pipeline replaces with a persisted posting-list
    * table appended per batch; the join and scoring are unchanged.
    *
    * Same gram extraction, threshold semantics, and exact-Jaccard
    * scoring as ngramJaccardPairs: a probe-only corpus degenerates to
    * exactly its self-join pair set.
    */
  def ngramJaccardAgainst(base: DataFrame, probe: DataFrame, n: Int = 3,
      threshold: Double = 0.5): DataFrame =
    ngramJaccardAgainstGrams(
      ngramsWithSize(base, n), ngramsWithSize(probe, n), threshold)

  /** The join/score half of ngramJaccardAgainst, over PRE-COMPUTED gram
    * tables ((doc_id, ng, n_ng), e.g. a persisted posting-list table a
    * delta ingest appends to per batch) — history is scanned, never
    * re-tokenized. Same contract: the base grams must contain the probe
    * docs' grams.
    */
  def ngramJaccardAgainstGrams(baseGrams: DataFrame, probeGrams: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val bg = baseGrams
      .select(col("doc_id").as("doc_id_b"), col("ng"), col("n_ng").as("nb"))
    val pg = probeGrams
      .select(col("doc_id").as("doc_id_p"), col("ng"), col("n_ng").as("np"))
    bg.join(broadcast(pg), Seq("ng"))
      .filter(col("doc_id_b") =!= col("doc_id_p"))
      .select(
        least(col("doc_id_b"), col("doc_id_p")).as("doc_id_1"),
        greatest(col("doc_id_b"), col("doc_id_p")).as("doc_id_2"),
        when(col("doc_id_b") < col("doc_id_p"), col("nb"))
          .otherwise(col("np")).as("n1"),
        when(col("doc_id_b") < col("doc_id_p"), col("np"))
          .otherwise(col("nb")).as("n2"),
        col("ng"))
      // probe-probe pairs surface once per DIRECTION (both docs sit on
      // both join sides); collapse before counting intersections
      .distinct()
      .groupBy(col("doc_id_1"), col("doc_id_2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id_1"), col("doc_id_2"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** Benchmark decontamination: for every training document, count the
    * evaluation-set documents it shares at least `minShared` word
    * n-grams with — the pre-training hygiene pass that keeps eval data
    * out of the training corpus. Unlike the dedup SELF-join, this is
    * an asymmetric cross-corpus join: the benchmark side is small by
    * construction and BROADCASTS, so the training corpus is one linear
    * scan with no shuffle of the big side at any corpus size.
    *
    * Here the "benchmark set" is docs with doc_id below `benchBelow`
    * (a stand-in for a real eval-set table; swap the filter for a
    * second source and nothing else changes).
    */
  def decontaminate(spark: SparkSession, dir: String,
      benchBelow: Long = 50, n: Int = 3, minShared: Int = 5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bench = docNgrams(docs.filter(col("doc_id") < benchBelow), n)
      .select(col("doc_id").as("bench_id"), col("ng"))
    val train = docNgrams(docs.filter(col("doc_id") >= benchBelow), n)
    train
      .join(broadcast(bench), Seq("ng"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated_refs"),
        max(col("n_shared")).as("max_shared"))
      .orderBy(col("doc_id"))
  }

  // ---------- MinHash + LSH ----------

  val NumHashes = 64
  val BandRows = 2
  val NumBands: Int = NumHashes / BandRows // 32

  /** The NumHashes "permutations" derived from ONE base hash of the
    * n-gram string: h_i = xxhash64(i, base). The one-hash minhash
    * trick: the variable-length STRING is hashed once per (doc, ngram)
    * row, and each permutation re-hashes only the fixed 16-byte
    * (seed, long) pair — a full-avalanche family (a plain multiply-add
    * would be cheaper still, but ANSI mode makes wrapped 64-bit
    * multiplication an overflow error). Deterministic across runs and
    * machines by construction.
    */
  private def derivedMinHashes(base: Column): Seq[Column] =
    (0 until NumHashes).map(i => min(xxhash64(lit(i), base)).as(s"h$i"))

  /** Candidate pairs via banding: docs agreeing on all BandRows hashes
    * of any band. Emits b rows per doc (constant fanout), self-joins on
    * the (band, band_hash) key.
    */
  def lshCandidates(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      val parts = (0 until BandRows).map(r => col(s"h${b * BandRows + r}"))
      struct(lit(b).as("band"), xxhash64(parts: _*).as("bh"))
    }
    val bands = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"), col("b.doc_id").as("doc_id_2"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: LSH candidates, then EXACT
    * Jaccard verification of candidates only (so output = the exact
    * similarity join, at LSH cost). At 100 TB the verification join
    * touches only the candidate pairs' n-gram sets.
    */
  def minhashLshDedup(spark: SparkSession, dir: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame =
    minhashLshPairs(Tables.documents(spark, dir), n, threshold)

  def minhashLshPairs(docs: DataFrame,
      n: Int = 3, threshold: Double = 0.5): DataFrame = {
    // One materialized n-gram table feeds everything: the signature
    // build, the band join (via a checkpointed signature table — it is
    // read twice by the band self-join), and both exact-verification
    // join sides. Without the cuts the extraction would run 4x.
    val ngs = ngramsWithSize(docs, n).localCheckpoint()
    val hashes = derivedMinHashes(col("ng"))
    val sigs = ngs.groupBy(col("doc_id")).agg(hashes.head, hashes.tail: _*)
    val cands = lshCandidates(sigs.localCheckpoint())
    cands
      .join(ngs.select(col("doc_id").as("doc_id_1"), col("ng"),
        col("n_ng").as("n1")), "doc_id_1")
      .join(ngs.select(col("doc_id").as("doc_id_2"), col("ng"),
        col("n_ng").as("n2")), Seq("doc_id_2", "ng"))
      .groupBy(col("doc_id_1"), col("doc_id_2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n1") + col("n2") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id_1"), col("doc_id_2"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  /** Transitive near-dup clustering: connected components over the
    * near-dup pair graph, by iterative min-label propagation to
    * convergence. Pairwise output (A~B, B~C) under-deletes without the
    * transitive closure — the cluster representative (min doc_id in
    * the component) is what a dedup pipeline actually keeps.
    *
    * Each iteration is one join + one aggregate; the driver's only
    * role is the convergence test (an aggregate scalar — standard for
    * iterative graph algorithms; the data never leaves executors).
    * localCheckpoint truncates each iteration's lineage, without
    * which the plan doubles per round. Rounds needed = graph diameter;
    * duplicate clusters are near-cliques so this converges in 2-3. At
    * 100 TB with adversarial chain-shaped graphs you would switch to
    * the alternating large-star/small-star formulation (O(log n)
    * rounds); the per-round plan shape is identical.
    */
  def nearDupClusters(spark: SparkSession, dir: String,
      n: Int = 3, threshold: Double = 0.5, maxIters: Int = 20): DataFrame =
    connectedComponents(
      minhashLshPairs(Tables.documents(spark, dir), n, threshold)
        .select(col("doc_id_1"), col("doc_id_2")), maxIters)
      .withColumnRenamed("node", "doc_id")
      .orderBy(col("doc_id"))

  /** Connected components of an undirected pair graph — min-label
    * propagation with pointer jumping, run to convergence. Returns
    * (node, cluster_rep) for every node appearing in `pairs`;
    * cluster_rep = the component's minimum node id.
    *
    * Each round does (1) a propagation step — every node takes the min
    * of its own label and its neighbors' labels — and (2) a pointer-
    * jumping step — every node then takes its LABEL's label
    * (label(x) := label(label(x))). Propagation alone moves the min
    * one hop per round (rounds = diameter); the jump compresses label
    * chains exponentially, so rounds = O(log diameter) — a 1M-node
    * chain converges in ~20 rounds instead of 1M. This is the same
    * doubling idea as the large-star/small-star CC formulation, on a
    * simpler per-round plan (two joins + one aggregate).
    *
    * Convergence is verified: if maxIters rounds pass with labels
    * still changing, this THROWS rather than silently returning
    * non-converged (wrong) cluster representatives. One
    * propagate+jump round roughly doubles the covered distance, so
    * maxIters rounds cover diameter ~2^maxIters — the default 25
    * handles any component of up to ~2^25 (~33M) hops, far beyond any
    * near-dup cluster; raise maxIters for pathological chain graphs.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val Seq(c1, c2) = pairs.columns.toSeq.map(col)
    val edges = pairs.select(c1, c2)
      .unionAll(pairs.select(c2, c1))
      .toDF("src", "dst")
      .localCheckpoint()
    // initial labels fold the first propagation round into the node
    // dedup: label(0) = min(node, min direct neighbor) — one aggregate
    // instead of distinct + a full loop iteration
    var labels = edges
      .groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("nmin0"))
      .select(col("node"), least(col("node"), col("nmin0")).as("label"))
      .localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("node").as("dst"), col("label").as("dlabel")),
          "dst")
        .groupBy(col("src")).agg(min(col("dlabel")).as("nmin"))
      // carry the previous label through so convergence is a filter on
      // the checkpointed result — no extra join against the old table
      val propagated = labels
        .join(neighborMin.select(col("src").as("node"), col("nmin")),
          Seq("node"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer jump: label(x) := label(label(x)). Every label IS a
      // node id (mins of node ids), so the inner self-join is total;
      // label(l) <= l by the least() invariant, monotone decreasing.
      val next = propagated.as("l1")
        .join(propagated.select(col("node").as("label"),
          col("label").as("ll")).as("l2"), Seq("label"))
        .select(col("node"), col("old"),
          least(col("label"), col("ll")).as("label"))
        .localCheckpoint()
      val changed = next.filter(col("label") =!= col("old")).count()
      labels = next.select(col("node"), col("label"))
      converged = changed == 0
      it += 1
    }
    require(converged,
      s"connected components did not converge in $maxIters rounds; " +
        "labels are still moving — raise maxIters (rounds needed is " +
        "O(log graph-diameter) with pointer jumping)")
    labels.select(col("node"), col("label").as("cluster_rep"))
  }

  /** Connected components by the alternating large-star / small-star
    * formulation (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the at-scale alternative to
    * [[connectedComponents]]'s label propagation. Same contract:
    * (node, cluster_rep) for every node in `pairs`, cluster_rep = the
    * component's minimum node id.
    *
    * Why a second formulation: label propagation keeps a LABEL table
    * beside the (static) edge table and needs two joins per round;
    * star rounds rewrite the EDGE table itself, which strictly
    * shrinks toward a star forest — on adversarial chain/tree graphs
    * the edge table contracts geometrically, so round cost DROPS as
    * the algorithm runs instead of staying proportional to the full
    * edge count every round. On 100 TB graphs whose edge table dwarfs
    * the node table that contraction is the difference that matters;
    * on near-clique dedup graphs (diameter 2-3) both finish in a few
    * rounds and label propagation's simpler rounds win — which is why
    * `dedup_clusters` keeps it, and this one is gated as
    * `dedup_clusters_star` on identical output.
    *
    * Each round:
    *  - **large-star**: every node u connects its strictly-larger
    *    neighbors to m(u) = min(N(u) ∪ u). Grouping is over BOTH edge
    *    directions (u as center of its full neighborhood).
    *  - **small-star**: edges directed larger→smaller; every center u
    *    connects its (all smaller) neighbors and itself to
    *    m = min(N_small(u)).
    * Both emit canonical (lo, hi) sets; convergence = the edge set is
    * a fixed point of a full round (set equality, checked exactly via
    * count + one-sided EXCEPT — both sides are post-`distinct` sets).
    * At the fixed point the edge set IS the answer: a star forest
    * with every edge (component-min, node).
    *
    * Monotonicity argument for termination (per the paper): both
    * steps preserve connectivity, never increase any node's smallest
    * neighbor, and strictly reduce the potential Σ height(u) until
    * stars form; rounds are O(log^2 n) worst-case, ~5 in practice.
    */
  def connectedComponentsStar(pairs: DataFrame,
      maxIters: Int = 30): DataFrame = {
    val Seq(c1, c2) = pairs.columns.toSeq.map(col)
    val nodes = pairs.select(c1.as("node"))
      .unionAll(pairs.select(c2.as("node")))
      .distinct().localCheckpoint()
    var edges = pairs
      .select(least(c1, c2).as("lo"), greatest(c1, c2).as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct().localCheckpoint()
    var converged = edges.isEmpty
    var it = 0
    while (!converged && it < maxIters) {
      // large-star: center over both directions; m = min(N(u) ∪ u)
      val sym = edges.select(col("lo").as("u"), col("hi").as("v"))
        .unionAll(edges.select(col("hi").as("u"), col("lo").as("v")))
      val lmin = sym.groupBy(col("u"))
        .agg(min(col("v")).as("nm"))
        .select(col("u"), least(col("u"), col("nm")).as("m"))
      // emit (v, m) for v > u; m <= u < v so (lo, hi) = (m, v)
      val afterLarge = sym.join(lmin, "u")
        .filter(col("v") > col("u") && col("m") =!= col("v"))
        .select(col("m").as("lo"), col("v").as("hi"))
        .distinct().localCheckpoint()
      // small-star: center = hi (all neighbors smaller); m = min(lo)
      val smin = afterLarge.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val viaNbr = afterLarge.join(smin, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi"))
      val viaSelf = smin.select(col("m").as("lo"), col("hi"))
      val next = viaNbr.unionAll(viaSelf)
        .filter(col("lo") =!= col("hi"))
        .distinct().localCheckpoint()
      // exact set equality: both are distinct sets, so equal counts +
      // empty one-sided difference <=> identical
      converged = next.count() == edges.count() &&
        next.except(edges).isEmpty
      edges = next
      it += 1
    }
    require(converged,
      s"large-star/small-star did not converge in $maxIters rounds " +
        "(bound is O(log^2 n) — raise maxIters)")
    // fixed point = star forest: every edge is (component-min, node)
    nodes
      .join(edges.select(col("hi").as("node"), col("lo").as("rep")),
        Seq("node"), "left")
      .select(col("node"),
        coalesce(col("rep"), col("node")).as("cluster_rep"))
  }

  /** [[nearDupClusters]] routed through the star formulation — same
    * pair graph, same output contract, gated on the same oracle. */
  def nearDupClustersStar(spark: SparkSession, dir: String,
      n: Int = 3, threshold: Double = 0.5, maxIters: Int = 30): DataFrame =
    connectedComponentsStar(
      minhashLshPairs(Tables.documents(spark, dir), n, threshold)
        .select(col("doc_id_1"), col("doc_id_2")), maxIters)
      .withColumnRenamed("node", "doc_id")
      .orderBy(col("doc_id"))

  // ---------- SimHash ----------

  /** 64-bit SimHash over the word stream with term-frequency weights:
    * bit i of the hash votes +tf/-tf; the sign of each bit's total
    * becomes the fingerprint bit. Implemented as 64 plain sum
    * aggregates (one shuffle, map-side combined) + a driver-free pack.
    */
  /** (doc_id, word, tf, wh): the exact word-frequency stream the
    * simhash aggregates over, with the xxhash64 word hash attached.
    * Exported by Verify as an oracle-support table — DuckDB cannot
    * compute xxhash64, so the hash crosses engines as DATA and the
    * oracle recomputes the bit votes, fingerprint pack, and pair
    * blocking from it in SQL (see SparkEntry.oracleAux).
    */
  def simhashWordTf(docs: DataFrame): DataFrame =
    TextOps.explodedWords(docs, col("doc_id"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("wh", xxhash64(col("word")))

  def simhashes(docs: DataFrame): DataFrame = {
    val tf = simhashWordTf(docs)
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("wh"), i).bitwiseAND(1) === 1, col("tf"))
        .otherwise(-col("tf"))).as(s"b$i")
    }
    val packed = (0 until 64).map { i =>
      when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
    tf.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("simhash", packed)
      .select(col("doc_id"), col("simhash"))
  }

  def simhashDedup(spark: SparkSession, dir: String): DataFrame =
    simhashes(Tables.documents(spark, dir))
      .select(col("doc_id"), conv(col("simhash"), 10, 16).as("simhash_hex"))
      .orderBy(col("doc_id"))

  /** Exact duplicated-span coverage — the substring-level dedup signal
    * (the "how much of this doc appears verbatim elsewhere" metric a
    * training-data pipeline uses to drop boilerplate-heavy pages,
    * after Lee et al.'s exact-substring dedup): slide a k-word window
    * over the normalized word stream, mark every window whose content
    * occurs more than once in the CORPUS (cross-doc or repeated
    * in-doc), and report per document the gram count, duplicated-gram
    * count, and coverage fraction.
    *
    * Scale shape: grams travel as 64-bit xxhash keys, never strings —
    * the shuffle carries (doc_id, hash, tf) after a map-side combine
    * per (doc, gram), and that combined table is checkpointed so the
    * corpus is exploded exactly once. Occurrence totals are a second
    * hash aggregate on the gram key; the membership join back is an
    * AQE-skew-splittable equi-join on that same key, so the whole
    * operator is explode -> narrow hash agg -> tiny agg -> one
    * equi-join -> per-doc agg. Nothing is driver-bound and no corpus
    * text moves after the explode projection. The oracle
    * groups the literal gram strings; hashed grouping matches it
    * unless xxhash64 collides (~1e-9 at 1e5 grams). Collision odds
    * grow QUADRATICALLY with distinct grams (birthday bound m^2/2^65):
    * past ~10^9 distinct grams collisions become expected and bias
    * n_dup_grams/dup_frac upward — a true 100 TB corpus (>>2^32
    * grams) should key on a 128-bit hash pair (e.g. xxhash64 under
    * two seeds, same plan shape, 2x key width) instead.
    */
  /** (doc_id, span) stream of every k-word window of the normalized
    * word stream, WITH multiplicity (no distinct — within-doc repeats
    * are part of the dup signal). posexplode + lead-window assembly,
    * NOT explode(wordNgrams): see docNgrams — the array-HOF path is
    * interpreted and ~10x slower on this hot path. Shared by
    * dupSpanCoverage (keys on xxhash64(span)) and topDupSpans (reports
    * the string) so the tokenization/assembly plan cannot diverge
    * between the two oracle-checked queries.
    */
  private def docSpans(docs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), TextOps.TokenSplitRe))
          .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        TextOps.normalize(col("tok")).as("w0"))
      .filter(length(col("w0")) > 0)
    val leads = (1 until k).map(i => lead(col("w0"), i).over(w).as(s"w$i"))
    words
      .select(col("doc_id") +: col("w0") +: leads: _*)
      .filter(col(s"w${k - 1}").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", (0 until k).map(i => col(s"w$i")): _*).as("span"))
  }

  def dupSpanCoverage(spark: SparkSession, dir: String,
      k: Int = 8, wideHash: Boolean = false): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // wideHash widens the gram key to a 128-bit pair — xxhash64 of the
    // span alone plus xxhash64 of (salt, span), two independent 64-bit
    // draws — for corpora past ~10^9 distinct grams where the 64-bit
    // birthday bound makes collisions expected (see the scale caveat
    // above). Same plan shape and costs (the key is a 2-field struct
    // instead of a long); a spec asserts both modes agree on corpora
    // where 64-bit collisions are impossible in practice.
    val gh =
      if (wideHash) struct(xxhash64(col("span")).as("h1"),
        xxhash64(lit(0x9E3779B9L), col("span")).as("h2"))
      else struct(xxhash64(col("span")).as("h1"))
    // checkpointed: perDocGram feeds BOTH the occurrence aggregate and
    // the membership join probe — without it each consumer recomputes
    // the whole explode-and-lead-window lineage (a second full corpus
    // pass, measured as the dominant cost of the operator: 8.0 s ->
    // ~2 s steady at sf1). An unordered window-sum over gh would also
    // dedup the derivation WITHOUT materializing, but it parks every
    // combined row of a hot gram on one reducer with no map-side
    // combine and no AQE skew-split — and high-occurrence grams are
    // this operator's SIGNAL, so the skew-safe agg+join keeps the
    // 100 TB posture and the checkpoint pays one (doc_id, hash, tf)
    // materialization instead of a corpus re-scan.
    val perDocGram = docSpans(docs, k)
      .select(col("doc_id"), gh.as("gh"))
      .groupBy(col("doc_id"), col("gh"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val occ = perDocGram.groupBy(col("gh"))
      .agg(sum(col("tf")).as("n_occ"))
    val per = perDocGram
      .join(occ, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_grams"),
        sum(when(col("n_occ") > 1, col("tf")).otherwise(lit(0L)))
          .as("n_dup_grams"))
    // left join from the doc table keeps sub-k-word docs (zero grams);
    // the frac is computed BEFORE the zero-fill select so the column
    // references cannot laterally rebind to the fresh aliases
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .withColumn("dup_frac",
        when(col("n_grams").isNull, lit(0.0))
          .otherwise(round(col("n_dup_grams").cast("double") /
            col("n_grams").cast("double"), 6)))
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        col("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** The most-duplicated k-word spans — the "what boilerplate
    * dominates this corpus" report that pairs with dupSpanCoverage:
    * top spans by total occurrence count (ties on the span text), with
    * the number of distinct docs containing each and the lowest such
    * doc id as a locator.
    *
    * Same lead-window gram assembly as dupSpanCoverage, but this one
    * must SHOW the span, so the gram string rides to the aggregate.
    * Scale shape: one hash aggregate on the gram key (map-side
    * combined; the string is the group key, which is exactly the
    * shuffle the report requires), then a TakeOrdered top-k — no
    * second corpus pass, nothing driver-bound beyond the k rows.
    */
  def topDupSpans(spark: SparkSession, dir: String,
      k: Int = 8, topK: Int = 25): DataFrame = {
    docSpans(Tables.documents(spark, dir), k)
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occ") > 1)
      .orderBy(col("n_occ").desc, col("span"))
      .limit(topK)
  }

  /** Duplicated-span REMOVAL — the corpus rewrite that
    * [[dupSpanCoverage]] only measures (after Lee et al.'s
    * exact-substring dedup / C4-style boilerplate stripping): every
    * k-word window of the normalized word stream whose content occurs
    * more than once in the CORPUS (cross-doc or repeated in-doc) is
    * cut from every document carrying it, and the retained words are
    * re-joined into the cleaned text. Output per document:
    * (doc_id, clean_text, n_words, n_removed), where clean_text is
    * the space-joined retained NORMALIZED word stream (the original
    * byte layout is not reconstructible once windows are defined over
    * the normalized stream — the same contract as the coverage op)
    * and n_removed counts dropped word positions. The drop-all-copies
    * policy is deliberate: duplicated spans are boilerplate evidence,
    * and keep-one-canonical is a policy layer a caller composes on
    * top (e.g. route the spans through [[exactClusters]] keepers).
    *
    * Scale shape — one corpus pass, four exchanges on the fact stream:
    *  1. words shuffle once on doc_id (position numbering; the k-1
    *     lead windows and the final re-join aggregate reuse it);
    *  2. span rows — (doc_id, start, 64-bit xxhash key), never the
    *     gram string — are checkpointed once and shuffle on the key
    *     twice, as a map-side-combined occurrence aggregate and as the
    *     probe of an AQE-skew-splittable membership join (no second
    *     derivation of the span table, and no window-over-key, which
    *     would park a hot gram's rows on one reducer);
    *  3. the surviving duplicated starts collapse to ONE sorted long
    *     array per touched document and ride a doc_id exchange back,
    *     joining words on doc_id alone — so the join reuses exchange
    *     1's partitioning instead of forcing a (doc_id, idx)
    *     repartition of the whole word table.
    * Coverage is then pure per-row compute: a position p is covered
    * iff some duplicated start lies in [p-k+1, p], counted by two
    * [[graft.plans.ArrayCountLess]] binary searches against the
    * per-doc array — codegen'd, O(log dups) per word, no explosion of
    * each start into its k positions and no extra window pass.
    * Per-doc state bounds: the starts array holds at most n_words
    * longs for a wholly-duplicated document — the same order as the
    * final collect_list the rewrite itself requires. A gram
    * duplicated d times puts d rows in one key partition of exchange
    * 2 (count only, nothing quadratic). Same 64-bit collision caveat
    * as dupSpanCoverage (a collision marks a clean span duplicated);
    * past ~10^9 distinct grams key on the 128-bit pair instead (same
    * plan shape).
    */
  def dupSpanRemoval(docs: DataFrame, k: Int = 8): DataFrame = {
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val words = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), TextOps.TokenSplitRe))
          .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        TextOps.normalize(col("tok")).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc_id"),
        (row_number().over(byPos) - 1).as("idx"), col("w"))
    val byIdx = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
    val leads = (1 until k).map(i => lead(col("w"), i).over(byIdx).as(s"w$i"))
    val spans = words
      .select(col("doc_id") +: col("idx") +: col("w").as("w0") +: leads: _*)
      .filter(col(s"w${k - 1}").isNotNull)
      .select(col("doc_id"), col("idx"),
        xxhash64(concat_ws(" ", (0 until k).map(i => col(s"w$i")): _*))
          .as("h"))
    // checkpointed for the same reason as dupSpanCoverage's combined
    // table: spans feeds the occurrence aggregate AND the membership
    // join probe, and a hot boilerplate gram must stay map-side
    // combinable / AQE-splittable rather than collapsing onto one
    // window reducer
    val spansCk = spans.localCheckpoint(eager = false)
    val occ = spansCk.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
    val dupStarts = spansCk
      .join(occ.filter(col("n_occ") > 1), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("idx").cast("long"))).as("starts"))
    // covered(p) = #starts < p+1 minus #starts < p-k+1; starts is null
    // for untouched docs (left join), where ArrayCountLess yields null
    val nCovering =
      graft.plans.ArrayCountLess(col("starts"),
        (col("idx") + 1).cast("long")) -
      graft.plans.ArrayCountLess(col("starts"),
        (col("idx") - (k - 1)).cast("long"))
    val perDoc = words
      .join(dupStarts, Seq("doc_id"), "left")
      .withColumn("keep", coalesce(nCovering, lit(0)) === 0)
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("idx"), col("w"))))),
          x => x.getField("w"))).as("clean_text"),
        count(lit(1)).as("n_words"),
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        (coalesce(col("n_words"), lit(0L)) -
          coalesce(col("n_kept"), lit(0L))).as("n_removed"))
      .orderBy(col("doc_id"))
  }

  /** Line-level exact dedup (the RefinedWeb / FineWeb "line dedup"
    * rewrite): a line whose exact trimmed text occurs at least
    * `maxOcc` times across the dump is boilerplate (nav bars,
    * copyright footers, cookie banners) and is cut from every document
    * that carries it; rarer lines survive everywhere. Distinct from
    * [[dupSpanRemoval]], which keys on fixed-k word n-grams and
    * removes only the REPEATED spans — line dedup keys on the
    * document's own line structure and removes every occurrence once
    * the corpus count crosses the threshold.
    *
    * Output is one row per input document: the count of non-empty
    * lines, how many were removed, and the md5 of the kept lines
    * rejoined with `\n` (the rewrite's provenance record — same
    * contract as c4Filter's `clean_md5`).
    *
    * Scale shape — one corpus pass, narrow exchanges only:
    *  1. (doc_id, idx, line) explodes once; the occurrence aggregate
    *     shuffles the 64-bit xxhash line key alone (map-side combined;
    *     a boilerplate line duplicated d times is d rows in one key
    *     partition — count only, nothing quadratic);
    *  2. the line rows probe the count table on the hash key (an
    *     AQE-skew-splittable equi-join, never a window-over-key, which
    *     would park all copies of a hot line on one reducer);
    *  3. the per-doc rebuild aggregates on doc_id; line text rides
    *     exactly one exchange (the rebuild), never the count shuffle.
    * Same 64-bit collision caveat as dupSpanRemoval: a collision marks
    * a clean line as boilerplate; past ~10^9 distinct lines key on the
    * 128-bit (xxhash64, md5-half) pair — same plan shape.
    */
  def lineDedup(docs: DataFrame, maxOcc: Int = 3): DataFrame = {
    val lines = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n")).as(Seq("idx", "raw")))
      .select(col("doc_id"), col("idx"), trim(col("raw")).as("l"))
      .filter(length(col("l")) > 0)
      .withColumn("h", xxhash64(col("l")))
      // feeds the occurrence aggregate AND the membership probe — the
      // same two-consumer checkpoint rationale as dupSpanRemoval
      .localCheckpoint(eager = false)
    val occ = lines.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
    val perDoc = lines
      .join(occ, Seq("h"))
      .withColumn("keep", col("n_occ") < maxOcc)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(!col("keep"), lit(1L)).otherwise(lit(0L))).as("n_removed"),
        // collect_list skips the nulls the when() leaves for dropped
        // lines; array_sort orders the survivors by position
        md5(concat_ws("\n",
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("idx"), col("l"))))),
            x => x.getField("l")))).as("clean_md5"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  /** PageRank over the near-dup similarity graph (symmetrized tf-idf
    * APSS pairs): which documents sit at the CENTER of duplication
    * clusters — the doc a dedup pipeline should keep as the canonical
    * representative, and the boilerplate hub a curation audit looks at
    * first. Fixed `iters` power iterations with damping 0.85 over the
    * graph's node set.
    *
    * Determinism: every per-edge contribution p(u)/deg(u) is rounded
    * to a 12-dp DECIMAL before the per-target sum (order-independent
    * under any partitioning), and each iteration's rank is re-rounded
    * to 12 dp — so the fixed-iteration result is bit-identical across
    * engines and the DuckDB oracle replays it with chained CTEs.
    *
    * Scale shape: one join + one aggregate per iteration over the edge
    * list (the connectedComponents loop shape); the edge table and
    * degrees — the only multiply-consumed intermediates — are
    * checkpointed once. The rank table is NOT checkpointed per round:
    * each pr feeds exactly one consumer (the next iteration's edge
    * join), so lineage grows linearly in the fixed iteration count and
    * a per-round materialization is three stage barriers of pure
    * overhead at k=3 (measured ~0.7 s at sf0.1). An unbounded-k or
    * convergence-tested variant SHOULD cut lineage every few rounds —
    * that is the nearDupClusters loop's shape. The driver never sees
    * the data — only the loop counter. At web scale you would add
    * dangling-mass handling and a convergence test; the fixed-k shape
    * per iteration is identical.
    */
  def pagerankNearDup(spark: SparkSession, dir: String,
      iters: Int = 3, damping: Double = 0.85, topK: Int = 25): DataFrame = {
    val pairs = TextAnalysis.tfidfCosineCore(spark, dir)
      .select(col("doc_id_1"), col("doc_id_2"))
    val edges = pairs
      .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
      .unionAll(pairs.select(col("doc_id_2").as("src"),
        col("doc_id_1").as("dst")))
      .localCheckpoint()
    // symmetric graph: every node appears as a src, so deg is the node
    // table and no node dangles (deg >= 1 by construction)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val nn = deg.agg(count(lit(1)).as("n"))
    // the rank table CARRIES its node's degree, so each iteration is
    // one edge join + one aggregate + one node join — not a second
    // degree join per round (deg is constant; re-deriving it per
    // iteration from the checkpointed table added a whole join stage
    // per round for a column the rank row can just keep)
    var pr = deg.crossJoin(broadcast(nn))
      .select(col("src").as("node"), col("deg"),
        (lit(1.0) / col("n")).as("pr"))
    (1 to iters).foreach { _ =>
      val contrib = edges
        .join(pr.withColumnRenamed("node", "src"), "src")
        .select(col("dst"),
          round(col("pr") / col("deg"), 12).cast("decimal(38,12)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      pr = deg.select(col("src").as("node"), col("deg"))
        .join(contrib.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(nn))
        .select(col("node"), col("deg"),
          round(lit(1.0 - damping) / col("n") +
            lit(damping) * coalesce(col("s").cast("double"), lit(0.0)), 12)
            .as("pr"))
    }
    // the per-iteration 12-dp round IS the output precision: a second
    // round(pr, 9) would park ~1/1000 of the ranks on an exact decimal
    // midpoint, where Spark's HALF_UP and DuckDB's double rounding
    // demonstrably disagree by 1 ulp — gratuitous oracle flake risk
    pr.select(col("node").as("doc_id"), col("pr").as("pagerank"))
      .orderBy(col("pagerank").desc, col("doc_id"))
      .limit(topK)
  }

  /** Near-dup pairs by SimHash: block on 16-bit chunks, verify with
    * bit_count(xor). By pigeonhole, a pair within hamming distance 3
    * must agree on at least one of the 4 chunks, so the default
    * maxHamming=3 has NO false negatives; values above 3 are
    * best-effort (the blocking can miss pairs whose differing bits
    * spread across all chunks).
    */
  def simhashPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    // (doc_id, simhash) is 16 bytes/doc; materializing it means the
    // 64-sum fingerprint aggregation runs once, not once per side of
    // the chunk-blocked self-join.
    val sh = simhashes(Tables.documents(spark, dir)).localCheckpoint()
    val chunks = (0 until 4).map(c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 16).bitwiseAND(0xffffL).as("ck")))
    val keyed = sh
      .select(col("doc_id"), col("simhash"),
        explode(array(chunks: _*)).as("k"))
      .select(col("doc_id"), col("simhash"),
        col("k.chunk").as("chunk"), col("k.ck").as("ck"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_id_1"),
        col("b.doc_id").as("doc_id_2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_id_1"), col("doc_id_2"))
  }

  /** Shared by dup_span_coverage and dup_span_coverage128: the oracle
    * groups the literal gram STRINGS, so one SQL gates both the 64-bit
    * and the 128-bit hash-keyed modes — the hash width is an engine-side
    * implementation detail the result must be independent of.
    */
  private val DupSpanCoverageOracle: String =
    """WITH words AS (
      |  SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS gram
      |  FROM words, unnest(range(1, len(ws) - 6)) AS t(i)
      |  WHERE len(ws) >= 8),
      |pg AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS tf
      |       FROM g GROUP BY doc_id, gram),
      |occ AS (SELECT gram, CAST(sum(tf) AS BIGINT) AS n_occ
      |        FROM pg GROUP BY gram),
      |per AS (
      |  SELECT pg.doc_id,
      |    CAST(sum(tf) AS BIGINT) AS n_grams,
      |    CAST(sum(CASE WHEN n_occ > 1 THEN tf ELSE 0 END) AS BIGINT) AS n_dup_grams
      |  FROM pg JOIN occ ON pg.gram = occ.gram
      |  GROUP BY pg.doc_id)
      |SELECT d.doc_id,
      |  COALESCE(n_grams, 0) AS n_grams,
      |  COALESCE(n_dup_grams, 0) AS n_dup_grams,
      |  CASE WHEN n_grams IS NULL THEN 0.0
      |       ELSE round(CAST(n_dup_grams AS DOUBLE) / CAST(n_grams AS DOUBLE), 6)
      |  END AS dup_frac
      |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Transitive closure of the exact >= 0.5 Jaccard pair graph —
    * shared by `dedup_clusters` (label propagation) and
    * `dedup_clusters_star` (large-star/small-star): the two
    * formulations must produce identical components.
    */
  private val DedupClustersOracle: String =
    """WITH RECURSIVE words AS (
      |  SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
      |  FROM documents),
      |ng AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS ngram
      |  FROM words, unnest(range(1, len(ws) - 1)) AS t(i)
      |  WHERE len(ws) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
      |  FROM ng a JOIN ng b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT d1, d2 FROM inter
      |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      |  WHERE CAST(c AS DOUBLE) / CAST(s1.n + s2.n - c AS DOUBLE) >= 0.5),
      |edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM p
      |  UNION ALL SELECT d2, d1 FROM p),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
      |SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** Shared by dedup_ngram_jaccard (exact path) and dedup_minhash_lsh:
    * with these LSH parameters (n=64, r=2, b=32) the candidate miss
    * probability at the 0.5 threshold is < 1e-14, so the LSH output
    * equals the exact similarity join and both check against the same
    * brute-force DuckDB oracle.
    */
  private val NgramJaccardOracle: String =
    """WITH words AS (
      |  SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
      |  FROM documents),
      |ng AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS ngram
      |  FROM words, unnest(range(1, len(ws) - 1)) AS t(i)
      |  WHERE len(ws) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS c
      |  FROM ng a JOIN ng b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_id_1, doc_id_2,
      |       round(CAST(c AS DOUBLE) / CAST(s1.n + s2.n - c AS DOUBLE), 6) AS jaccard
      |FROM inter
      |JOIN sizes s1 ON doc_id_1 = s1.doc_id
      |JOIN sizes s2 ON doc_id_2 = s2.doc_id
      |WHERE CAST(c AS DOUBLE) / CAST(s1.n + s2.n - c AS DOUBLE) >= 0.5
      |ORDER BY doc_id_1, doc_id_2""".stripMargin

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("dedup_exact", (s, d) => exactDedup(s, d),
      """SELECT doc_id, md5(text) AS content_key,
        |  count(*) OVER (PARTITION BY md5(text)) AS cluster_size,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("dedup_fingerprint", (s, d) => fingerprintDedup(s, d),
      """SELECT doc_id,
        |  md5(array_to_string(list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0), ' ')) AS content_key,
        |  count(*) OVER (PARTITION BY md5(array_to_string(list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0), ' '))) AS cluster_size,
        |  doc_id = min(doc_id) OVER (PARTITION BY md5(array_to_string(list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0), ' '))) AS is_keeper
        |FROM documents ORDER BY doc_id""".stripMargin),
    Query("dedup_ngram_jaccard", (s, d) => ngramJaccardDedup(s, d),
      NgramJaccardOracle),
    Query("dedup_minhash_lsh", (s, d) => minhashLshDedup(s, d),
      NgramJaccardOracle),
    // SimHash oracles recompute the bit votes, fingerprint pack, and
    // (for pairs) the ground-truth quadratic hamming join from the
    // Spark-exported word-hash table (oracleAux: DuckDB has no
    // xxhash64). Shift semantics match Spark: >> is arithmetic on
    // BIGINT in both engines, and (wh >> i) & 1 extracts bit i either
    // way; bit 63 of the pack is the MIN_VALUE literal because DuckDB
    // errors on 1 << 63 rather than wrapping.
    Query("dedup_simhash", (s, d) => simhashDedup(s, d),
      """WITH w AS (SELECT doc_id, tf, wh
        |           FROM read_parquet('/tmp/graft_oracle_aux/simhash_words/*.parquet')),
        |bits AS (
        |  SELECT w.doc_id, t.i,
        |         SUM(CASE WHEN ((w.wh >> t.i) & 1) = 1 THEN w.tf ELSE -w.tf END) AS s
        |  FROM w, range(64) t(i)
        |  GROUP BY w.doc_id, t.i),
        |fp AS (
        |  SELECT doc_id,
        |         bit_or(CASE WHEN s > 0 THEN
        |           (CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
        |                 ELSE (1::BIGINT << CAST(i AS INTEGER)) END)
        |           ELSE 0 END) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT doc_id, to_hex(simhash) AS simhash_hex
        |FROM fp ORDER BY doc_id""".stripMargin),
    Query("dedup_clusters", (s, d) => nearDupClusters(s, d),
      DedupClustersOracle),
    // same pair graph, same transitive closure — the star formulation
    // must be output-identical to label propagation
    Query("dedup_clusters_star", (s, d) => nearDupClustersStar(s, d),
      DedupClustersOracle),
    Query("decontaminate", (s, d) => decontaminate(s, d),
      """WITH words AS (
        |  SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
        |  FROM documents),
        |ng AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS ngram
        |  FROM words, unnest(range(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 3),
        |shared AS (
        |  SELECT t.doc_id, b.doc_id AS bench_id, count(*) AS n_shared
        |  FROM ng t JOIN ng b ON t.ngram = b.ngram
        |  WHERE t.doc_id >= 50 AND b.doc_id < 50
        |  GROUP BY t.doc_id, b.doc_id
        |  HAVING count(*) >= 5)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated_refs,
        |       CAST(max(n_shared) AS BIGINT) AS max_shared
        |FROM shared GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("simhash_pairs", (s, d) => simhashPairs(s, d),
      """WITH w AS (SELECT doc_id, tf, wh
        |           FROM read_parquet('/tmp/graft_oracle_aux/simhash_words/*.parquet')),
        |bits AS (
        |  SELECT w.doc_id, t.i,
        |         SUM(CASE WHEN ((w.wh >> t.i) & 1) = 1 THEN w.tf ELSE -w.tf END) AS s
        |  FROM w, range(64) t(i)
        |  GROUP BY w.doc_id, t.i),
        |fp AS (
        |  SELECT doc_id,
        |         bit_or(CASE WHEN s > 0 THEN
        |           (CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
        |                 ELSE (1::BIGINT << CAST(i AS INTEGER)) END)
        |           ELSE 0 END) AS simhash
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |       bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    Query("dup_span_coverage", (s, d) => dupSpanCoverage(s, d),
      DupSpanCoverageOracle),
    // the at-scale (128-bit gram key) mode of the same operator: both
    // gated against the identical string-keyed oracle, so the shipped
    // answer to the 64-bit birthday-bound caveat is itself oracle-green
    Query("dup_span_coverage128",
      (s, d) => dupSpanCoverage(s, d, wideHash = true),
      DupSpanCoverageOracle),
    Query("top_dup_spans", (s, d) => topDupSpans(s, d),
      """WITH words AS (
        |  SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(ws[i:i+7], ' ') AS span
        |  FROM words, unnest(range(1, len(ws) - 6)) AS t(i)
        |  WHERE len(ws) >= 8)
        |SELECT span, CAST(count(*) AS BIGINT) AS n_occ,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       min(doc_id) AS first_doc
        |FROM g GROUP BY span
        |HAVING count(*) > 1
        |ORDER BY n_occ DESC, span LIMIT 25""".stripMargin),
    // same tokenization/window CTEs as DupSpanCoverageOracle, then the
    // removal semantics replayed set-wise: a word position is covered
    // iff a duplicated 8-word window starts within the 7 positions at
    // or before it
    Query("dedup_span_removal",
      (s, d) => dupSpanRemoval(Tables.documents(s, d)),
      """WITH words0 AS (
        |  SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i - 1 AS idx, ws[i] AS w
        |  FROM words0, unnest(range(1, len(ws) + 1)) AS t(i)),
        |g AS (
        |  SELECT doc_id, i - 1 AS s, array_to_string(ws[i:i+7], ' ') AS gram
        |  FROM words0, unnest(range(1, len(ws) - 6)) AS t(i)
        |  WHERE len(ws) >= 8),
        |occ AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |dup AS (SELECT g.doc_id, g.s FROM g JOIN occ ON g.gram = occ.gram),
        |cov AS (
        |  SELECT w.doc_id, w.idx, any_value(w.w) AS w,
        |         count(dup.s) AS nc
        |  FROM w LEFT JOIN dup
        |    ON dup.doc_id = w.doc_id AND dup.s BETWEEN w.idx - 7 AND w.idx
        |  GROUP BY w.doc_id, w.idx),
        |kept AS (
        |  SELECT doc_id, string_agg(w, ' ' ORDER BY idx) AS clean_text,
        |         CAST(count(*) AS BIGINT) AS n_kept
        |  FROM cov WHERE nc = 0 GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words
        |        FROM w GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(kept.clean_text, '') AS clean_text,
        |  COALESCE(tot.n_words, 0) AS n_words,
        |  COALESCE(tot.n_words, 0) - COALESCE(kept.n_kept, 0) AS n_removed
        |FROM documents d
        |LEFT JOIN tot ON d.doc_id = tot.doc_id
        |LEFT JOIN kept ON d.doc_id = kept.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // over the re-lineated view: the raw corpus has no line structure
    // (TextQuality.relineated Scaladoc), and the view's planted
    // boilerplate line is exactly the cross-doc duplicate to find
    Query("line_dedup",
      (s, d) => lineDedup(TextQuality.relineated(Tables.documents(s, d))),
      (TextQuality.RelineatedCte + """,
        |ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM structured),
        |lines AS (
        |  SELECT doc_id, i AS idx, trim(ls[i]) AS l
        |  FROM ls, unnest(range(1, len(ls) + 1)) AS t(i)
        |  WHERE length(trim(ls[i])) > 0),
        |occ AS (SELECT l, CAST(count(*) AS BIGINT) AS n_occ FROM lines GROUP BY l),
        |kept AS (
        |  SELECT doc_id, idx, lines.l, n_occ < 3 AS keep
        |  FROM lines JOIN occ USING (l)),
        |per AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        |    md5(coalesce(string_agg(CASE WHEN keep THEN l END, chr(10) ORDER BY idx), '')) AS clean_md5
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(n_lines, 0) AS n_lines,
        |  coalesce(n_removed, 0) AS n_removed,
        |  coalesce(clean_md5, md5('')) AS clean_md5
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin)),
    Query("pagerank_neardup", (s, d) => pagerankNearDup(s, d),
      """WITH toks AS (
        |  SELECT doc_id, lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks WHERE length(word) > 0 GROUP BY doc_id, word),
        |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |vec AS (
        |  SELECT doc_id, word, w FROM (
        |    SELECT tf.doc_id, tf.word,
        |      tf * ln(CAST(n AS DOUBLE) / df) AS w,
        |      row_number() OVER (PARTITION BY tf.doc_id
        |        ORDER BY tf * ln(CAST(n AS DOUBLE) / df) DESC, tf.word) AS rn
        |    FROM tf JOIN df USING (word) CROSS JOIN nd
        |    WHERE df * 8 <= n AND df <= 1000)
        |  WHERE rn <= 8),
        |norms AS (
        |  SELECT doc_id,
        |    sqrt(CAST(sum(CAST(round(w * w, 12) AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
        |  FROM vec GROUP BY doc_id),
        |dots AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |         sum(CAST(round(a.w * b.w, 12) AS DECIMAL(38,12))) AS dot
        |  FROM vec a JOIN vec b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_id_1, doc_id_2 FROM dots
        |  JOIN norms n1 ON doc_id_1 = n1.doc_id
        |  JOIN norms n2 ON doc_id_2 = n2.doc_id
        |  WHERE CAST(dot AS DOUBLE) / (n1.nrm * n2.nrm) >= 0.7),
        |edges AS (SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
        |          UNION ALL
        |          SELECT doc_id_2 AS src, doc_id_1 AS dst FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
        |p0 AS (SELECT src AS node, 1.0 / n AS pr FROM deg CROSS JOIN nn),
        |c1 AS (SELECT e.dst AS node, sum(CAST(round(p.pr / d.deg, 12) AS DECIMAL(38,12))) AS s
        |       FROM edges e JOIN p0 p ON e.src = p.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |p1 AS (SELECT deg.src AS node,
        |         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n + 0.85 * CAST(COALESCE(s, 0) AS DOUBLE), 12) AS pr
        |       FROM deg LEFT JOIN c1 ON deg.src = c1.node CROSS JOIN nn),
        |c2 AS (SELECT e.dst AS node, sum(CAST(round(p.pr / d.deg, 12) AS DECIMAL(38,12))) AS s
        |       FROM edges e JOIN p1 p ON e.src = p.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |p2 AS (SELECT deg.src AS node,
        |         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n + 0.85 * CAST(COALESCE(s, 0) AS DOUBLE), 12) AS pr
        |       FROM deg LEFT JOIN c2 ON deg.src = c2.node CROSS JOIN nn),
        |c3 AS (SELECT e.dst AS node, sum(CAST(round(p.pr / d.deg, 12) AS DECIMAL(38,12))) AS s
        |       FROM edges e JOIN p2 p ON e.src = p.node JOIN deg d ON e.src = d.src
        |       GROUP BY e.dst),
        |p3 AS (SELECT deg.src AS node,
        |         round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n + 0.85 * CAST(COALESCE(s, 0) AS DOUBLE), 12) AS pr
        |       FROM deg LEFT JOIN c3 ON deg.src = c3.node CROSS JOIN nn)
        |SELECT node AS doc_id, pr AS pagerank
        |FROM p3 ORDER BY pr DESC, node LIMIT 25""".stripMargin))
}
