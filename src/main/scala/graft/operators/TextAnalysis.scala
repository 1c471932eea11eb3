package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Text-analysis operators over `documents`: word frequency, TF-IDF,
  * per-doc stats, language id, quality scoring. Generalizes the
  * reference's word pipeline (tema1.cpp:143-163) beyond the inverted
  * index.
  *
  * Scale notes: everything is explode -> partial agg -> one shuffle;
  * TF-IDF joins the per-word doc-frequency (a small aggregate) back via
  * broadcast. No driver-side loops, no UDFs.
  */
object TextAnalysis {

  /** Total occurrence count per word (not distinct-doc count — this is
    * the word-count complement of the inverted index) + doc frequency.
    */
  def wordStats(spark: SparkSession, dir: String): DataFrame =
    TextOps.explodedWords(Tables.documents(spark, dir), col("doc_id"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("word"))

  /** Top-k most frequent words (TakeOrderedAndProject over the agg). */
  def topWords(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    TextOps.explodedWords(Tables.documents(spark, dir))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(k)

  /** Per-document stats: token counts, mean word length, punctuation
    * density, stopword ratio, quality score. Single narrow scan, no
    * shuffle at all (pure projection). The word array is materialized
    * in its own projection step and every stat reads that column —
    * higher-order array functions are interpreted (CodegenFallback), so
    * evaluating `words(text)` once instead of once per stat is ~an
    * order of magnitude on wide stat rows (CollapseProject keeps the
    * split because the producing expression is non-cheap and multiply
    * referenced).
    */
  def docStats(spark: SparkSession, dir: String): DataFrame =
    // narrow-project, CUT, then sort: the regex battery runs exactly
    // once (a bare orderBy above it would run it twice — the range
    // partitioner's sampling pass re-executes the child), and the sort
    // then shuffles only the ~50-byte stat rows, never the corpus text
    // (sorting the text-bearing input first would ship the whole
    // corpus through the range exchange at scale)
    Tables.documents(spark, dir)
      .withColumn("ws", TextOps.words(col("text")))
      .select(
        col("doc_id"),
        col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).cast("long").as("n_bpeish_tokens"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct_words"),
        round(TextOps.meanWordLenOf(col("ws")), 4).as("mean_word_len"),
        round(TextOps.punctRatio(col("text")), 4).as("punct_ratio"),
        round(TextOps.stopwordRatioOf(col("ws")), 4).as("stopword_ratio"),
        TextOps.qualityScoreOf(col("text"), col("ws")).as("quality"))
      .localCheckpoint(eager = false)
      .orderBy(col("doc_id"))

  /** Corpus profile by language: doc counts, size stats. */
  def langProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"))

  /** N-gram-heuristic language ID: score each doc against per-language
    * marker word sets and pick the argmax (deterministic tiebreak).
    * The marker lists are tiny and inlined — this is the classic
    * stopword-profile approach, not a model.
    */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "que", "dans"),
    "zh" -> Seq("de", "shi", "le", "zai", "he", "you", "wo", "ta"))

  def langId(docs: DataFrame): DataFrame = {
    val scores = LangMarkers.map { case (lang, markers) =>
      struct(
        size(filter(col("ws"), w => w.isin(markers.map(x => x: Any): _*)))
          .cast("long").as("score"),
        lit(lang).as("lang"))
    }
    // argmax by (score, lang) — array_max on structs compares fieldwise,
    // so ties break on the language code deterministically. The word
    // array and the score array are each materialized once (see
    // docStats on CollapseProject and interpreted HOFs).
    docs
      .withColumn("ws", TextOps.words(col("text")))
      .withColumn("scored", array_max(array(scores: _*)))
      .select(
        col("doc_id"),
        col("scored.lang").as("pred_lang"),
        col("scored.score").as("marker_hits"))
  }

  def langIdQuery(spark: SparkSession, dir: String): DataFrame =
    // narrow-project, cut, sort (see docStats): marker scoring runs
    // once and only (doc_id, pred_lang, hits) rows reach the sort
    langId(Tables.documents(spark, dir))
      .localCheckpoint(eager = false)
      .orderBy(col("doc_id"))

  /** TF-IDF: classic log-scaled variant, top term per doc.
    * tf = occurrences in doc; idf = ln(N / df). Exact integer inputs,
    * one IEEE ln + multiply — deterministic across engines.
    */
  def tfidfTopTerm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // checkpointed: tf feeds the df aggregate and the scored join
    // probe; without it the df branch re-explodes the corpus — one
    // (doc_id, word, tf) materialization buys back a full second
    // corpus pass
    val tf = TextOps.explodedWords(docs, col("doc_id"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    // tf has exactly one row per (doc_id, word) and doc_id is unique in
    // documents, so both "distinct" counts are plain counts — skipping
    // the two-phase distinct aggregation (Expand + double shuffle)
    val df_ = tf.groupBy(col("word"))
      .agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n"))
    val scored = tf
      .join(broadcast(df_), Seq("word"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        round(col("tf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("word").as("top_term"), col("tfidf"))
      .orderBy(col("doc_id"))
  }

  /** Top-k words per language via the custom typed TopKAggregator —
    * bounded O(k) state per group with map-side combine, vs the window
    * row_number formulation's full per-group sort (see TopKAggregator
    * scale notes).
    */
  def topWordsPerLang(spark: SparkSession, dir: String, k: Int = 3)
      : DataFrame = {
    import spark.implicits._
    import graft.functions.{ScoredEntry, TopKAggregator}
    val counts = TextOps
      .explodedWords(Tables.documents(spark, dir), col("lang"))
      .groupBy(col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)]
    counts
      .groupByKey(_._1)
      .mapValues(t => ScoredEntry(t._2, t._3))
      .agg(new TopKAggregator(k).toColumn)
      .flatMap { case (lang, entries) =>
        entries.zipWithIndex.map { case (e, i) =>
          (lang, e.payload, e.score, i + 1)
        }
      }
      .toDF("lang", "word", "n", "rank")
      .orderBy(col("lang"), col("rank"))
  }

  /** Winnowing fingerprints (the MOSS scheme, Schleimer et al. SIGMOD
    * '03) over WORD 3-grams: hash every gram of the normalized word
    * stream, keep each sliding window's minimum — any shared run of
    * w + 2 = 6 words between two documents is guaranteed to yield a
    * shared fingerprint. Word grams over char grams is a deliberate
    * volume choice (~6x fewer positions at identical guarantee
    * granularity for prose). The gram hash is the first 8 hex digits
    * of md5 parsed as an integer, chosen so ANOTHER ENGINE can
    * recompute the fingerprints exactly (the DuckDB oracle does);
    * xxhash64 would be faster but unverifiable. The query emits a
    * per-doc signature of the distinct-fingerprint set
    * (count/min/max/sum — order-free and exact) rather than the set
    * itself, keeping the compare surface at one row per document.
    *
    * Scale shape: explode to one row per word position (narrow), one
    * window pass per doc; the signature aggregate reuses the window's
    * doc_id partitioning, so the whole operator is ONE exchange.
    * Documents with fewer than 3 words have no grams and are absent,
    * per winnowing's definition.
    */
  /** The distinct winnowed fingerprint set, one (doc_id, fp) row per
    * selected gram hash — the joinable form (shared fingerprint =
    * plagiarism/copy candidate). `fingerprints` aggregates this to a
    * per-doc signature for the oracle gate.
    */
  def winnowedFingerprints(docs: DataFrame, w: Int = 4): DataFrame = {
    val win = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(-(w - 1), 0)
    docs
      .select(col("doc_id"),
        split(TextOps.normalizedStream(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(2), size(col("ws")) - 1)).as("i"))
      .select(col("doc_id"), col("i"),
        conv(substring(md5(concat_ws(" ",
          element_at(col("ws"), col("i") - 1),
          element_at(col("ws"), col("i")),
          element_at(col("ws"), col("i") + 1))), 1, 8), 16, 10)
          .cast("long").as("h"))
      .withColumn("fp", min(col("h")).over(win))
      .select(col("doc_id"), col("fp"))
  }

  def fingerprints(spark: SparkSession, dir: String, w: Int = 4): DataFrame =
    winnowedFingerprints(Tables.documents(spark, dir), w)
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("fp")).as("n_fps"),
        min(col("fp")).as("min_fp"),
        max(col("fp")).as("max_fp"),
        sum_distinct(col("fp")).as("fp_sum"))
      .orderBy(col("doc_id"))

  /** BM25 ranked retrieval (Robertson/Lucene idf variant) for a fixed
    * query term set — the relevance scorer an LLM-data search/filter
    * stage runs over a corpus.
    *
    *   idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))
    *   s(d,t)  = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    *   score(d) = sum over query terms of s(d,t)
    *
    * Scale shape: ONE corpus explode feeding one doc-keyed aggregate
    * that carries doc length AND the |Q| per-term tfs as conditional
    * sums — nothing vocabulary-wide ever shuffles (the per-doc row is
    * |Q|+1 counters wide), and neither the doc-length join of the
    * former three-branch shape nor its per-branch corpus re-explosion
    * exists; df and the corpus constants are tiny broadcast sides
    * derived from the checkpointed per-doc table. Determinism: tf/df/dl/N are
    * exact integers, avgdl is ONE integer division; each per-term
    * score is rounded to a 12-dp DECIMAL before the per-doc sum, so
    * the sum is order-independent (float sums in shuffle order are
    * not) and the DuckDB oracle reproduces it bit-for-bit.
    */
  def bm25TopK(spark: SparkSession, dir: String,
      queryTerms: Seq[String] = Seq("hash", "join", "scan", "filter"),
      k: Int = 25, k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    // k1/b defaults are exactly binary-representable (1.25, 0.75), so
    // k1+1 and 1-b fold to exact constants on BOTH engines — 1.2 would
    // make `k1 + 1` a round-to-nearest event the SQL literal 2.2 need
    // not agree with
    val toks = TextOps.explodedWords(Tables.documents(spark, dir), col("doc_id"))
    // ONE corpus pass: |Q| is a small fixed list, so per-term tfs ride
    // the same doc-length aggregate as conditional sums — the former
    // dl/tf/df three-branch shape re-exploded the corpus once per
    // branch (dl twice: corpus-stats input + join side). The result is
    // n_docs rows wide by |Q|+1 columns, checkpointed because both the
    // corpus-stats aggregate and the score stream consume it.
    val perDoc = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"),
        queryTerms.zipWithIndex.map { case (t, i) =>
          sum(when(col("word") === t, 1L).otherwise(0L)).as(s"tf_$i")
        }: _*)
      .localCheckpoint(eager = false)
    val corpus = perDoc.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = perDoc
      .select(col("doc_id"), col("dl"),
        explode(map(queryTerms.zipWithIndex.flatMap { case (t, i) =>
          Seq(lit(t), col(s"tf_$i"))
        }: _*)).as(Seq("word", "tf")))
      .filter(col("tf") > 0)
    val df_ = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(df_), Seq("word"))
      .crossJoin(broadcast(corpus))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("s",
        round(col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + (col("dl") * b / col("avgdl") + (1 - b)) * k1), 12)
          .cast("decimal(28,12)"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")).cast("double"), 6).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Heavy-hitter accuracy audit for the count-min sketch: build one
    * CMS over the full word stream (a single mergeable aggregate — see
    * CountMinAggregator for the scale contract), then report, for the
    * exact top-k words, the exact count next to the sketch estimate
    * and its overcount. The exact side exists to MEASURE the sketch;
    * in a production flow the sketch alone answers point queries over
    * streams a full groupBy could not hold.
    *
    * The estimate UDF runs on k rows against the broadcast 1-row
    * sketch — a cold path; the hot path (the stream aggregate) is the
    * codegen'd UDAF with map-side partial grids.
    */
  def cmsHeavyHitters(spark: SparkSession, dir: String, k: Int = 20,
      d: Int = 4, w: Int = 1024): DataFrame = {
    val words = TextOps.explodedWords(Tables.documents(spark, dir))
    val cms = udaf(new graft.functions.CountMinAggregator(d, w))
    val sketch = words.agg(cms(col("word")).as("sk"))
    val exact = words.groupBy(col("word")).agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("word")).limit(k)
    def est(sk: Column, x: Column): Column =
      graft.functions.CountMinAggregator.estimateExpr(sk, x, d, w)
    exact.crossJoin(broadcast(sketch))
      .select(col("word"), col("n_exact"),
        est(col("sk"), col("word")).as("n_est"))
      .withColumn("overcount", col("n_est") - col("n_exact"))
      .orderBy(col("n_exact").desc, col("word"))
  }

  /** All-pairs document cosine similarity over TRUNCATED tf-idf
    * vectors: each doc is represented by its top-m tf-idf terms and
    * pairs scoring >= threshold on those signatures are emitted. This
    * is the sparse-vector APSS operator (the text-side complement of
    * the embedding near-dup family) with the truncation acting as the
    * prefix filter: high-df terms carry low idf and never make a
    * top-m, so posting lists stay short and the term self-join fanout
    * is bounded by (docs sharing a DISCRIMINATIVE term)^2 instead of
    * (docs sharing "the")^2 — the difference between an all-pairs
    * explosion and a linear-ish candidate set at 100 TB.
    *
    * Determinism: tf/df/N are exact integers; w = tf * ln(N/df) is one
    * IEEE multiply+ln; the top-m cut breaks ties on the word; every
    * w_a*w_b product is rounded to a 12-dp DECIMAL before the dot-
    * product sum, so dots are order-independent; norms use the same
    * discipline. The truncated vector table is checkpointed once and
    * feeds the norm aggregate and both self-join sides.
    */
  def tfidfCosinePairs(spark: SparkSession, dir: String,
      m: Int = 8, threshold: Double = 0.7, dfCapDenom: Int = 8,
      maxPosting: Int = 1000): DataFrame =
    tfidfCosineCore(spark, dir, m, threshold, dfCapDenom, maxPosting)
      .select(col("doc_id_1"), col("doc_id_2"),
        round(col("cosine"), 6).as("cosine"))
      .orderBy(col("doc_id_1"), col("doc_id_2"))

  /** The unsorted, unrounded pair set behind tfidfCosinePairs — for
    * consumers that treat it as an edge LIST (pagerankNearDup), which
    * would otherwise inherit the query surface's full range-sort
    * exchange just to discard the order.
    */
  private[operators] def tfidfCosineCore(spark: SparkSession, dir: String,
      m: Int = 8, threshold: Double = 0.7, dfCapDenom: Int = 8,
      maxPosting: Int = 1000): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // checkpointed (like vec below): tf feeds df_ and the signature
    // build — one materialization instead of a second corpus explode
    val tf = TextOps.explodedWords(docs, col("doc_id"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val df_ = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n"))
    val wTop = Window.partitionBy(col("doc_id"))
      .orderBy(col("w").desc, col("word"))
    // eligibility floor BEFORE the top-m cut: only terms in at most
    // min(N/dfCapDenom, maxPosting) docs can enter a signature
    // (integer comparisons — no float threshold). The relative part
    // keeps corpus-common terms out of signatures at any scale; the
    // ABSOLUTE part is the scale guard: candidate generation does
    // df^2 work per term, so a bound that grows with N (N/dfCapDenom)
    // makes total join fanout quadratic in corpus size — measured
    // directly at the 10x scale-up, where sharded-vocabulary dfs sat
    // under the loosened relative floor and fanout went 62.5k -> 562M
    // rows (pagerank_neardup 2.6 s -> 12.5 min). With df <= maxPosting
    // the fanout is <= maxPosting * sum(df) <= maxPosting * m * N —
    // linear in N. At the committed SFs (<= sf0.1) the relative floor
    // is the binding one (N/8 <= 625 < 1000), so outputs are
    // unchanged there; the cap only engages past N = 8 * maxPosting.
    val vec = tf.join(broadcast(df_), Seq("word"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * dfCapDenom <= col("n") &&
        col("df") <= lit(maxPosting))
      .withColumn("w", col("tf") * log(col("n").cast("double") / col("df")))
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= m)
      .select(col("doc_id"), col("word"), col("w"))
      .localCheckpoint(eager = false)
    val norms = vec.groupBy(col("doc_id"))
      .agg(sqrt(sum(round(col("w") * col("w"), 12).cast("decimal(38,12)"))
        .cast("double")).as("norm"))
    val dots = vec
      .select(col("doc_id").as("doc_id_1"), col("word"), col("w").as("w1"))
      .join(vec.select(col("doc_id").as("doc_id_2"), col("word"),
        col("w").as("w2")), Seq("word"))
      .filter(col("doc_id_1") < col("doc_id_2"))
      .groupBy(col("doc_id_1"), col("doc_id_2"))
      .agg(sum(round(col("w1") * col("w2"), 12).cast("decimal(38,12)"))
        .as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_id_1"),
        col("norm").as("n1")), "doc_id_1")
      .join(norms.select(col("doc_id").as("doc_id_2"),
        col("norm").as("n2")), "doc_id_2")
      .withColumn("cosine", col("dot").cast("double") / (col("n1") * col("n2")))
      .filter(col("cosine") >= threshold)
      .select(col("doc_id_1"), col("doc_id_2"), col("cosine"))
  }

  /** First iteration of BPE tokenizer training: count adjacent
    * character pairs over the corpus, weighted by word frequency — the
    * pair with the max count is the merge a BPE trainer would perform.
    * Emits the top-k candidate merges.
    *
    * Scale shape: the pair explode runs over the DISTINCT word table
    * (Heaps' law: vocabulary grows ~sqrt of corpus, so the expensive
    * per-character enumeration touches a tiny fraction of the input),
    * carrying each word's corpus frequency as the weight. Two narrow
    * hash aggregates (word counts, then pair sums) and a top-k — the
    * corpus itself is read once, map-side combined to (word, count).
    * Repeated pairs inside a word each count ("aaa" contributes "aa"
    * twice), matching the reference BPE counting convention.
    */
  def bpePairs(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    TextOps.explodedWords(Tables.documents(spark, dir))
      .groupBy(col("word")).agg(count(lit(1)).as("n_word"))
      .filter(length(col("word")) >= 2)
      .select(col("n_word"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("n_word")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** Per-document cross-entropy under a Laplace-smoothed bigram LM
    * trained on the corpus itself — the perplexity-style quality score
    * a data pipeline uses to rank documents by "typicality" (KenLM
    * filtering, CCNet-style):
    *
    *   P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)
    *   ce(d)    = -(1/n_d) * sum over bigram slots of ln P
    *
    * Every count is an exact integer (bigram counts, unigram counts,
    * vocabulary size), so the probabilities are ratios of integers and
    * the score is engine-reproducible; each per-(doc, bigram) term is
    * rounded to a 12-dp DECIMAL before the per-doc sum, making the sum
    * order-independent under any partitioning.
    *
    * Scale shape: bigram slots are pre-aggregated per (doc, bigram) —
    * map-side combined — before anything joins; the corpus bigram
    * count comes from a window sum over the SAME shuffled layout (one
    * exchange on the bigram key serves both the per-doc tf and the
    * global count, no self-join re-scan); the unigram table joins on
    * the prefix word (AQE broadcasts it while it fits, degrades to a
    * hash join when the vocabulary outgrows that); V and the final
    * per-doc aggregate are narrow.
    */
  def docPerplexity(spark: SparkSession, dir: String): DataFrame =
    perplexityScores(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** The unsorted per-doc score table behind [[docPerplexity]] —
    * (doc_id, n_bigrams, cross_entropy), one row per document with
    * degenerate docs zero-filled. Exposed separately so composing
    * operators (CCNet-style bucket partitioning) reuse the scoring
    * pass without inheriting the presentation sort.
    */
  private[graft] def perplexityScores(docs: DataFrame): DataFrame = {
    // persisted (vocabulary rows, Heaps-bounded): uni feeds the vocab
    // scalar AND the per-bigram prefix join — uncached, the corpus
    // explode + word aggregate would run once per consumer
    val uni = TextOps.explodedWords(docs)
      .groupBy(col("word")).agg(count(lit(1)).as("c1"))
      .persist()
    val vocab = uni.agg(count(lit(1)).as("v"))
    // posexplode + lead bigram assembly (see Dedup.docNgrams — the
    // array-HOF path is interpreted); the bigram travels as a 64-bit
    // hash key: it is only ever grouped/joined on, never output, and
    // the prefix word rides along as its own column
    val wPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val perDocBg = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), TextOps.TokenSplitRe))
          .as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos"),
        TextOps.normalize(col("tok")).as("wa"))
      .filter(length(col("wa")) > 0)
      .withColumn("wb", lead(col("wa"), 1).over(wPos))
      .filter(col("wb").isNotNull)
      .select(col("doc_id"), col("wa").as("w1"),
        xxhash64(concat_ws(" ", col("wa"), col("wb"))).as("bg"))
      .groupBy(col("doc_id"), col("bg"), col("w1"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    // corpus bigram count as an AGGREGATE + equi-join, not a
    // sum-over-partitionBy(bg) window: a mega-hot bigram ("of the")
    // would funnel every doc containing it through ONE window task —
    // windows cannot be skew-split — while the aggregate map-side
    // combines to one row per bigram and the join back is an
    // AQE-splittable shuffle join. The checkpoint shares the per-doc
    // table between the two consumers.
    val c2 = perDocBg.groupBy(col("bg")).agg(sum(col("tf")).as("c2"))
    val bg = perDocBg.join(c2, Seq("bg"))
    val per = bg
      .join(uni.withColumnRenamed("word", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("term",
        round(col("tf") * -log((col("c2") + 1).cast("double") /
          (col("c1") + col("v")).cast("double")), 12)
          .cast("decimal(28,12)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("term")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("s").cast("double") / col("n_bigrams"), 6)
          .as("cross_entropy"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .withColumn("ce0", coalesce(col("cross_entropy"), lit(0.0)))
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("ce0").as("cross_entropy"))
  }

  /** Pointwise mutual information over word co-occurrence — the
    * collocation/topic-signal extractor:
    *
    *   pmi(a,b) = ln( (n_ab * N) / (n_a * n_b) )
    *
    * over DISTINCT (doc, word) presence, for words above a document-
    * frequency floor (df >= N/dfDenom) and pairs above a support floor
    * (n_ab >= N/pairDenom) — both RELATIVE to corpus size, so the
    * operator's cost model is scale-invariant. The floors are pure
    * INTEGER comparisons (df * dfDenom >= N): `ceil(N * 0.1)` would
    * evaluate in double on one engine and decimal on the other, and
    * 500 * 0.1 = 50.000000000000007 in IEEE — ceil 51 vs 50, a
    * threshold off-by-one that silently changes the vocabulary.
    *
    * Scale shape: the df floor is applied before the self-join, which
    * bounds the per-doc fanout at (frequent words per doc)^2 — per-doc
    * quadratic, corpus linear — and the join is an equi-join on doc_id
    * over narrow (doc_id, word) rows. The df side joins back via
    * broadcast (it is at most the frequent vocabulary). All inputs to
    * the ln are exact integers, so the oracle matches at 6 dp.
    */
  def pmiPairs(spark: SparkSession, dir: String,
      dfDenom: Int = 10, pairDenom: Int = 20,
      k: Int = 50): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // checkpointed: dw feeds the df aggregate and BOTH self-join sides
    // — three consumers, each of which would otherwise re-run the
    // explode + distinct shuffle (three corpus passes for one)
    val dw = TextOps.explodedWords(docs, col("doc_id"))
      .select(col("doc_id"), col("word")).distinct()
      .localCheckpoint(eager = false)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val df_ = dw.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * dfDenom >= col("n_docs"))
      .select(col("word"), col("df"))
    val fdw = dw.join(broadcast(df_), Seq("word"))
    val a = fdw.select(col("doc_id"), col("word").as("word_a"), col("df").as("df_a"))
    val bSide = fdw.select(col("doc_id"), col("word").as("word_b"), col("df").as("df_b"))
    a.join(bSide, Seq("doc_id"))
      .filter(col("word_a") < col("word_b"))
      .groupBy(col("word_a"), col("word_b"))
      .agg(count(lit(1)).as("n_ab"),
        first(col("df_a")).as("n_a"), first(col("df_b")).as("n_b"))
      .crossJoin(broadcast(nDocs))
      .filter(col("n_ab") * pairDenom >= col("n_docs"))
      .select(col("word_a"), col("word_b"), col("n_ab"),
        round(log(col("n_ab").cast("double") * col("n_docs") /
          (col("n_a").cast("double") * col("n_b"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("word_a"), col("word_b"))
      .limit(k)
  }

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("inverted_index",
      (s, d) => InvertedIndex.asStrings(Tables.documents(s, d))
        .orderBy(col("word")),
      """WITH toks AS (
        |  SELECT doc_id, lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents
        |), pairs AS (
        |  SELECT DISTINCT word, doc_id FROM toks WHERE length(word) > 0
        |)
        |SELECT word, string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id) AS doc_ids,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM pairs GROUP BY word ORDER BY word""".stripMargin),
    Query("word_stats", (s, d) => wordStats(s, d),
      """WITH toks AS (
        |  SELECT doc_id, lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents
        |)
        |SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM toks WHERE length(word) > 0 GROUP BY word ORDER BY word""".stripMargin),
    Query("top_words", (s, d) => topWords(s, d),
      """WITH toks AS (
        |  SELECT lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents
        |)
        |SELECT word, CAST(count(*) AS BIGINT) AS n
        |FROM toks WHERE length(word) > 0 GROUP BY word
        |ORDER BY n DESC, word LIMIT 20""".stripMargin),
    Query("lang_profile", (s, d) => langProfile(s, d),
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    Query("doc_stats", (s, d) => docStats(s, d),
      """WITH base AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(text, '[ \t\n]+'), t -> length(t) > 0)) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+')) + length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS BIGINT) AS n_bpeish_tokens,
        |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
        |  round(CASE WHEN len(ws) > 0 THEN CAST(list_sum(list_transform(ws, w -> length(w))) AS DOUBLE) / len(ws) ELSE 0.0 END, 4) AS mean_word_len,
        |  round(CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END, 4) AS punct_ratio,
        |  round(CASE WHEN len(ws) > 0 THEN CAST(len(list_filter(ws, w -> w IN ('the','a','an','and','or','of','to','in','is','are','was','on','for','it','that','this','with','as','by','at'))) AS DOUBLE) / len(ws) ELSE 0.0 END, 4) AS stopword_ratio,
        |  round((
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |    + (1.0 - least((CASE WHEN length(text) > 0 THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9 \t\n]', '', 'g')) AS DOUBLE) / length(text) ELSE 0.0 END) * 4.0, 1.0))
        |    + greatest(1.0 - abs((CASE WHEN len(ws) > 0 THEN CAST(len(list_filter(ws, w -> w IN ('the','a','an','and','or','of','to','in','is','are','was','on','for','it','that','this','with','as','by','at'))) AS DOUBLE) / len(ws) ELSE 0.0 END) - 0.35) * 2.0, 0.0)
        |  ) / 3.0, 4) AS quality
        |FROM base ORDER BY doc_id""".stripMargin),
    Query("lang_id", (s, d) => langIdQuery(s, d),
      """WITH base AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
        |  FROM documents),
        |scores AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ws, w -> w IN ('the','and','of','to','in','is','that','with'))) AS BIGINT) AS s_en,
        |    CAST(len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','mit','ein'))) AS BIGINT) AS s_de,
        |    CAST(len(list_filter(ws, w -> w IN ('el','la','de','que','y','en','un','es'))) AS BIGINT) AS s_es,
        |    CAST(len(list_filter(ws, w -> w IN ('le','la','de','et','un','est','que','dans'))) AS BIGINT) AS s_fr,
        |    CAST(len(list_filter(ws, w -> w IN ('de','shi','le','zai','he','you','wo','ta'))) AS BIGINT) AS s_zh
        |  FROM base)
        |SELECT doc_id,
        |  CASE WHEN s_zh = m THEN 'zh' WHEN s_fr = m THEN 'fr' WHEN s_es = m THEN 'es'
        |       WHEN s_en = m THEN 'en' ELSE 'de' END AS pred_lang,
        |  m AS marker_hits
        |FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS m FROM scores)
        |ORDER BY doc_id""".stripMargin),
    Query("tfidf_top_term", (s, d) => tfidfTopTerm(s, d),
      """WITH toks AS (
        |  SELECT doc_id, lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks WHERE length(word) > 0 GROUP BY doc_id, word),
        |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word,
        |         round(CAST(tf.tf AS DOUBLE) * ln(CAST(nd.n AS DOUBLE) / CAST(df.df AS DOUBLE)), 6) AS tfidf
        |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN nd),
        |ranked AS (
        |  SELECT doc_id, word, tfidf,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rn
        |  FROM scored)
        |SELECT doc_id, word AS top_term, tfidf FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    Query("doc_fingerprints", (s, d) => fingerprints(s, d),
      """WITH s AS (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(regexp_replace(text, '[^a-zA-Z \t\n]', '', 'g')), '[ \t\n]+', ' ', 'g')), ' ') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, i,
        |    CAST(concat('0x', substr(md5(ws[i-1] || ' ' || ws[i] || ' ' || ws[i+1]), 1, 8)) AS BIGINT) AS h
        |  FROM s, unnest(range(2, len(ws))) AS r(i)
        |  WHERE len(ws) >= 3),
        |wmin AS (
        |  SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM g),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wmin)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fps,
        |       min(fp) AS min_fp, max(fp) AS max_fp,
        |       CAST(sum(fp) AS BIGINT) AS fp_sum
        |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("topk_words_per_lang", (s, d) => topWordsPerLang(s, d),
      """WITH toks AS (
        |  SELECT lang, lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents),
        |counts AS (SELECT lang, word, CAST(count(*) AS BIGINT) AS n
        |           FROM toks WHERE length(word) > 0 GROUP BY lang, word),
        |ranked AS (
        |  SELECT lang, word, n,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, word) AS INTEGER) AS rank
        |  FROM counts)
        |SELECT lang, word, n, rank FROM ranked WHERE rank <= 3
        |ORDER BY lang, rank""".stripMargin),
    Query("bm25_topk", (s, d) => bm25TopK(s, d),
      """WITH toks AS (
        |  SELECT doc_id, lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents),
        |w AS (SELECT doc_id, word FROM toks WHERE length(word) > 0),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM w GROUP BY doc_id),
        |corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |                  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |       FROM w WHERE word IN ('hash', 'join', 'scan', 'filter')
        |       GROUP BY doc_id, word),
        |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |scored AS (
        |  SELECT tf.doc_id,
        |    CAST(round(
        |      ln(1.0 + (CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) *
        |      (tf * 2.25) / (tf + 1.25 * (0.25 + 0.75 * dl / avgdl)),
        |      12) AS DECIMAL(28,12)) AS s
        |  FROM tf JOIN df ON tf.word = df.word
        |  JOIN dl ON tf.doc_id = dl.doc_id
        |  CROSS JOIN corpus)
        |SELECT doc_id, round(CAST(sum(s) AS DOUBLE), 6) AS bm25,
        |       CAST(count(*) AS BIGINT) AS n_terms_hit
        |FROM scored GROUP BY doc_id
        |ORDER BY bm25 DESC, doc_id LIMIT 25""".stripMargin),
    Query("pmi_pairs", (s, d) => pmiPairs(s, d),
      """WITH toks AS (
        |  SELECT doc_id, lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents),
        |dw AS (SELECT DISTINCT doc_id, word FROM toks WHERE length(word) > 0),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |df AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS df FROM dw GROUP BY word
        |  HAVING count(*) * 10 >= (SELECT n_docs FROM nd)),
        |fdw AS (SELECT dw.doc_id, dw.word, df.df FROM dw JOIN df ON dw.word = df.word),
        |pairs AS (
        |  SELECT a.word AS word_a, b.word AS word_b,
        |    CAST(count(*) AS BIGINT) AS n_ab,
        |    any_value(a.df) AS n_a, any_value(b.df) AS n_b
        |  FROM fdw a JOIN fdw b ON a.doc_id = b.doc_id AND a.word < b.word
        |  GROUP BY a.word, b.word
        |  HAVING count(*) * 20 >= (SELECT n_docs FROM nd))
        |SELECT word_a, word_b, n_ab,
        |  round(ln(CAST(n_ab AS DOUBLE) * n_docs / (CAST(n_a AS DOUBLE) * n_b)), 6) AS pmi
        |FROM pairs CROSS JOIN nd
        |ORDER BY pmi DESC, word_a, word_b LIMIT 50""".stripMargin),
    Query("bpe_pairs", (s, d) => bpePairs(s, d),
      """WITH toks AS (
        |  SELECT lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents),
        |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS n_word
        |       FROM toks WHERE length(word) >= 2 GROUP BY word),
        |pairs AS (
        |  SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, n_word
        |  FROM wc, unnest(range(1, length(word))) AS t(i))
        |SELECT pair, CAST(sum(n_word) AS BIGINT) AS n
        |FROM pairs GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin),
    Query("doc_perplexity", (s, d) => docPerplexity(s, d),
      """WITH words AS (
        |  SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
        |  FROM documents),
        |uni AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS c1
        |        FROM (SELECT unnest(ws) AS w FROM words) GROUP BY w),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |bg AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bg, ws[i] AS w1,
        |         CAST(count(*) AS BIGINT) AS tf
        |  FROM words, unnest(range(1, len(ws))) AS t(i)
        |  WHERE len(ws) >= 2
        |  GROUP BY 1, 2, 3),
        |c2 AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS c2 FROM bg GROUP BY bg),
        |scored AS (
        |  SELECT doc_id, tf,
        |    CAST(round(tf * -ln(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)), 12) AS DECIMAL(28,12)) AS term
        |  FROM bg JOIN c2 USING (bg)
        |  JOIN uni ON bg.w1 = uni.word
        |  CROSS JOIN v),
        |per AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |         round(CAST(sum(term) AS DOUBLE) / sum(tf), 6) AS cross_entropy
        |  FROM scored GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(n_bigrams, 0) AS n_bigrams,
        |  COALESCE(cross_entropy, 0.0) AS cross_entropy
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    Query("tfidf_cosine_pairs", (s, d) => tfidfCosinePairs(s, d),
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
        |  GROUP BY 1, 2)
        |SELECT doc_id_1, doc_id_2,
        |  round(CAST(dot AS DOUBLE) / (n1.nrm * n2.nrm), 6) AS cosine
        |FROM dots
        |JOIN norms n1 ON doc_id_1 = n1.doc_id
        |JOIN norms n2 ON doc_id_2 = n2.doc_id
        |WHERE CAST(dot AS DOUBLE) / (n1.nrm * n2.nrm) >= 0.7
        |ORDER BY doc_id_1, doc_id_2""".stripMargin),
    // Count-min heavy-hitter oracle: the cell map crosses as data; the
    // grid (sum per touched cell over the full token stream), the
    // min-of-d-cells estimate, and the top-k cut are recomputed in SQL
    // — including the never-undercount property (overcount >= 0).
    Query("cms_heavy_hitters", (s, d) => cmsHeavyHitters(s, d),
      """WITH m AS (SELECT word, row_i, cell FROM read_parquet('/tmp/graft_oracle_aux/cms_cells/*.parquet')),
        |toks AS (
        |  SELECT lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM documents),
        |cnt AS (SELECT word, CAST(count(*) AS BIGINT) AS n
        |        FROM toks WHERE length(word) > 0 GROUP BY word),
        |grid AS (SELECT m.row_i, m.cell, CAST(SUM(cnt.n) AS BIGINT) AS g
        |         FROM cnt JOIN m USING (word) GROUP BY m.row_i, m.cell),
        |exact AS (SELECT word, n AS n_exact FROM cnt ORDER BY n DESC, word LIMIT 20)
        |SELECT e.word AS word, e.n_exact AS n_exact,
        |       CAST(MIN(g.g) AS BIGINT) AS n_est,
        |       CAST(MIN(g.g) - e.n_exact AS BIGINT) AS overcount
        |FROM exact e
        |JOIN m ON m.word = e.word
        |JOIN grid g ON g.row_i = m.row_i AND g.cell = m.cell
        |GROUP BY e.word, e.n_exact
        |ORDER BY e.n_exact DESC, e.word""".stripMargin))
}
