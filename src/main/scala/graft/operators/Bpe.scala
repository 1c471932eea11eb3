package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextOps
import graft.sources.Tables

/** Byte-pair-encoding tokenizer training and application (Sennrich et
  * al. 2016, "Neural Machine Translation of Rare Words with Subword
  * Units") — the full iterative merge-learning loop, not just the
  * first-iteration pair census ([[TextAnalysis.bpePairs]] keeps that
  * as the cheap one-shot diagnostic).
  *
  * Extension operator (no reference analog — the reference's word
  * pipeline stops at whole-word counting, `src/tema1.cpp:118-177`);
  * this is the "token counting under a trained subword vocabulary"
  * capability an LLM data pipeline needs for per-document token
  * budgeting and corpus mixing by token share.
  *
  * == The segmentation representation ==
  *
  * A word's current segmentation is ONE string: every symbol wrapped
  * in a `U+001F` unit separator (rendered `␟` below) and concatenated —
  * `"abc"` → `␟a␟␟b␟␟c␟`. Words are `[a-z]+` after
  * [[TextOps.normalize]], so the separator can never collide with
  * symbol bytes. Applying merge (a,b) is then a single codegen'd
  * string `replace` of `␟a␟␟b␟` with `␟ab␟`, and that replace is
  * PROVABLY the greedy left-to-right BPE merge pass: `replace` scans
  * left to right taking non-overlapping occurrences, the wrapping
  * makes occurrences self-delimiting (the matched text ends at a
  * symbol boundary, so consuming it never eats the start of the next
  * match — `[a,b,a,b]` merges both), and overlapping repeats resolve
  * leftmost-first exactly like the scalar scan (`[a,a,a]` with merge
  * (a,a) → `[aa,a]`). DuckDB's `replace` has the same contract, which
  * is what makes the oracle an independent exact replay rather than a
  * rows-only check.
  *
  * == Scale shape ==
  *
  * Training never re-touches the corpus: one corpus scan builds the
  * (word, freq) vocabulary — Heaps' law keeps it ~sqrt-of-corpus —
  * and every one of the k iterations is a narrow job over that cached
  * vocab: a pair explode (weighted by freq), one hash aggregate, and
  * a 1-row argmax collected to the driver (bounded reduction, the
  * [[Ivf]] fit contract). Merge application is a map (the nested
  * `replace` chain stays whole-stage-codegen); lineage is truncated
  * every few iterations so the plan never deepens past a handful of
  * replaces. Tokenization joins the per-(doc, word) count table to
  * the per-word token count — vocab-sized build side, AQE broadcasts
  * it while it fits.
  *
  * Determinism: counts are exact integers and the argmax orders by
  * (count DESC, left, right) — a total order — so the learned merge
  * table is bit-identical under any partitioning or task order.
  */
object Bpe {
  /** Unit separator: words are [a-z]+ post-normalize, never collides. */
  val Sep = "\u001f"
  private val SepSep = Sep + Sep

  /** `word -> ␟c1␟␟c2␟…␟cn␟` (single chars wrapped). */
  private def wrapped(word: Column): Column =
    concat(lit(Sep), regexp_replace(word, "(?<=.)(?=.)", SepSep), lit(Sep))

  /** Wrapped string -> array of current symbols. */
  private def symsOf(s: Column): Column =
    split(regexp_replace(s, s"^$Sep|$Sep$$", ""), SepSep)

  /** Symbol count straight off the wrapped string: #(␟␟) + 1 — the
    * separator pairs sit exactly between adjacent symbols. */
  private def symCount(s: Column): Column =
    ((length(s) - length(replace(s, lit(SepSep), lit("")))) / 2 + 1)
      .cast("long")

  final case class Merge(rank: Int, lhs: String, rhs: String, n: Long) {
    def merged: String = lhs + rhs
  }

  /** Train on a corpus dir's word stream. Deliberately NOT cached
    * across queries (unlike [[Ivf.cachedCentroids]], whose k-means fit
    * is shared by a whole index family): `bpe_train` and
    * `bpe_tokenize` each pay their own training so their bench
    * timings are self-contained — a session cache would make one
    * query's measured time depend on which query ran first, exactly
    * the suite-context coupling the bench methodology isolates
    * against. A production pipeline persists the merge table instead
    * (write `train`'s output, fold it back via the replace chain). */
  def corpusMerges(spark: SparkSession, dir: String, k: Int): Seq[Merge] =
    learnMerges(TextOps.explodedWords(Tables.documents(spark, dir)), k)

  /** The training loop over a (…, word) row stream. Exposed for specs;
    * production entry points go through [[corpusMerges]]. */
  def learnMerges(words: DataFrame, k: Int): Seq[Merge] =
    learnMergesFromCensus(
      words.groupBy(col("word")).agg(count(lit(1)).as("n")), k)

  /** The merge loop over an already-built (word, n) census — the
    * corpus-scan-free training tail the incremental maintenance
    * re-runs over a merged census. */
  def learnMergesFromCensus(census: DataFrame, k: Int): Seq[Merge] = {
    // 1-char words can never host a pair and never change: keep the
    // iteration table to merge-able words only
    var vocab = census
      .filter(length(col("word")) >= 2)
      .select(col("n"), wrapped(col("word")).as("s"))
      .localCheckpoint(eager = false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var exhausted = false
    while (merges.size < k && !exhausted) {
      val best = vocab
        .select(col("n"), symsOf(col("s")).as("y"))
        .filter(size(col("y")) >= 2)
        .select(col("n"),
          explode(transform(sequence(lit(1), size(col("y")) - 1),
            i => struct(element_at(col("y"), i).as("a"),
              element_at(col("y"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += Merge(merges.size + 1, a, b, best(0).getLong(2))
        vocab = vocab.withColumn("s",
          replace(col("s"), lit(Sep + a + SepSep + b + Sep),
            lit(Sep + a + b + Sep)))
        // bound the replace-chain depth; blocks are reclaimed by the
        // harness's Cleanup.dropPersisted after the query
        if (merges.size % 8 == 0)
          vocab = vocab.localCheckpoint(eager = false)
      }
    }
    merges.toSeq
  }

  /** Registry entry: the learned merge table,
    * (rank, lhs, rhs, merged, n) ordered by rank. */
  def train(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    corpusMerges(spark, dir, k)
      .map(m => (m.rank, m.lhs, m.rhs, m.merged, m.n))
      .toDF("rank", "lhs", "rhs", "merged", "n")
      .orderBy(col("rank"))
  }

  /** Apply a merge list to a word column: the nested codegen'd
    * replace chain over the wrapped representation. */
  private def applyMerges(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(wrapped(word)) { (s, m) =>
      replace(s, lit(Sep + m.lhs + SepSep + m.rhs + Sep),
        lit(Sep + m.merged + Sep))
    }

  /** Registry entry: per-document token accounting under the trained
    * tokenizer — (doc_id, n_words, n_tokens, n_chars,
    * chars_per_token), every document present (empty docs zero-fill).
    *
    * The merge chain runs over the DISTINCT word table only; the
    * corpus-sized side carries (doc_id, word, count) and joins the
    * vocab-sized token counts on word.
    */
  def tokenizeDocs(spark: SparkSession, dir: String, k: Int = 20)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = corpusMerges(spark, dir, k)
    val perDocWord = TextOps.explodedWords(docs, col("doc_id"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("c"))
    val perWord = perDocWord.select(col("word")).distinct()
      .select(col("word"),
        symCount(applyMerges(col("word"), merges)).as("tok"))
    val perDoc = perDocWord
      .join(perWord, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("w"),
        sum(col("c") * col("tok")).as("t"),
        sum(col("c") * length(col("word"))).as("ch"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("w"), lit(0L)).as("n_words"),
        coalesce(col("t"), lit(0L)).as("n_tokens"),
        coalesce(col("ch"), lit(0L)).as("n_chars"),
        round(when(coalesce(col("t"), lit(0L)) === 0, 0.0)
          .otherwise(coalesce(col("ch"), lit(0L)).cast("double") /
            col("t")), 6).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // Incremental merge-table maintenance. The training state that CAN
  // be maintained incrementally is the (word, n) census — exact
  // integer counts whose delta merge is associative, so the merged
  // table is bit-equal to the merged corpus's census ([[Unigram]]'s
  // argument; the census is ONE persisted artifact shared by both
  // tokenizer families, and its persistence lives there).
  //
  // Order-sensitivity posture (decided, the way the LSH posture was):
  // BPE merges are rank-ordered and every iteration's pair counts
  // depend on all earlier merges, so NO prefix of an old merge table
  // can be reused against updated counts without re-verifying each
  // rank — a delta can promote a runner-up pair at any rank and
  // invalidate the entire suffix. The sound incremental unit is
  // therefore the census, and maintenance re-runs the WHOLE
  // k-iteration merge loop over it. The result is bit-equal to a full
  // retrain by construction (retraining from the merged census IS the
  // retrain — no approximation, no drift gate, BpeSpec pins it); what
  // maintenance saves is exactly the corpus text scan, the dominant
  // cost at scale — the loop itself is Heaps'-law-bounded,
  // vocab-sized, corpus-free.
  // ------------------------------------------------------------------

  /** Merge table maintained against a delta doc set: persisted census
    * + delta census, then the full merge loop — bit-equal to a
    * retrain over the merged corpus. */
  def incrementalMerges(spark: SparkSession, dir: String,
      delta: DataFrame, k: Int): Seq[Merge] =
    learnMergesFromCensus(Unigram.mergedWords(spark, dir, delta), k)

  /** Process memo of the incremental DEMO's maintained merge table
    * (the [[SuffixRanks.syntheticDocDelta]] fixture) — the
    * [[Unigram.cachedIncrVocabs]] posture. */
  private val incrMergeCache =
    new graft.sources.StampedCache[String, Seq[Merge]]()

  private[graft] def cachedIncrMerges(spark: SparkSession, dir: String,
      k: Int): Seq[Merge] = {
    val stamp =
      graft.sources.CorpusStamp.of(spark, s"$dir/documents.parquet")
    incrMergeCache.get(dir, stamp) {
      incrementalMerges(spark, dir,
        SuffixRanks.syntheticDocDelta(Tables.documents(spark, dir)), k)
    }
  }

  /** Registry entry: the maintained merge table over the merged corpus
    * (original documents + the re-keyed reversed every-29th delta) —
    * [[train]]'s shape. The oracle replays the census merge and the
    * full merge loop in SQL over the same merged corpus. */
  def incrementalTrain(spark: SparkSession, dir: String,
      k: Int = 20): DataFrame = {
    import spark.implicits._
    cachedIncrMerges(spark, dir, k)
      .map(m => (m.rank, m.lhs, m.rhs, m.merged, m.n))
      .toDF("rank", "lhs", "rhs", "merged", "n")
      .orderBy(col("rank"))
  }

  // ------------------------------------------------------------------
  // Store-keyed merge-table family + the ingest-commit maintainer:
  // the BPE analog of Unigram's store family, reading the SAME
  // persisted census artifact.
  // ------------------------------------------------------------------

  private def storeKey(path: String): String = s"store:$path"

  private val storeMergeCache =
    new graft.sources.StampedCache[String, Seq[Merge]]()

  /** Probe hook: the (stamp, merge table) currently served for the
    * store — the E2E spec's no-rebuild evidence. */
  private[graft] def servedStoreMerges(path: String)
      : Option[(Long, Seq[Merge])] = storeMergeCache.peek(storeKey(path))

  /** The store's trained merge table: cold = one corpus scan into the
    * shared persisted census + the merge loop; maintained = served
    * straight from the commit-time install. */
  def storeMerges(spark: SparkSession, path: String,
      k: Int = 20): Seq[Merge] = {
    val stamp = graft.sources.CorpusStamp.of(spark, path)
    storeMergeCache.get(storeKey(path), stamp) {
      learnMergesFromCensus(Unigram.storeWordFreqs(spark, path), k)
    }
  }

  /** Final trained merge table for a store — [[train]]'s shape. */
  def storeTrain(spark: SparkSession, path: String,
      k: Int = 20): DataFrame = {
    import spark.implicits._
    storeMerges(spark, path, k)
      .map(m => (m.rank, m.lhs, m.rhs, m.merged, m.n))
      .toDF("rank", "lhs", "rhs", "merged", "n")
      .orderBy(col("rank"))
  }

  /** The BPE family's [[graft.sources.ArtifactMaintenance]] maintainer.
    * On a PURE-APPEND commit whose served census was built under
    * exactly the pre-commit stamp, it merges the delta census into the
    * persisted table, installs the table (words-only — the unigram
    * maintainer owns its own vocab install; if both families fire on
    * one commit the second table install is a `_SUCCESS` no-op), and
    * installs the re-run merge loop under the post-commit stamp.
    * Everything else skips — a non-pure commit deletes words the
    * additive merge cannot subtract; the flipped stamp then forces a
    * correct rebuild on next access (the staleness contract). */
  def storeMaintainer(k: Int = 20)
      : graft.sources.ArtifactMaintenance.Maintainer =
    (spark, c) => {
      if (c.pureAppend) {
        val post = graft.sources.CorpusStamp.of(spark, c.path)
        Unigram.servedStoreWords(c.path) match {
          case Some((s, mergedDir)) if s == post =>
            // a sibling census consumer (the unigram maintainer, fired
            // earlier on THIS commit) already merged and installed the
            // post-commit table — one census merge per commit, however
            // many families consume it
            storeMergeCache.put(storeKey(c.path), post,
              learnMergesFromCensus(spark.read.parquet(mergedDir), k))
          case Some((s, oldDir)) if s == c.preStamp =>
            val merged = spark.read.parquet(oldDir)
              .unionByName(Unigram.wordFreqsOf(c.delta))
              .groupBy(col("word")).agg(sum(col("n")).as("n"))
            Unigram.installStoreWords(spark, c.path, merged)
            storeMergeCache.put(storeKey(c.path), post,
              learnMergesFromCensus(merged, k))
          case _ => () // cold/mismatched: correct rebuild on next access
        }
      }
    }

  /** Independent DuckDB replay of the BPE training loop
    * ([[graft.operators.Bpe]]): k chained CTE triples (pair census →
    * 1-row argmax → merge application). The segmentation travels as
    * the same chr(31)-wrapped string the engine uses, so DuckDB's
    * left-to-right non-overlapping `replace` reproduces the greedy
    * merge pass exactly (see Bpe's representation Scaladoc for the
    * proof sketch). The LEFT JOIN ON TRUE guard keeps v_t = v_{t-1}
    * when a tiny corpus runs out of pairs before k merges.
    */
  private[graft] val BpeK = 20

  private[graft] def bpeVocabCte(k: Int, pre: String = "",
      docsRel: String = "documents"): String = {
    val S = "chr(31)"
    val SS = "chr(31) || chr(31)"
    val sb = new StringBuilder
    sb.append(
      s"""WITH ${pre}dtoks AS (
        |  SELECT doc_id, lower(regexp_replace(unnest(string_split_regex(text, '[ \\t\\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |  FROM $docsRel),
        |v0 AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS n,
        |    chr(31) || array_to_string(list_transform(range(1, length(word) + 1), i -> substring(word, CAST(i AS INTEGER), 1)), chr(31) || chr(31)) || chr(31) AS s
        |  FROM dtoks WHERE length(word) >= 2 GROUP BY word)""".stripMargin)
    for (t <- 1 to k) {
      sb.append(s""",
        |p$t AS (
        |  SELECT syms[CAST(i AS INTEGER)] AS a, syms[CAST(i AS INTEGER) + 1] AS b, sum(n) AS cnt
        |  FROM (SELECT n, string_split(s[2:-2], $SS) AS syms FROM v${t - 1}),
        |       unnest(range(1, len(syms))) AS u$t(i)
        |  GROUP BY 1, 2),
        |best$t AS MATERIALIZED (SELECT a, b, cnt FROM p$t ORDER BY cnt DESC, a, b LIMIT 1),
        |v$t AS MATERIALIZED (
        |  SELECT word, n, CASE WHEN b.a IS NULL THEN v.s
        |    ELSE replace(v.s, $S || b.a || $SS || b.b || $S, $S || b.a || b.b || $S) END AS s
        |  FROM v${t - 1} v LEFT JOIN best$t b ON TRUE)""".stripMargin)
    }
    sb.toString
  }

  private def bpeMergesTail(k: Int): String =
    "\n" + (1 to k).map(t =>
      s"""SELECT CAST($t AS INTEGER) AS "rank", a AS lhs, b AS rhs, a || b AS merged, CAST(cnt AS BIGINT) AS n FROM best$t""")
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", s"""\n) ORDER BY "rank"""")

  private val BpeTrainSql: String = bpeVocabCte(BpeK) + bpeMergesTail(BpeK)

  /** bpe_incremental oracle: the identical merge-loop replay, over the
    * merged corpus (documents + the re-keyed reversed every-29th
    * delta) — training from the merged census is bit-equal to a full
    * retrain, so the oracle IS the retrain. */
  private val BpeIncrementalSql: String =
    bpeVocabCte(BpeK,
      pre = """mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
        |docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + m AS doc_id, reverse(text) AS text
        |  FROM documents, mx WHERE doc_id % 29 = 3),
        |""".stripMargin,
      docsRel = "docs2") + bpeMergesTail(BpeK)

  private val BpeTokenizeSql: String =
    bpeVocabCte(BpeK) +
      s""",
        |tokc AS (
        |  SELECT word, CAST(1 + (length(s) - length(replace(s, chr(31) || chr(31), ''))) // 2 AS BIGINT) AS tok FROM v$BpeK
        |  UNION ALL
        |  SELECT DISTINCT word, CAST(1 AS BIGINT) FROM dtoks WHERE length(word) = 1),
        |dw AS (
        |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
        |  FROM dtoks WHERE length(word) > 0 GROUP BY doc_id, word),
        |agg AS (
        |  SELECT doc_id, sum(c) AS w, sum(c * tok) AS t, sum(c * length(word)) AS ch
        |  FROM dw JOIN tokc USING (word) GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.w, 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(a.t, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(a.ch, 0) AS BIGINT) AS n_chars,
        |  round(CASE WHEN coalesce(a.t, 0) = 0 THEN 0.0 ELSE CAST(a.ch AS DOUBLE) / a.t END, 6) AS chars_per_token
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("bpe_train", (s, d) => train(s, d, BpeK), BpeTrainSql),
    Query("bpe_incremental", (s, d) => incrementalTrain(s, d, BpeK),
      BpeIncrementalSql),
    Query("bpe_tokenize", (s, d) => tokenizeDocs(s, d, BpeK), BpeTokenizeSql))
}
