package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** The end-to-end training-data curation pipeline — the flow an LLM
  * data team actually runs, composed from this engine's operators:
  *
  *   1. exact dedup: keep one doc per normalized-fingerprint cluster
  *      (layout/punctuation/case variants collapse);
  *   2. near-dup removal: for every n-gram-Jaccard pair above
  *      threshold, drop the higher doc_id;
  *   3. quality gates: language allowlist + minimum token count.
  *
  * Every stage is individually oracle-checked elsewhere; this query is
  * the composition, also fully DuckDB-checkable. Plan shape: one
  * fingerprint window, one similarity self-join feeding a left-anti
  * join, one narrow filter — nothing quadratic, nothing driver-bound.
  */
object Pipeline {

  /** Optional `audit`: an `Observation` that receives output-side
    * metrics (rows kept, total tokens kept) computed DURING the run —
    * `Dataset.observe` evaluates the aggregates inline on the rows
    * flowing past, so the audit costs no extra pass. This is how a
    * production curation job reports its keep-rate without a second
    * count() over the result.
    */
  def curatedCorpus(spark: SparkSession, dir: String,
      minTokens: Int = 10,
      audit: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val docs = Tables.documents(spark, dir)

    // Keeper selection shuffles ONLY (fp, doc_id) — the min-doc_id-per-
    // fingerprint aggregate is map-side combined down to one row per
    // distinct fp before the exchange. The previous formulation (a
    // min() window over fp) dragged the full `text` column through the
    // fingerprint shuffle; at 100 TB that is the difference between
    // shuffling ~16 bytes/doc and shuffling the corpus. The semi-join
    // back is on doc_id: AQE broadcasts the keeper-id side here, and on
    // a cluster where the id set outgrows broadcast it degrades to a
    // doc_id shuffle — the same bytes the window shape paid, minus the
    // fingerprint pass.
    val keeperIds = docs
      .select(col("doc_id"), md5(TextOps.normalizedStream(col("text"))).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    // Materialized once: the near-dup join (which itself reads keepers
    // on two self-join sides via Dedup's checkpoint) and the final
    // anti-join both consume keepers; a real pipeline writes the
    // post-exact-dedup corpus between stages for the same reason.
    val keepers = docs
      .join(keeperIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("text"))
      .localCheckpoint()

    // near-dup join runs AFTER exact dedup: under heavy duplication
    // (crawl data) the similarity self-join is the expensive stage, and
    // exact duplicates would multiply its candidate fanout for no
    // information — keepers are the only docs whose pairs matter.
    // The exact n-gram join is used here (fastest measured when fused
    // into this pipeline); swapping in Dedup.minhashLshPairs changes
    // NOTHING semantically (P(miss) < 1e-14 at this threshold — same
    // oracle) and wins under replicated-crawl duplication (ScaleSmoke:
    // 3-4x at 20x), at the cost of a larger fused plan.
    val nearDupLosers = Dedup.ngramJaccardPairs(keepers)
      .select(col("doc_id_2").as("doc_id")).distinct()

    val curated = keepers
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
      .withColumn("n_tokens", TextOps.tokenCount(col("text")).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .filter(col("lang").isin("en", "de", "fr", "es"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    // observe AFTER the sort: range partitioning runs a sampling pass
    // over its child, so a below-the-sort observation double-counts
    val ordered = curated.orderBy(col("doc_id"))
    audit.fold(ordered)(obs =>
      ordered.observe(obs,
        count(lit(1)).as("rows_out"),
        sum(col("n_tokens")).as("tokens_out")))
  }

  /** Deterministic train/validation/test assignment by content-stable
    * hash: bucket = md5(doc_id) mod 100, split by fixed cut points
    * (80/10/10). The property that matters at scale: assignment is a
    * pure per-row function — no shuffle, no global state, stable
    * across reruns and cluster sizes, and a doc keeps its split when
    * the corpus grows (unlike modulo-on-row-number schemes, which
    * reshuffle every doc on any insertion).
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long"), lit(100)).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  /** Sequence packing for LLM pre-training: concatenate each
    * language's doc stream in doc_id order and chop it into
    * fixed-token-budget bins — every doc gets (bin, bin_offset), the
    * exact write position a packed-example writer needs. This is the
    * concat-and-chop packing used in practice (docs may straddle a
    * boundary and be truncated/continued by the writer).
    *
    * The cumulative sum is a TWO-PHASE distributed prefix sum, not a
    * `Window.partitionBy(lang)` — that window puts an entire
    * language's stream on one reducer, which is a single-task
    * bottleneck on any real (mostly-one-language) corpus. Here:
    * range-partition by (lang, doc_id), sum per partition (one tiny
    * row per partition), prefix-sum those partials per language (the
    * only serial step — over #partitions rows, not #docs), broadcast
    * the offsets back, and finish with a per-(lang, partition) running
    * sum that parallelizes across the range chunks. Result is
    * identical to the global formulation for any partition boundary
    * placement, so the oracle and the determinism gate see the same
    * rows at any parallelism.
    */
  def packSequences(spark: SparkSession, dir: String,
      budget: Int = 2048): DataFrame = {
    val stats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    // freeze the partition ids: two consumers (partials, join-back)
    // must see the SAME range boundaries. Lazy checkpoint: the RDD is
    // shared by both branches and materializes on the first action, so
    // merely CONSTRUCTING this query (plan printing, dry runs) costs
    // nothing. No sortWithinPartitions — spark_partition_id depends
    // only on the partitioning, and every consumer re-sorts or
    // aggregates regardless.
    val ranged = stats
      .repartitionByRange(col("lang"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val wOff = Window.partitionBy(col("lang")).orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged
      .groupBy(col("lang"), col("pid"))
      .agg(sum(col("n_tokens")).as("part_sum"))
      .withColumn("offset",
        coalesce(sum(col("part_sum")).over(wOff), lit(0L)))
      .select(col("lang").as("o_lang"), col("pid").as("o_pid"),
        col("offset"))
    val wIn = Window.partitionBy(col("lang"), col("pid"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      // null-safe on lang: an equi-join would silently DROP null-lang
      // docs that the window formulation (and the oracle's PARTITION
      // BY lang) treat as a valid group
      .join(broadcast(offsets),
        col("lang") <=> col("o_lang") && col("pid") === col("o_pid"))
      .withColumn("cum_before",
        col("offset") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        floor(col("cum_before") / budget).cast("long").as("bin"),
        (col("cum_before") % budget).as("bin_offset"))
      .orderBy(col("doc_id"))
  }

  /** Sliding-window token chunking — the RAG-ingestion op: each doc is
    * cut into chunks of `chunkSize` whitespace tokens starting every
    * `step = chunkSize - overlap` tokens, so consecutive chunks share
    * `overlap` tokens and every token lands in at least one chunk.
    * Emits the chunk's write-position metadata and a content hash (the
    * join key an embedding/indexing stage needs) rather than the text
    * itself — hash-stable for the oracle, and the narrow shape a
    * downstream embed job would shuffle.
    *
    * Pure per-row generate: split once, explode the chunk-start
    * sequence, slice per chunk — no shuffle until the final sort, no
    * per-doc state. Zero-token docs produce no chunks (their presence
    * is the quality gate's concern, not the chunker's).
    */
  def chunkDocs(spark: SparkSession, dir: String,
      chunkSize: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got overlap=$overlap size=$chunkSize")
    val step = chunkSize - overlap
    // trim + single-pass regex split leaves no empty tokens (the
    // separator class collapses runs), so no interpreted HOF filter
    val ws = when(length(trim(col("text"))) === 0,
      array().cast("array<string>"))
      .otherwise(split(trim(col("text")), TextOps.TokenSplitRe))
    Tables.documents(spark, dir)
      .select(col("doc_id"), ws.as("ws"), size(ws).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0),
          ceil(col("n").cast("double") / step).cast("int") - 1))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("ws"), col("chunk_id") * step + 1, lit(chunkSize)))
          .cast("long").as("n_chunk_tokens"),
        md5(array_join(slice(col("ws"), col("chunk_id") * step + 1, lit(chunkSize)),
          " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Temperature-scaled data-mixing weights per source — the sampling
    * table a multi-source pre-training run is configured from
    * (UnifiedQA / GPT-3-style alpha-smoothing):
    *
    *   weight(s) ∝ n_tokens(s)^alpha        (alpha < 1 upweights
    *                                         small sources)
    *   oversample(s) = weight(s) / natural_share(s)
    *
    * One narrow aggregate over (source, token count) — partial-agg
    * combines map-side to one row per source, so the shuffle carries
    * |sources| rows regardless of corpus size; the normalizing sum is
    * a broadcast of that tiny aggregate. Determinism: the powered
    * weights are rounded to 9-dp DECIMAL before normalization, so the
    * total is order-independent and the oracle reproduces it exactly.
    */
  def dataMix(spark: SparkSession, dir: String): DataFrame = {
    // alpha is pinned at 0.5 so the power is sqrt — correctly rounded
    // by IEEE 754 on every engine, unlike pow(x, 0.5) which libm does
    // not guarantee to the last ulp
    val per = Tables.documents(spark, dir)
      .select(col("source"), TextOps.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("w_raw",
        round(sqrt(col("n_tokens").cast("double")), 9)
          .cast("decimal(28,9)"))
    val totals = per.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      sum(col("w_raw")).as("tot_w"))
    // decimal sums keep the totals order-independent; the DIVISIONS
    // happen in double (decimal/decimal rounding rules differ between
    // engines, double division is IEEE-identical everywhere)
    val share = col("w_raw").cast("double") / col("tot_w").cast("double")
    per.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(share, 9).as("weight"),
        round(share /
          (col("n_tokens").cast("double") / col("tot_tokens").cast("double")),
          6).as("oversample"))
      .orderBy(col("source"))
  }

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("curated_corpus", (s, d) => curatedCorpus(s, d),
      """WITH normed AS (
        |  SELECT doc_id, lang, text,
        |    md5(array_to_string(list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0), ' ')) AS fp
        |  FROM documents),
        |keepers AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |           min(doc_id) OVER (PARTITION BY fp) AS keeper
        |    FROM normed) WHERE doc_id = keeper),
        |words AS (
        |  SELECT doc_id, list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0) AS ws
        |  FROM keepers),
        |ng AS (
        |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS ngram
        |  FROM words, unnest(range(1, len(ws) - 1)) AS t(i)
        |  WHERE len(ws) >= 3),
        |sizes AS (SELECT doc_id, count(*) AS n FROM ng GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
        |  FROM ng a JOIN ng b ON a.ngram = b.ngram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |losers AS (
        |  SELECT DISTINCT d2 AS doc_id FROM inter
        |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
        |  WHERE CAST(c AS DOUBLE) / CAST(s1.n + s2.n - c AS DOUBLE) >= 0.5)
        |SELECT k.doc_id, k.lang,
        |  CAST(len(list_filter(string_split_regex(k.text, '[ \t\n]+'), t -> length(t) > 0)) AS BIGINT) AS n_tokens
        |FROM keepers k
        |WHERE k.doc_id NOT IN (SELECT doc_id FROM losers)
        |  AND len(list_filter(string_split_regex(k.text, '[ \t\n]+'), t -> length(t) > 0)) >= 10
        |  AND k.lang IN ('en', 'de', 'fr', 'es')
        |ORDER BY k.doc_id""".stripMargin),
    Query("split_assign", (s, d) => splitAssign(s, d),
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin),
    Query("pack_sequences", (s, d) => packSequences(s, d),
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(text, '[ \t\n]+'), t -> length(t) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM t)
        |SELECT doc_id, lang, n_tokens,
        |  CAST(FLOOR(cum_before / 2048) AS BIGINT) AS bin,
        |  CAST(cum_before % 2048 AS BIGINT) AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin),
    Query("chunk_docs", (s, d) => chunkDocs(s, d),
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '[ \t\n]+') END AS ws
        |  FROM documents),
        |s AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) > 0),
        |c AS (
        |  SELECT doc_id, ws, n, CAST(i AS INTEGER) AS chunk_id
        |  FROM s, unnest(range(0, CAST(ceil(CAST(n AS DOUBLE) / 48) AS BIGINT))) AS u(i))
        |SELECT doc_id, chunk_id,
        |  CAST(len(ws[chunk_id * 48 + 1 : least(chunk_id * 48 + 64, n)]) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(ws[chunk_id * 48 + 1 : least(chunk_id * 48 + 64, n)], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),
    Query("data_mix", (s, d) => dataMix(s, d),
      """WITH per AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(list_filter(string_split_regex(text, '[ \t\n]+'), t -> length(t) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs, n_tokens,
        |        CAST(round(sqrt(CAST(n_tokens AS DOUBLE)), 9) AS DECIMAL(28,9)) AS w_raw
        |      FROM per),
        |tot AS (SELECT sum(n_tokens) AS tot_tokens, sum(w_raw) AS tot_w FROM w)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(w_raw AS DOUBLE) / CAST(tot_w AS DOUBLE), 9) AS weight,
        |  round((CAST(w_raw AS DOUBLE) / CAST(tot_w AS DOUBLE)) /
        |        (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)), 6) AS oversample
        |FROM w CROSS JOIN tot ORDER BY source""".stripMargin))
}
