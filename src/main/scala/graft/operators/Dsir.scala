package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** DSIR — Data Selection via Importance Resampling (Xie et al.,
  * NeurIPS 2023): score every raw document by how much more likely its
  * hashed-unigram bag is under a TARGET distribution than under the
  * RAW corpus distribution, then resample with Gumbel-top-k on the log
  * weights. This is the published method for tilting a crawl-scale
  * corpus toward a quality/domain target without training a
  * classifier; here the target distribution is estimated from the
  * corpus' own docs in a designated language (a stand-in for "a small
  * trusted corpus" — the estimator only ever sees bucket counts, so
  * any target predicate slots in).
  *
  *   log w(d) = sum over tokens t of [ ln p_tgt(b(t)) - ln p_raw(b(t)) ]
  *
  * with b() a hash into `buckets` buckets and add-1 smoothing on both
  * distributions. The bucket hash is the md5-prefix trick from
  * TextAnalysis.winnowedFingerprints so a second engine can recompute
  * it exactly.
  *
  * Scale shape: ONE corpus explode materialized narrow as
  * (doc_id, lang, bucket) and consumed twice (lazy localCheckpoint —
  * the multi-consumer pattern the text family uses); bucket stats for
  * BOTH distributions ride a single B-sized conditional-sum aggregate;
  * the weight pass broadcast-joins the B-row log-ratio table and
  * reduces per doc with map-side combine. Nothing vocabulary- or
  * corpus-sized ever reaches the driver, and the only full shuffle is
  * doc-keyed. Determinism: each bucket's log-ratio is rounded to 12 dp
  * and cast to DECIMAL before the per-doc sum, so the sum is
  * independent of row order (float sums in shuffle order are not).
  */
object Dsir {

  /** (doc_id, lang, bucket) token stream + the B-row log-ratio table;
    * shared by the weight and sample queries.
    */
  private def tokensAndRatios(spark: SparkSession, dir: String,
      targetLang: String, buckets: Int): (DataFrame, DataFrame) = {
    val toks = TextOps
      .explodedWords(Tables.documents(spark, dir), col("doc_id"), col("lang"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long")
          % buckets).as("b"))
      .localCheckpoint(eager = false)
    val stats = toks.groupBy(col("b")).agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("n_tgt"))
    val totals = stats.agg(
      sum(col("n_raw")).as("t_raw"), sum(col("n_tgt")).as("t_tgt"))
    val ratios = stats.crossJoin(broadcast(totals)).select(
      col("b"),
      round(
        log((col("n_tgt") + lit(1)).cast("double") /
          (col("t_tgt") + lit(buckets)).cast("double")) -
          log((col("n_raw") + lit(1)).cast("double") /
            (col("t_raw") + lit(buckets)).cast("double")), 12)
        .cast("decimal(20,12)").as("lr"))
    (toks, ratios)
  }

  private def weights(spark: SparkSession, dir: String,
      targetLang: String, buckets: Int): DataFrame = {
    val (toks, ratios) = tokensAndRatios(spark, dir, targetLang, buckets)
    toks.join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("lr")).cast("double").as("log_weight"))
  }

  /** Per-document hashed-unigram importance weight. Docs that
    * normalize to zero words have no tokens and are absent — a
    * resampler cannot select what has no content.
    */
  def importanceWeights(spark: SparkSession, dir: String,
      targetLang: String = "en", buckets: Int = 1024): DataFrame =
    weights(spark, dir, targetLang, buckets).orderBy(col("doc_id"))

  /** Gumbel-top-k resampling over the importance weights — the paper's
    * sampling-without-replacement trick: adding an independent Gumbel
    * to each log weight and taking the top k draws exactly k docs with
    * probability proportional to their weights. The Gumbel here is
    * derived from a seeded md5 of the doc id (u in (0,1) from 24 hash
    * bits, g = -ln(-ln(u))), so the draw is reproducible by any engine
    * rather than an RNG stream artifact. The key is rounded to 9 dp
    * and tie-broken on doc_id so the top-k boundary is engine-stable.
    */
  def gumbelTopK(spark: SparkSession, dir: String,
      targetLang: String = "en", buckets: Int = 1024, k: Int = 100,
      seed: String = "dsir"): DataFrame = {
    val u = (conv(substring(md5(concat(lit(seed),
      col("doc_id").cast("string"))), 1, 6), 16, 10).cast("double") +
      lit(0.5)) / lit(16777216.0)
    val gumbel = -log(-log(u))
    weights(spark, dir, targetLang, buckets)
      .select(col("doc_id"), col("n_tokens"), col("log_weight"),
        round(col("log_weight") + gumbel, 9).as("gumbel_key"))
      .orderBy(col("gumbel_key").desc, col("doc_id"))
      .limit(k)
  }

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("dsir_weights", (s, d) => importanceWeights(s, d),
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS b
        |  FROM (
        |    SELECT doc_id, lang,
        |      lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |    FROM documents) t
        |  WHERE length(word) > 0),
        |stats AS (
        |  SELECT b, count(*) AS n_raw,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_tgt
        |  FROM toks GROUP BY b),
        |totals AS (SELECT sum(n_raw) AS t_raw, sum(n_tgt) AS t_tgt FROM stats),
        |ratios AS (
        |  SELECT b,
        |    CAST(round(ln((n_tgt + 1.0) / (t_tgt + 1024.0))
        |             - ln((n_raw + 1.0) / (t_raw + 1024.0)), 12) AS DECIMAL(20,12)) AS lr
        |  FROM stats, totals)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(lr) AS DOUBLE) AS log_weight
        |FROM toks JOIN ratios USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Query("dsir_sample", (s, d) => gumbelTopK(s, d),
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) % 1024 AS b
        |  FROM (
        |    SELECT doc_id, lang,
        |      lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^a-zA-Z]', '', 'g')) AS word
        |    FROM documents) t
        |  WHERE length(word) > 0),
        |stats AS (
        |  SELECT b, count(*) AS n_raw,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_tgt
        |  FROM toks GROUP BY b),
        |totals AS (SELECT sum(n_raw) AS t_raw, sum(n_tgt) AS t_tgt FROM stats),
        |ratios AS (
        |  SELECT b,
        |    CAST(round(ln((n_tgt + 1.0) / (t_tgt + 1024.0))
        |             - ln((n_raw + 1.0) / (t_raw + 1024.0)), 12) AS DECIMAL(20,12)) AS lr
        |  FROM stats, totals),
        |w AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(lr) AS DOUBLE) AS log_weight
        |  FROM toks JOIN ratios USING (b) GROUP BY doc_id)
        |SELECT doc_id, n_tokens, log_weight,
        |  round(log_weight + (-ln(-ln(
        |    (CAST(concat('0x', substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) + 0.5) / 16777216.0))), 9) AS gumbel_key
        |FROM w
        |ORDER BY gumbel_key DESC, doc_id LIMIT 100""".stripMargin))
}
