package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.sources.Tables

/** Learned quality classifier — the fastText-shaped curation stage
  * (Joulin et al. 2016; the CCNet/LLaMA "wiki-vs-crawl" filter): a
  * LINEAR scorer over hashed bigram features, trained by full-batch
  * logistic-regression gradient descent on a deterministic labeled
  * slice of the corpus itself, then scored corpus-wide in one
  * projection. This complements the RULE batteries
  * ([[TextQuality.gopherQualityFilter]], [[TextQuality.c4Filter]],
  * ccnet buckets): every modern curation recipe runs both a rule pass
  * and a learned filter, and this is the trainable half.
  *
  * Model, exactly (so a second engine can replay it):
  *  - features: the normalized word stream (reference tokenizer
  *    semantics, `/root/reference/src/tema1.cpp:88-99` — split on
  *    space/tab/newline, strip non-alpha, lowercase, drop empties),
  *    adjacent-word bigrams "w0 w1", hashed into `buckets` buckets by
  *    the md5-prefix trick (`conv(substr(md5(bg),1,8),16,10) % B` —
  *    the [[Dsir]] convention), per-doc counts normalized by the
  *    doc's bigram total: x_b = cnt_b / n_bg (the fastText mean-of-
  *    embeddings normalization). Docs with fewer than two surviving
  *    words have no features and are absent — a classifier cannot
  *    score what has no content (the DSIR absence precedent).
  *  - labels: y = 1 iff lang == targetLang — the "curated target vs
  *    raw crawl" label a fastText quality filter trains on, derived
  *    deterministically from the corpus so the oracle can re-derive
  *    it (any trusted-slice predicate slots in unchanged).
  *  - training: `epochs` rounds of full-batch gradient descent from
  *    w = 0, bias = 0 with learning rate `lr`:
  *      w  <- round(w  + lr * sum_docs((y - p) * x_b), 12)
  *      b0 <- round(b0 + lr * sum_docs (y - p),        12)
  *    with p = round(sigmoid(w.x + b0), 9) (p = 0.5 exactly in the
  *    first epoch, since the init is zero).
  *  - score: round(sigmoid(w.x + b0), 9); keep = (z >= 0), i.e.
  *    score >= 1/2, decided on the raw margin so the verdict never
  *    depends on the rounded score's boundary.
  *
  * Cross-engine determinism (the DSIR discipline, hardened): every
  * per-row product is computed in IEEE double (bit-identical in any
  * engine given identical operands), rounded to 12 dp and cast to
  * DECIMAL before summing — decimal sums are exact and therefore
  * independent of partitioning and row order, where float sums are
  * not. The only non-IEEE-exact primitives, exp() inside the sigmoid,
  * have their outputs rounded to 9 dp immediately, so a last-ulp
  * libm difference between engines cannot propagate into the next
  * epoch's gradients.
  *
  * Scale shape: ONE corpus pass builds the feature table (posexplode
  * + lead window, all codegen — the [[Dedup]] docNgrams rationale),
  * map-side-combined per (doc, bucket) reusing the window's doc_id
  * clustering (no extra exchange), localCheckpointed lazily and
  * consumed by every epoch. Each epoch is: one broadcast join of the
  * B-row weight table + one doc-keyed aggregate (the per-doc margin)
  * + one doc-keyed equi-join of the n_docs-row score table back onto
  * features (NOT broadcast — at corpus scale that table is corpus-
  * sized; it shuffles doc-keyed, linear) + one B-row gradient
  * aggregate. Nothing corpus-sized reaches the driver; weights live
  * in B-row DataFrames end to end. Epoch count is a constant (2):
  * cost is O(epochs) linear passes, exactly how fastText-scale
  * filters train on crawls.
  */
object QualityClassifier {

  private val S = 12 // gradient/product rounding scale
  private val P = 9  // sigmoid output rounding scale

  private def sigmoid(z: org.apache.spark.sql.Column) =
    round(lit(1.0) / (lit(1.0) + exp(-z)), P)

  /** (doc_id, lang, n_bg, b, x) hashed-bigram feature rows — one
    * corpus pass, window-clustered by doc so the count aggregate adds
    * no exchange. Label-free: the binary trainer derives y from lang
    * per target, so the one-vs-rest family ([[langScores]]) shares a
    * single materialization across all K models.
    */
  private def baseFeatures(docs: DataFrame, buckets: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val wd = Window.partitionBy(col("doc_id"))
    val words = docs
      .select(col("doc_id"), col("lang"),
        posexplode(TextOps.tokenize(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("lang"), col("pos"),
        TextOps.normalize(col("tok")).as("w0"))
      .filter(length(col("w0")) > 0)
    words
      .select(col("doc_id"), col("lang"), col("w0"),
        lead(col("w0"), 1).over(w).as("w1"))
      .filter(col("w1").isNotNull)
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(concat_ws(" ", col("w0"), col("w1"))), 1, 8),
          16, 10).cast("long") % buckets).as("b"))
      .withColumn("n_bg", count(lit(1)).over(wd))
      .groupBy(col("doc_id"), col("lang"), col("n_bg"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("x", col("cnt").cast("double") / col("n_bg").cast("double"))
      .drop("cnt")
  }

  /** (doc_id, y, n_bg, b, x): the binary-labeled view for one target. */
  private def labeled(base: DataFrame, targetLang: String): DataFrame =
    base.select(col("doc_id"),
      when(col("lang") === targetLang, 1.0).otherwise(0.0).as("y"),
      col("n_bg"), col("b"), col("x"))

  private def features(docs: DataFrame, targetLang: String,
      buckets: Int): DataFrame =
    labeled(baseFeatures(docs, buckets), targetLang)

  /** Order-independent decimal sum of a per-row double product. */
  private def dsum(term: org.apache.spark.sql.Column) =
    sum(round(term, S).cast(s"decimal(26,$S)")).cast("double")

  /** One GD step: given served (b, w) and 1-row (bias), produce the
    * next (b, w) and (bias). `probs` = per-doc (doc_id, y, p).
    */
  private def step(feat: DataFrame, probs: DataFrame, w: DataFrame,
      biasDf: DataFrame, lr: Double): (DataFrame, DataFrame) = {
    val g = feat.join(probs.select(col("doc_id"), col("p")), Seq("doc_id"))
      .groupBy(col("b"))
      .agg(dsum((col("y") - col("p")) * col("x")).as("g"))
    val wNext = w.join(g, Seq("b"), "left")
      .select(col("b"),
        round(col("w") + lit(lr) * coalesce(col("g"), lit(0.0)), S).as("w"))
    val biasNext = probs
      .crossJoin(broadcast(biasDf))
      .groupBy(col("bias"))
      .agg(dsum(col("y") - col("p")).as("g0"))
      .select(round(col("bias") + lit(lr) * col("g0"), S).as("bias"))
    (wNext, biasNext)
  }

  /** Per-doc (doc_id, y, n_bg, z) margins under served weights. */
  private def margins(feat: DataFrame, w: DataFrame,
      biasDf: DataFrame): DataFrame =
    feat.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"), col("y"), col("n_bg"))
      .agg(dsum(col("x") * col("w")).as("dot"))
      .crossJoin(broadcast(biasDf))
      .select(col("doc_id"), col("y"), col("n_bg"),
        (col("bias") + col("dot")).as("z"))

  /** The trained model: (B-row (b, w) table, 1-row (bias) table).
    * Exposed for the spec's scalar-trainer comparison.
    */
  private[graft] def model(spark: SparkSession, feat: DataFrame,
      buckets: Int, lr: Double, epochs: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    // zero init: epoch 1's p is exactly 0.5 for every doc, so the
    // first step needs no margin pass
    var w: DataFrame = spark.range(buckets)
      .select(col("id").as("b"), lit(0.0).as("w"))
    var biasDf: DataFrame = Seq(0.0).toDF("bias")
    var probs = feat.select(col("doc_id"), col("y")).distinct()
      .withColumn("p", lit(0.5))
    var e = 0
    while (e < epochs) {
      val (wN, bN) = step(feat, probs, w, biasDf, lr)
      w = wN.localCheckpoint(eager = false)
      biasDf = bN.localCheckpoint(eager = false)
      e += 1
      if (e < epochs)
        probs = margins(feat, w, biasDf)
          .select(col("doc_id"), col("y"), sigmoid(col("z")).as("p"))
    }
    (w, biasDf)
  }

  /** Registry query: train on the corpus' own labeled slice, score
    * every featured doc. (doc_id, n_bigrams, score, keep), doc order.
    */
  def scores(spark: SparkSession, dir: String, targetLang: String = "en",
      buckets: Int = 1024, lr: Double = 0.5, epochs: Int = 2): DataFrame = {
    val feat = features(Tables.documents(spark, dir), targetLang, buckets)
      .localCheckpoint(eager = false)
    val (w, biasDf) = model(spark, feat, buckets, lr, epochs)
    margins(feat, w, biasDf)
      .select(col("doc_id"), col("n_bg").cast("long").as("n_bigrams"),
        sigmoid(col("z")).as("score"),
        (col("z") >= 0.0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Learned language identification — fastText-style one-vs-rest over
    * the SAME hashed-bigram features and deterministic GD recipe as
    * [[scores]] (Joulin et al. 2016 §2 is literally this model with a
    * softmax head; one-vs-rest keeps every per-model step bit-exactly
    * replayable in SQL by the established binary recipe). One binary
    * classifier per corpus language, labels y = (lang == L); a doc's
    * prediction is the argmax of the K raw margins, ties broken by
    * language code ascending — decided on z, never on the rounded
    * score, so the boundary is exact in both engines. This replaces
    * guesswork-by-marker-words ([[TextAnalysis.langId]]) with a
    * trained component wherever the corpus carries a labeled slice.
    *
    * On corpora whose labels carry real lexical signal the argmax
    * separates (the spec's marker-word fixture trains to 100%
    * heuristic agreement); on the synthetic registry corpus the lang
    * labels are near-independent of the text (a naive-Bayes ceiling
    * probe reaches only ~47% TRAIN accuracy), so the calibrated model
    * correctly collapses to the class prior — the honest behavior,
    * pinned by the oracle's bit-exact replay either way.
    *
    * Scale shape: the feature table materializes ONCE and the K
    * models train BATCHED — the target language rides every step as a
    * grouping column, so each epoch is one broadcast join of the
    * (K*B)-row weight table + one (tgt, doc)-keyed aggregate + one
    * (K*B)-row gradient aggregate, regardless of K; K separate binary
    * chains would re-aggregate the corpus K times per epoch as K
    * sequential jobs. The final margins carry K rows per doc and the
    * argmax is one doc-keyed window; the true-label join-back is
    * doc-keyed, NOT broadcast. Nothing corpus-sized reaches the
    * driver — the language list is a K-row collect, bounded by the
    * label-space size.
    */
  def langScores(spark: SparkSession, docs: DataFrame,
      buckets: Int = 1024, lr: Double = 0.5, epochs: Int = 2): DataFrame = {
    import spark.implicits._
    val base = baseFeatures(docs, buckets).localCheckpoint(eager = false)
    // Target set comes from the DOCUMENTS table, not the feature table:
    // a language whose every doc has <2 usable words still trains a
    // model (all-zero labels), exactly as the oracle's langs CTE does —
    // deriving from `base` would silently drop it and could shift the
    // argmax for other docs' tie-breaks.
    val langs = docs.select(col("lang")).distinct().orderBy(col("lang"))
      .collect().map(_.getString(0)).toSeq
    // BATCHED one-vs-rest: thread the target language through every
    // step as a grouping column (exactly how the oracle replays it),
    // so each epoch is ONE pass over the feature table regardless of
    // K — K separate model() chains would re-aggregate the corpus
    // K times per epoch as K sequential jobs. Per-tgt sums group by
    // (tgt, ...) everywhere, so the arithmetic — and therefore every
    // bit of the result — is identical to training the K binary
    // models independently (the spec pins this against the scalar
    // per-model reference).
    val feat = base
      .crossJoin(broadcast(langs.toDF("tgt")))
      .withColumn("y",
        when(col("lang") === col("tgt"), 1.0).otherwise(0.0))
      .drop("lang")
    // weights: (tgt, b, w) — K*B rows; bias: (tgt, bias) — K rows.
    // Both broadcastable at any corpus size (bounded by label space).
    var w: DataFrame = spark.range(buckets).select(col("id").as("b"))
      .crossJoin(langs.toDF("tgt"))
      .select(col("tgt"), col("b"), lit(0.0).as("w"))
    var biasDf: DataFrame = langs.toDF("tgt")
      .select(col("tgt"), lit(0.0).as("bias"))
    def marginsK(): DataFrame =
      feat.join(broadcast(w), Seq("tgt", "b"))
        .groupBy(col("tgt"), col("doc_id"), col("y"), col("n_bg"))
        .agg(dsum(col("x") * col("w")).as("dot"))
        .join(broadcast(biasDf), Seq("tgt"))
        .select(col("tgt"), col("doc_id"), col("y"), col("n_bg"),
          (col("bias") + col("dot")).as("z"))
    // zero init: epoch 1's p is exactly 0.5 for every (tgt, doc).
    // The distinct runs over the K-fold-SMALLER base table (one row
    // per (doc, bucket), not K) and the K labels attach after — the
    // same (tgt, doc_id, y) rows as a distinct over `feat`, at 1/K
    // the shuffle (r21, guide §2.3: shuffle fewer bytes).
    var probs = base.select(col("doc_id"), col("lang")).distinct()
      .crossJoin(broadcast(langs.toDF("tgt")))
      .select(col("tgt"), col("doc_id"),
        when(col("lang") === col("tgt"), 1.0).otherwise(0.0).as("y"))
      .withColumn("p", lit(0.5))
    var e = 0
    while (e < epochs) {
      val g = feat
        .join(probs.select(col("tgt"), col("doc_id"), col("p")),
          Seq("tgt", "doc_id"))
        .groupBy(col("tgt"), col("b"))
        .agg(dsum((col("y") - col("p")) * col("x")).as("g"))
      w = w.join(g, Seq("tgt", "b"), "left")
        .select(col("tgt"), col("b"),
          round(col("w") + lit(lr) * coalesce(col("g"), lit(0.0)), S)
            .as("w"))
        .localCheckpoint(eager = false)
      biasDf = probs.join(broadcast(biasDf), Seq("tgt"))
        .groupBy(col("tgt"), col("bias"))
        .agg(dsum(col("y") - col("p")).as("g0"))
        .select(col("tgt"),
          round(col("bias") + lit(lr) * col("g0"), S).as("bias"))
        .localCheckpoint(eager = false)
      e += 1
      if (e < epochs)
        probs = marginsK()
          .select(col("tgt"), col("doc_id"), col("y"),
            sigmoid(col("z")).as("p"))
    }
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("z").desc, col("tgt"))
    marginsK()
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("n_bg").cast("long").as("n_bigrams"),
        col("tgt").as("pred_lang"),
        sigmoid(col("z")).as("score"),
        (col("tgt") === col("lang")).as("matches_label"))
      .orderBy(col("doc_id"))
  }

  /** Registry form of [[langScores]] over the documents table. */
  def langIdLearned(spark: SparkSession, dir: String): DataFrame =
    langScores(spark, Tables.documents(spark, dir))

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    // 2-epoch full-batch logistic GD over hashed bigrams, replayed
    // exactly: per-row products in IEEE double rounded to 12 dp and
    // summed as DECIMAL (order-independent), sigmoid outputs rounded
    // to 9 dp so libm ulp differences cannot propagate across epochs
    Query("quality_classifier", (s, d) => scores(s, d),
      """WITH ws AS (
        |  SELECT doc_id, lang,
        |    list_filter(list_transform(string_split_regex(text, '[ \t\n]+'),
        |      w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))),
        |      w -> length(w) > 0) AS l
        |  FROM documents),
        |bgr AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |    len(l) - 1 AS n_bg,
        |    CAST(concat('0x', substr(md5(l[i] || ' ' || l[i+1]), 1, 8)) AS BIGINT) % 1024 AS b
        |  FROM ws, unnest(range(1, len(l))) AS t(i)
        |  WHERE len(l) >= 2),
        |feat AS (
        |  SELECT doc_id, y, n_bg, b,
        |    CAST(count(*) AS DOUBLE) / CAST(n_bg AS DOUBLE) AS x
        |  FROM bgr GROUP BY doc_id, y, n_bg, b),
        |w1 AS (
        |  SELECT b, round(0.5 * CAST(sum(CAST(round((y - 0.5) * x, 12) AS DECIMAL(26,12))) AS DOUBLE), 12) AS w
        |  FROM feat GROUP BY b),
        |b1 AS (
        |  SELECT round(0.5 * CAST(sum(CAST(round(y - 0.5, 12) AS DECIMAL(26,12))) AS DOUBLE), 12) AS bias0
        |  FROM (SELECT DISTINCT doc_id, y FROM feat)),
        |p1 AS (
        |  SELECT doc_id, y, round(1.0 / (1.0 + exp(-z)), 9) AS p
        |  FROM (
        |    SELECT doc_id, y,
        |      bias0 + CAST(sum(CAST(round(x * w, 12) AS DECIMAL(26,12))) AS DOUBLE) AS z
        |    FROM feat JOIN w1 USING (b) CROSS JOIN b1
        |    GROUP BY doc_id, y, bias0)),
        |w2 AS (
        |  SELECT w1.b, round(w1.w + 0.5 * coalesce(g.g, 0.0), 12) AS w
        |  FROM w1 LEFT JOIN (
        |    SELECT b, CAST(sum(CAST(round((feat.y - p.p) * x, 12) AS DECIMAL(26,12))) AS DOUBLE) AS g
        |    FROM feat JOIN (SELECT doc_id, p FROM p1) p USING (doc_id)
        |    GROUP BY b) g ON w1.b = g.b),
        |b2 AS (
        |  SELECT round(bias0 + 0.5 * CAST(sum(CAST(round(y - p, 12) AS DECIMAL(26,12))) AS DOUBLE), 12) AS bias2
        |  FROM p1 CROSS JOIN b1 GROUP BY bias0),
        |z2 AS (
        |  SELECT doc_id, n_bg,
        |    bias2 + CAST(sum(CAST(round(x * w, 12) AS DECIMAL(26,12))) AS DOUBLE) AS z
        |  FROM feat JOIN w2 USING (b) CROSS JOIN b2
        |  GROUP BY doc_id, n_bg, bias2)
        |SELECT doc_id, CAST(n_bg AS BIGINT) AS n_bigrams,
        |  round(1.0 / (1.0 + exp(-z)), 9) AS score,
        |  (z >= 0.0) AS keep
        |FROM z2 ORDER BY doc_id""".stripMargin),
    // fastText-style one-vs-rest lang-id over the same hashed-bigram
    // GD recipe; the oracle replays all K trainings and the argmax
    // one-vs-rest lang-id: the quality_classifier training replay with
    // a tgt (target language) dimension threaded through every CTE —
    // K binary models trained in one pass of grouped SQL, then the
    // per-doc argmax on raw margins (ties broken by language code)
    Query("lang_id_learned", (s, d) => langIdLearned(s, d),
      """WITH ws AS (
        |  SELECT doc_id, lang,
        |    list_filter(list_transform(string_split_regex(text, '[ \t\n]+'),
        |      w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))),
        |      w -> length(w) > 0) AS l
        |  FROM documents),
        |bgr AS (
        |  SELECT doc_id, lang, len(l) - 1 AS n_bg,
        |    CAST(concat('0x', substr(md5(l[i] || ' ' || l[i+1]), 1, 8)) AS BIGINT) % 1024 AS b
        |  FROM ws, unnest(range(1, len(l))) AS t(i)
        |  WHERE len(l) >= 2),
        |feat0 AS (
        |  SELECT doc_id, lang, n_bg, b,
        |    CAST(count(*) AS DOUBLE) / CAST(n_bg AS DOUBLE) AS x
        |  FROM bgr GROUP BY doc_id, lang, n_bg, b),
        |langs AS (SELECT DISTINCT lang AS tgt FROM documents),
        |feat AS (
        |  SELECT f.doc_id, l.tgt,
        |    CASE WHEN f.lang = l.tgt THEN 1.0 ELSE 0.0 END AS y,
        |    f.n_bg, f.b, f.x
        |  FROM feat0 f CROSS JOIN langs l),
        |w1 AS (
        |  SELECT tgt, b, round(0.5 * CAST(sum(CAST(round((y - 0.5) * x, 12) AS DECIMAL(26,12))) AS DOUBLE), 12) AS w
        |  FROM feat GROUP BY tgt, b),
        |b1 AS (
        |  SELECT tgt, round(0.5 * CAST(sum(CAST(round(y - 0.5, 12) AS DECIMAL(26,12))) AS DOUBLE), 12) AS bias0
        |  FROM (SELECT DISTINCT tgt, doc_id, y FROM feat) GROUP BY tgt),
        |p1 AS (
        |  SELECT tgt, doc_id, y, round(1.0 / (1.0 + exp(-z)), 9) AS p
        |  FROM (
        |    SELECT f.tgt, doc_id, y,
        |      bias0 + CAST(sum(CAST(round(x * w, 12) AS DECIMAL(26,12))) AS DOUBLE) AS z
        |    FROM feat f JOIN w1 ON f.tgt = w1.tgt AND f.b = w1.b
        |    JOIN b1 ON b1.tgt = f.tgt
        |    GROUP BY f.tgt, doc_id, y, bias0)),
        |w2 AS (
        |  SELECT w1.tgt, w1.b, round(w1.w + 0.5 * coalesce(g.g, 0.0), 12) AS w
        |  FROM w1 LEFT JOIN (
        |    SELECT f.tgt, b, CAST(sum(CAST(round((f.y - p.p) * x, 12) AS DECIMAL(26,12))) AS DOUBLE) AS g
        |    FROM feat f JOIN p1 p ON p.tgt = f.tgt AND p.doc_id = f.doc_id
        |    GROUP BY f.tgt, b) g ON w1.tgt = g.tgt AND w1.b = g.b),
        |b2 AS (
        |  SELECT b1.tgt, round(bias0 + 0.5 * CAST(sum(CAST(round(y - p, 12) AS DECIMAL(26,12))) AS DOUBLE), 12) AS bias2
        |  FROM p1 JOIN b1 ON b1.tgt = p1.tgt GROUP BY b1.tgt, bias0),
        |z2 AS (
        |  SELECT f.tgt, doc_id, n_bg,
        |    bias2 + CAST(sum(CAST(round(x * w, 12) AS DECIMAL(26,12))) AS DOUBLE) AS z
        |  FROM feat f JOIN w2 ON w2.tgt = f.tgt AND w2.b = f.b
        |  JOIN b2 ON b2.tgt = f.tgt
        |  GROUP BY f.tgt, doc_id, n_bg, bias2),
        |pick AS (
        |  SELECT doc_id, n_bg, tgt, z,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY z DESC, tgt) AS rn
        |  FROM z2)
        |SELECT p.doc_id, CAST(n_bg AS BIGINT) AS n_bigrams,
        |  tgt AS pred_lang, round(1.0 / (1.0 + exp(-z)), 9) AS score,
        |  (tgt = d.lang) AS matches_label
        |FROM pick p JOIN documents d ON d.doc_id = p.doc_id
        |WHERE rn = 1 ORDER BY p.doc_id""".stripMargin))
}
