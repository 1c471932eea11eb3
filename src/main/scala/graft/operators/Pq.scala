package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.plans.VecDot

/** Product quantization (PQ) ANN: split each vector into M contiguous
  * subvectors, k-means each subspace into ks codewords, store each vector
  * as M small codes (M bytes at ks<=256 — a 32x compression of the
  * 64-float corpus). Queries score against the codebook with
  * asymmetric distance computation (ADC): one (query, sub, code)
  * lookup table of partial dot products, then a sum per candidate —
  * the corpus vectors themselves are never touched until an exact
  * re-rank of the small candidate pool.
  *
  * This is the storage shape that survives 100 TB: the scored
  * relation is (vec_id, sub, code) — M small ints per vector — and
  * the ADC join moves only code ids and 8-dim codewords, never the
  * raw embeddings. The final re-rank reads full vectors for the top-R
  * candidate ids only (a semi-join-sized scan at any corpus size).
  *
  * Determinism mirrors Ivf: codeword updates use DECIMAL per-dimension
  * sums; every argmin/rank carries a total tie-break; ADC partial sums
  * go through DECIMAL. The build is bit-identical at any parallelism.
  */
object Pq {

  /** Process-level memo of trained codebooks keyed by (corpus dir, m,
    * ks, iters) — the Ivf.cachedCentroids pattern: a codebook is M*ks
    * rows of subDim doubles (driver-resident by design, like the
    * broadcast it feeds), so the cache stores the values themselves
    * and rematerializes a local relation per call. pq_topk and the
    * pq_codebook/pq_codes oracle exports share one Lloyd build per
    * process; the build is bit-deterministic (PqSpec), so cache-hit
    * vs rebuild cannot change results. Persisted-index deployments
    * bypass this entirely via `pqTopK(prebuilt = ...)`.
    */
  private val codebookCache =
    new graft.sources.StampedCache[(String, Int, Int, Int, Int),
      Seq[(Int, Int, Seq[Double])]]()

  /** Keyed by EVERY build parameter including dim — a (dir, m, ks,
    * iters) key would hand a 64-dim codebook to a dim=32 caller, whose
    * mismatched-width ADC would be silently wrong (VecDot skips the
    * tail) rather than an error. Stamp-validated
    * ([[graft.sources.CorpusStamp]]): a corpus rewrite at a cached
    * path transparently rebuilds instead of serving a stale codebook.
    */
  def cachedCodebook(spark: SparkSession, dir: String, m: Int, ks: Int,
      iters: Int, dim: Int = 64): DataFrame = {
    val stamp = graft.sources.CorpusStamp.of(spark, s"$dir/embeddings.parquet")
    val rows = codebookCache.get((dir, m, ks, iters, dim), stamp) {
      buildCodebook(
          subvectors(Tables.embeddings(spark, dir), m, dim), ks, iters)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
        .toSeq
    }
    import spark.implicits._
    rows.toDF("sub", "code", "cword")
  }

  /** Bench hook: force the next cachedCodebook call to rebuild. */
  private[graft] def invalidateCodebook(dir: String, m: Int, ks: Int,
      iters: Int, dim: Int = 64): Unit =
    codebookCache.invalidate((dir, m, ks, iters, dim))

  /** (vec_id, sub, svec array<double>) — the M-way split corpus.
    *
    * Pure narrow codegen: an array-level cast to double (bit-identical
    * to the old per-element cast) and M contiguous `slice`s exploded
    * into rows. The previous posexplode formulation fanned out dim
    * rows per vector, shuffled them, and reassembled subvectors with
    * collect_list + array_sort + an interpreted `transform` — a whole
    * shuffle and an ObjectHashAggregate for what is a per-row split.
    * This runs uncheckpointed on the build's hot path (init, each
    * Lloyd assign, encode), so making it shuffle-free removes the
    * dominant repeated cost.
    */
  private[graft] def subvectors(emb: DataFrame, m: Int, dim: Int): DataFrame = {
    // integer division below floors — with dim % m != 0 the trailing
    // dims would spill into an undeclared (m+1)-th subspace, breaking
    // the "M codes per vector" contract downstream (LUT/ADC math)
    require(dim % m == 0, s"PQ requires dim % m == 0, got dim=$dim m=$m")
    val subDim = dim / m
    val splits = (0 until m).map(s =>
      struct(lit(s).as("sub"),
        slice(col("e"), s * subDim + 1, subDim).as("svec")))
    emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"), explode(array(splits: _*)).as("sv"))
      .select(col("vec_id"), col("sv.sub").as("sub"), col("sv.svec").as("svec"))
  }

  /** Squared L2 via dot products (all three terms codegen VecDot). */
  private def sqDist(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    VecDot(a, a) - lit(2.0) * VecDot(a, b) + VecDot(b, b)

  /** Nearest-codeword assignment within each subspace.
    * Returns (vec_id, sub, code). The argmin is a min_by hash
    * aggregate keyed on (dist, code) — same deterministic tie-break as
    * a window row_number, without sorting the ks-times-fanned-out
    * relation (the build's hot path: this runs once per Lloyd
    * iteration plus once to encode).
    */
  private[graft] def assign(subs: DataFrame, codebook: DataFrame): DataFrame =
    subs
      .join(broadcast(codebook), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code"),
        sqDist(col("svec"), col("cword")).as("d"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"))

  /** Deterministic per-subspace Lloyd build: all M codebooks train in
    * one DataFrame pipeline (rows keyed by sub). Init = subvectors of
    * the first ks vectors.
    */
  def buildCodebook(subs: DataFrame, ks: Int, iters: Int): DataFrame = {
    var codebook = subs.filter(col("vec_id") < ks)
      .select(col("sub"), col("vec_id").cast("int").as("code"),
        col("svec").as("cword"))
    (1 to iters).foreach { _ =>
      val assigned = assign(subs, codebook)
      codebook = subs
        .join(assigned, Seq("vec_id", "sub"))
        .select(col("sub"), col("code"),
          posexplode(col("svec")).as(Seq("spos", "v")))
        .groupBy(col("sub"), col("code"), col("spos"))
        .agg((sum(col("v").cast("decimal(28,12)")) / count(lit(1)))
          .cast("double").as("m"))
        .groupBy(col("sub"), col("code"))
        .agg(array_sort(collect_list(struct(col("spos"), col("m"))))
          .as("pm"))
        .select(col("sub"), col("code"),
          transform(col("pm"), x => x.getField("m")).as("cword"))
    }
    codebook
  }

  /** PQ top-k with ADC + exact re-rank: encode the corpus (M codes per
    * vector), score candidates entirely from the codebook, keep the
    * top `rerank` per query by approximate cosine, then exact-score
    * just those and emit the top k. Output contract matches the other
    * search variants (exact cos_sim values on the emitted rows).
    */
  def pqTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, m: Int = 8, ks: Int = 16, iters: Int = 1,
      rerank: Int = 50, dim: Int = 64,
      prebuilt: Option[DataFrame] = None): DataFrame = {
    // the codebook is the index artifact (M*ks rows); it feeds the
    // corpus encoding AND every query LUT — built at most once per
    // process (cachedCodebook hands back a local relation, nothing to
    // re-execute). A persisted index (`prebuilt`, e.g. read back from
    // parquet — see PqSpec) skips even that: the 100 TB deployment
    // builds once, writes the codebook, and every query job starts
    // here.
    val codebook = prebuilt.getOrElse(
      cachedCodebook(spark, dir, m, ks, iters, dim))
    pqTopKOver(Tables.embeddings(spark, dir), codebook,
      nQueries, k, m, rerank, dim)
  }

  /** The search itself over an explicit corpus + codebook — the serving
    * path shared by [[pqTopK]] and the incremental-maintenance demo
    * (which searches a merged corpus under a maintained codebook). */
  def pqTopKOver(emb: DataFrame, codebook: DataFrame,
      nQueries: Int = 10, k: Int = 5, m: Int = 8,
      rerank: Int = 50, dim: Int = 64): DataFrame = {
    val subs = subvectors(emb, m, dim)
    val codes = assign(subs, codebook)

    // ADC lookup table: partial dot of each query subvector with each
    // codeword — nQueries * M * ks rows, broadcastable by construction.
    // The codeword's self-dot rides along so the candidate aggregation
    // below reconstructs the approximate vector norm in the SAME pass
    // (sum c2 over a vector's M codes = ||reconstruction||^2) — no
    // separate norm aggregation or extra join branch.
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val qsubs = subvectors(
      queries.select(col("query_id").as("vec_id"), col("qv").as("embedding")),
      m, dim)
      .select(col("vec_id").as("query_id"), col("sub"), col("svec"))
    val lut = qsubs
      .join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        VecDot(col("svec"), col("cword")).cast("decimal(28,12)").as("pdot"),
        VecDot(col("cword"), col("cword")).cast("decimal(28,12)").as("c2"))
    val qnorms = queries.select(col("query_id"),
      sqrt(VecDot(col("qv"), col("qv"))).as("qnorm"))

    // candidate scoring: codes x LUT equi-join, decimal partial sums
    val approx = codes
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).cast("double").as("adot"),
        sqrt(sum(col("c2")).cast("double")).as("rnorm"))
      .join(broadcast(qnorms), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("acos", col("adot") / (col("qnorm") * col("rnorm")))
    val candW = Window.partitionBy(col("query_id"))
      .orderBy(col("acos").desc, col("vec_id"))
    val candidates = approx
      .withColumn("crn", row_number().over(candW))
      .filter(col("crn") <= rerank)
      .select(col("query_id"), col("vec_id"))

    // exact re-rank of the candidate pool only
    Similarity.topKPerQuery(
      candidates
        .join(emb, "vec_id")
        .join(broadcast(queries), Seq("query_id"))
        .withColumn("cos", Similarity.cosine(col("qv"), col("embedding"))),
      k)
  }

  // ------------------------------------------------------------------
  // Incremental codebook maintenance — the [[Ivf.incrementalCentroids]]
  // pattern per subspace: fold an ingest-batch delta into the served
  // codebook by the occupancy-weighted mean, instead of re-running the
  // per-subspace Lloyd build over the whole corpus. Occupancy comes
  // from ONE lazily-cached encoding pass over the old corpus (a
  // broadcast-join argmin + an (M*ks)-row aggregate — zero corpus-sized
  // exchanges); the delta pays one encoding pass of its own.
  // ------------------------------------------------------------------

  /** Per-(sub, code) occupancy of the SERVED codebook — PQ's inverted
    * list lengths. Stamp-cached like the codebook itself. */
  private val codeCountCache =
    new graft.sources.StampedCache[(String, Int, Int, Int, Int),
      Map[(Int, Int), Long]]()

  def codeCounts(spark: SparkSession, dir: String, m: Int, ks: Int,
      iters: Int, dim: Int = 64): Map[(Int, Int), Long] = {
    val stamp = graft.sources.CorpusStamp.of(spark, s"$dir/embeddings.parquet")
    codeCountCache.get((dir, m, ks, iters, dim), stamp) {
      assign(subvectors(Tables.embeddings(spark, dir), m, dim),
        cachedCodebook(spark, dir, m, ks, iters, dim))
        .groupBy(col("sub"), col("code")).agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    }
  }

  /** Bench hook: force the next maintenance to re-derive occupancy. */
  private[graft] def invalidateCodeCounts(dir: String, m: Int, ks: Int,
      iters: Int, dim: Int = 64): Unit =
    codeCountCache.invalidate((dir, m, ks, iters, dim))

  /** The pure update rule (spec'd closed-form): per (sub, code),
    * c' = (n·c + Σdelta) / (n + m_c) in fixed-order BigDecimal —
    * bit-deterministic; untouched codewords unchanged. */
  private[graft] def mergeCodebook(
      old: Seq[(Int, Int, Seq[Double])],
      counts: Map[(Int, Int), Long],
      deltaStats: Map[(Int, Int), (Long, Seq[java.math.BigDecimal])])
      : Seq[(Int, Int, Seq[Double])] =
    old.map { case (sub, code, cword) =>
      deltaStats.get((sub, code)) match {
        case None => (sub, code, cword)
        case Some((mc, sums)) =>
          val n = counts.getOrElse((sub, code), 0L)
          val denom = new java.math.BigDecimal(n + mc)
          val merged = cword.zip(sums).map { case (c, s) =>
            new java.math.BigDecimal(c)
              .multiply(new java.math.BigDecimal(n))
              .add(s)
              .divide(denom, 12, java.math.RoundingMode.HALF_UP)
              .doubleValue()
          }
          (sub, code, merged)
      }
    }

  /** Maintain the cached codebook against a delta corpus: encode the
    * delta's subvectors under the served codebook (one broadcast-join
    * argmin — delta-sized) and fold each (sub, code)'s delta mass by
    * the occupancy-weighted mean. DRIFT GATE as in
    * [[Ivf.incrementalCentroids]]: a delta outweighing `maxDeltaFrac`
    * of the corpus falls back to a full per-subspace Lloyd rebuild
    * over the merged corpus. Returns the maintained (sub, code, cword)
    * table as a local relation; [[installCodebook]] places it under a
    * mutated corpus's stamp.
    */
  def incrementalCodebook(spark: SparkSession, dir: String,
      delta: DataFrame, m: Int, ks: Int, iters: Int, dim: Int = 64,
      maxDeltaFrac: Double = 0.5): DataFrame = {
    val old = cachedCodebook(spark, dir, m, ks, iters, dim)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .toSeq.sortBy(t => (t._1, t._2))
    if (old.isEmpty)
      return buildCodebook(subvectors(delta, m, dim), ks, iters)
    incrementalOver(spark, old, codeCounts(spark, dir, m, ks, iters, dim),
      Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      delta, m, ks, iters, dim, maxDeltaFrac)._1
  }

  /** Corpus-agnostic core of the incremental update (the
    * [[Ivf.incrementalOver]] pattern per subspace): old codebook +
    * occupancy arrive EXPLICITLY — a maintainer holds them from the
    * pre-commit state — and the drift fallback rebuilds over
    * `oldCorpus` ∪ delta. Also returns the updated (sub, code)
    * occupancy so a store maintainer can install it for the NEXT
    * increment; None when the drift gate forced a rebuild.
    */
  private[graft] def incrementalOver(spark: SparkSession,
      old: Seq[(Int, Int, Seq[Double])], counts: Map[(Int, Int), Long],
      oldCorpus: => DataFrame, delta: DataFrame, m: Int, ks: Int,
      iters: Int, dim: Int, maxDeltaFrac: Double)
      : (DataFrame, Option[Map[(Int, Int), Long]]) = {
    import spark.implicits._
    val subDim = dim / m
    val oldBook = old.toDF("sub", "code", "cword")
    val sums = (0 until subDim).map(i =>
      sum(element_at(col("svec"), i + 1).cast("decimal(28,12)"))
        .as(s"s$i"))
    // one delta pass: the per-(vec_id, sub) argmin CARRIES the
    // subvector through the min_by (svec is constant within the group),
    // so the maintenance needs neither a second subvectors() scan nor
    // the assign-then-self-join shuffle the first cut paid — the same
    // single-aggregate shape as Ivf.incrementalCentroids. Bit-parity:
    // the surviving (sub, code, svec) rows are exactly the old
    // join-back's, and the decimal sums are order-independent.
    val stats = subvectors(delta, m, dim)
      .join(broadcast(oldBook), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("code"), col("svec"),
        sqDist(col("svec"), col("cword")).as("d"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min_by(struct(col("code"), col("svec")),
        struct(col("d"), col("code"))).as("r"))
      .select(col("sub"), col("r.code").as("code"), col("r.svec").as("svec"))
      .groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("mc"), sums: _*)
      .collect()
      .map { r =>
        (r.getInt(0), r.getInt(1)) -> (r.getLong(2),
          (0 until subDim).map(i => Option(r.getDecimal(i + 3))
            .getOrElse(java.math.BigDecimal.ZERO)))
      }.toMap
    // corpus/delta sizes: one code per vector in each subspace — use
    // subspace 0's totals
    val oldN = counts.collect { case ((0, _), n) => n }.sum
    val deltaN = stats.collect { case ((0, _), (mc, _)) => mc }.sum
    if (oldN == 0 || deltaN > maxDeltaFrac * oldN) {
      (buildCodebook(subvectors(
        oldCorpus.unionByName(delta.select("vec_id", "embedding")),
        m, dim), ks, iters), None)
    } else {
      (mergeCodebook(old, counts, stats).toDF("sub", "code", "cword"),
        Some(old.map { case (sub, code, _) =>
          (sub, code) -> (counts.getOrElse((sub, code), 0L) +
            stats.get((sub, code)).map(_._1).getOrElse(0L))
        }.toMap))
    }
  }

  /** Install a maintained codebook under `dir`'s CURRENT corpus stamp —
    * the ingest-side wiring (see [[Ivf.installCentroids]]). */
  def installCodebook(spark: SparkSession, dir: String, m: Int, ks: Int,
      iters: Int, codebook: DataFrame, dim: Int = 64): Unit = {
    val stamp = graft.sources.CorpusStamp.of(spark, s"$dir/embeddings.parquet")
    val rows = codebook.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    codebookCache.put((dir, m, ks, iters, dim), stamp, rows)
  }

  /** Registry form: maintain the served (8, 16, 1) codebook against
    * [[Ivf.syntheticDelta]] (the shared every-17th reversed-vector
    * ingest batch) and search the MERGED corpus under it. Oracle =
    * the pq_topk ADC/candidate/re-rank replay from the exported
    * maintained codebook + merged codes; the update rule is spec-gated
    * (PqIncrementalSpec).
    */
  def incrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val maintained = incrementalCodebook(
      spark, dir, Ivf.syntheticDelta(spark, dir), 8, 16, 1)
    val merged = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
      .unionByName(Ivf.syntheticDelta(spark, dir))
    pqTopKOver(merged, maintained)
  }

  // ------------------------------------------------------------------
  // Store-keyed codebook family + the vectorIngest maintainer — the
  // PQ member of the embedding-store wiring (see Ivf's store section).
  // ------------------------------------------------------------------

  private def storeKey(path: String): String = s"store:$path"

  /** Probe hook: the (stamp, codebook rows) currently served for the
    * store. */
  private[graft] def servedStoreCodebook(path: String, m: Int, ks: Int,
      iters: Int, dim: Int = 64)
      : Option[(Long, Seq[(Int, Int, Seq[Double])])] =
    codebookCache.peek((storeKey(path), m, ks, iters, dim))

  /** Codebook over a [[graft.streaming.EventStreams.vectorIngest]]
    * store, stamp-cached like the dir form. */
  def storeCodebook(spark: SparkSession, path: String, m: Int, ks: Int,
      iters: Int, dim: Int = 64): DataFrame = {
    val stamp = graft.sources.CorpusStamp.of(spark, path)
    val rows = codebookCache.get((storeKey(path), m, ks, iters, dim),
        stamp) {
      buildCodebook(subvectors(
        graft.streaming.EventStreams.admittedVectors(spark, path)
          .select("vec_id", "embedding"), m, dim), ks, iters)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
    }
    import spark.implicits._
    rows.toDF("sub", "code", "cword")
  }

  /** Per-(sub, code) occupancy of the served store codebook —
    * populated lazily or installed exactly by the maintainer. */
  def storeCodeCounts(spark: SparkSession, path: String, m: Int,
      ks: Int, iters: Int, dim: Int = 64): Map[(Int, Int), Long] = {
    val stamp = graft.sources.CorpusStamp.of(spark, path)
    codeCountCache.get((storeKey(path), m, ks, iters, dim), stamp) {
      assign(subvectors(
        graft.streaming.EventStreams.admittedVectors(spark, path), m, dim),
        storeCodebook(spark, path, m, ks, iters, dim))
        .groupBy(col("sub"), col("code")).agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    }
  }

  /** The PQ family's [[graft.sources.ArtifactMaintenance]] maintainer
    * for vectorIngest stores — the [[Ivf.storeMaintainer]] contract
    * per subspace: pure-append + stamp-matched served codebook folds
    * the delta and installs codebook + exact updated occupancy under
    * the post-commit stamp; anything else skips to the staleness
    * rebuild.
    */
  def storeMaintainer(m: Int = 8, ks: Int = 16, iters: Int = 1,
      dim: Int = 64, maxDeltaFrac: Double = 0.5)
      : graft.sources.ArtifactMaintenance.Maintainer = (spark, c) => {
    if (c.pureAppend) {
      val key = (storeKey(c.path), m, ks, iters, dim)
      codebookCache.peek(key) match {
        case Some((s, oldRows)) if s == c.preStamp && oldRows.nonEmpty =>
          val old = oldRows.sortBy(t => (t._1, t._2))
          lazy val oldCorpus = graft.streaming.EventStreams
            .admittedVectors(spark, c.path)
            .select("vec_id", "embedding")
            .join(broadcast(c.delta.select(col("vec_id"))),
              Seq("vec_id"), "left_anti")
          val counts = codeCountCache.peek(key) match {
            case Some((cs, held)) if cs == c.preStamp => held
            case _ =>
              import spark.implicits._
              assign(subvectors(oldCorpus, m, dim),
                old.toDF("sub", "code", "cword"))
                .groupBy(col("sub"), col("code"))
                .agg(count(lit(1)).as("n"))
                .collect()
                .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2))
                .toMap
          }
          val delta = c.delta.select(col("vec_id"), col("embedding"))
          val (maintained, newCounts) = incrementalOver(spark, old,
            counts, oldCorpus, delta, m, ks, iters, dim, maxDeltaFrac)
          val post = graft.sources.CorpusStamp.of(spark, c.path)
          codebookCache.put(key, post, maintained.collect()
            .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
            .toSeq)
          newCounts.foreach(nc => codeCountCache.put(key, post, nc))
        case _ => () // cold/mismatched: correct rebuild on next access
      }
    }
  }

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    // PQ search oracle: codebook + codes cross as data; the ADC
    // lookup table (decimal partial dots), approximate candidate
    // ranking, and exact re-rank are recomputed in SQL. DECIMAL(28,12)
    // sums are exact in both engines, so the approximate scores — and
    // therefore the candidate cut — are bit-identical.
    Query("pq_topk", (s, d) => pqTopK(s, d),
      """WITH cb AS (SELECT sub, code, CAST(cword AS DOUBLE[]) AS cw
        |            FROM read_parquet('/tmp/graft_oracle_aux/pq_codebook/*.parquet')),
        |codes AS (SELECT vec_id, sub, code FROM read_parquet('/tmp/graft_oracle_aux/pq_codes/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qnorm
        |      FROM e WHERE vec_id < 10),
        |qsub AS (SELECT query_id, s.s AS sub, list_slice(qv, s.s*8 + 1, s.s*8 + 8) AS svec
        |         FROM q, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) s(s)),
        |lut AS (SELECT query_id, cb.sub, cb.code,
        |               CAST(list_dot_product(qsub.svec, cb.cw) AS DECIMAL(28,12)) AS pdot,
        |               CAST(list_dot_product(cb.cw, cb.cw) AS DECIMAL(28,12)) AS c2
        |        FROM qsub JOIN cb ON cb.sub = qsub.sub),
        |approx AS (
        |  SELECT l.query_id, c.vec_id,
        |         CAST(SUM(l.pdot) AS DOUBLE) AS adot,
        |         sqrt(CAST(SUM(l.c2) AS DOUBLE)) AS rnorm
        |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
        |  GROUP BY l.query_id, c.vec_id),
        |cand AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT a.query_id, a.vec_id,
        |           row_number() OVER (PARTITION BY a.query_id ORDER BY
        |             (a.adot / (q.qnorm * a.rnorm)) DESC, a.vec_id) AS crn
        |    FROM approx a JOIN q ON q.query_id = a.query_id
        |    WHERE a.vec_id <> a.query_id) WHERE crn <= 50),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |         list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
        |  FROM cand JOIN q ON q.query_id = cand.query_id
        |       JOIN e ON e.vec_id = cand.vec_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cos,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id AS neighbor_id, rank, round(cos, 6) AS cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // incremental codebook maintenance (the IVF pattern per subspace):
    // fold the shared synthetic ingest batch into the served codebook
    // and search the merged corpus under it
    // pq_incremental_topk: the same ADC/candidate/re-rank replay over
    // the MERGED corpus (rebuilt in SQL — original embeddings plus the
    // re-keyed reversed every-17th slice) under the exported MAINTAINED
    // codebook + merged codes. A stale codebook, mis-encoded delta, or
    // wrong merged id-space all mismatch.
    Query("pq_incremental_topk", (s, d) => incrementalQuery(s, d),
      """WITH cb AS (SELECT sub, code, CAST(cword AS DOUBLE[]) AS cw
        |            FROM read_parquet('/tmp/graft_oracle_aux/pq_incr_codebook/*.parquet')),
        |codes AS (SELECT vec_id, sub, code FROM read_parquet('/tmp/graft_oracle_aux/pq_incr_codes/*.parquet')),
        |mx AS (SELECT max(vec_id) + 1 AS m FROM embeddings),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |      UNION ALL
        |      SELECT vec_id + (SELECT m FROM mx),
        |             CAST(list_reverse(embedding) AS DOUBLE[])
        |      FROM embeddings WHERE vec_id % 17 = 4),
        |q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qnorm
        |      FROM e WHERE vec_id < 10),
        |qsub AS (SELECT query_id, s.s AS sub, list_slice(qv, s.s*8 + 1, s.s*8 + 8) AS svec
        |         FROM q, (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) s(s)),
        |lut AS (SELECT query_id, cb.sub, cb.code,
        |               CAST(list_dot_product(qsub.svec, cb.cw) AS DECIMAL(28,12)) AS pdot,
        |               CAST(list_dot_product(cb.cw, cb.cw) AS DECIMAL(28,12)) AS c2
        |        FROM qsub JOIN cb ON cb.sub = qsub.sub),
        |approx AS (
        |  SELECT l.query_id, c.vec_id,
        |         CAST(SUM(l.pdot) AS DOUBLE) AS adot,
        |         sqrt(CAST(SUM(l.c2) AS DOUBLE)) AS rnorm
        |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
        |  GROUP BY l.query_id, c.vec_id),
        |cand AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT a.query_id, a.vec_id,
        |           row_number() OVER (PARTITION BY a.query_id ORDER BY
        |             (a.adot / (q.qnorm * a.rnorm)) DESC, a.vec_id) AS crn
        |    FROM approx a JOIN q ON q.query_id = a.query_id
        |    WHERE a.vec_id <> a.query_id) WHERE crn <= 50),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |         list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
        |  FROM cand JOIN q ON q.query_id = cand.query_id
        |       JOIN e ON e.vec_id = cand.vec_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cos,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id AS neighbor_id, rank, round(cos, 6) AS cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin))
}
