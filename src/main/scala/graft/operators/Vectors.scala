package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Embedding-column analytics beyond search: per-label centroids and
  * norm statistics — the health checks a vector pipeline runs after
  * every embedding job (collapsed clusters, norm drift, dead labels).
  *
  * Numeric policy: per-dimension sums go through DECIMAL so they are
  * independent of row order (a float sum in shuffle order is not
  * reproducible run-to-run, let alone across engines); each mean is a
  * single IEEE division of identical decimals, so the DuckDB oracle
  * matches exactly. The per-dimension layout (posexplode ->
  * groupBy(label, dim)) is also the 100 TB shape: it shuffles scalar
  * (label, dim, value) triples that partial-aggregate map-side,
  * instead of carrying whole vectors into an array-fold aggregate.
  */
object Vectors {

  /** Per-label: vector count, centroid L2 norm (norm of the mean
    * vector — near 0 = the label's embeddings cancel out / are
    * isotropic), and mean vector L2 norm.
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)

    val norms = emb
      .select(col("label"),
        sqrt(graft.plans.VecDot(col("embedding"), col("embedding"))).as("nrm"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        round(sum(col("nrm").cast("decimal(28,6)")).cast("double") /
          count(lit(1)), 6).as("avg_norm"))

    val centroid = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("v").cast("decimal(20,6)")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"),
        (col("s").cast("double") / col("n")).as("mean"))
      .select(col("label"), (col("mean") * col("mean"))
        .cast("decimal(28,16)").as("m2"))
      .groupBy(col("label"))
      .agg(round(sqrt(sum(col("m2")).cast("double")), 6).as("centroid_norm"))

    norms.join(centroid, Seq("label"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        col("centroid_norm"), col("avg_norm"))
      .orderBy(col("label"))
  }

  /** Symmetric int8 scalar quantization of the embedding column — the
    * 4x-compression step a vector store applies before indexing:
    *
    *   scale = max(|v_i|) / 127,   q_i = round(v_i / scale)
    *
    * Per vector, emits the scale, a checksum of the quantized codes
    * (sum — order-free, exact integers) and the max absolute
    * reconstruction error. Pure per-row projection: no shuffle until
    * the output sort, embeddings never leave their input partition —
    * at 100 TB this runs at scan speed and the narrow (id, 3 scalars)
    * result is all that moves. All arithmetic is IEEE double widened
    * from the float input, identically reproducible in the oracle.
    * Zero vectors (scale 0) quantize to all-zero codes with zero error
    * rather than dividing by zero.
    */
  def vecQuantize(spark: SparkSession, dir: String): DataFrame =
    // the working column is named scale_RAW, distinct from the rounded
    // output alias "scale": lateral column alias resolution would
    // otherwise bind same-select references to the freshly aliased
    // (rounded) value and quantize against the wrong step size
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        (aggregate(col("embedding"), lit(0.0d),
          (acc, x) => greatest(acc, abs(x.cast("double")))) / 127.0d)
          .as("scale_raw"),
        col("embedding"))
      .select(col("vec_id"), round(col("scale_raw"), 9).as("scale"),
        when(col("scale_raw") === 0d, lit(0L)).otherwise(
          aggregate(col("embedding"), lit(0L),
            (acc, x) => acc + round(x.cast("double") / col("scale_raw"), 0)
              .cast("long"))).as("q_sum"),
        when(col("scale_raw") === 0d, lit(0.0d)).otherwise(
          aggregate(col("embedding"), lit(0.0d),
            (acc, x) => greatest(acc,
              abs(x.cast("double") -
                round(x.cast("double") / col("scale_raw"), 0) * col("scale_raw")))))
          .as("max_err"))
      .select(col("vec_id"), col("scale"), col("q_sum"),
        round(col("max_err"), 9).as("max_err"))
      .orderBy(col("vec_id"))

  /** Top principal component of the embedding corpus by distributed
    * power iteration — the de-biasing primitive ("all-but-the-top",
    * Mu & Viswanath, ICLR 2018) an embedding pipeline applies before
    * similarity work: estimate the mean and the dominant covariance
    * direction, then subtract/project them out. Emits one row per
    * dimension: (dim, mu, loading) — the mean vector and the unit
    * top-component estimate after `iters` fixed iterations (the
    * pagerankNearDup contract: fixed-k, bit-reproducible, replayable
    * by the oracle; no convergence test).
    *
    * Matrix-free: with centered covariance C = Σ_i (x_i−μ)(x_i−μ)ᵀ,
    *
    *   C v = Σ_i d_i x_i − μ Σ_i d_i,   d_i = x_i·v − μ·v
    *
    * so one iteration is ONE scan computing per-row d_i (VecDot, the
    * codegen dot product) and ONE hash aggregate of dim+1 DECIMAL
    * sums (the buildCentroids column-battery shape) that map-side
    * combines to a single row. The driver holds only dim-sized
    * vectors between iterations — the cachedCentroids posture; at
    * 100 TB each iteration is a scan + an allreduce of `dim` doubles,
    * the textbook distributed power iteration. v0 = e1 (so v_k is
    * exactly normalize(C^k e1) — deterministic; a corpus whose top
    * eigenvector is exactly orthogonal to e1 is measure-zero and
    * would converge to the next component instead, still
    * deterministically).
    *
    * Cross-engine exactness (every step replayed by the DuckDB
    * oracle): VecDot folds left-to-right == DuckDB list_dot_product;
    * per-row terms cross decimal(28,12) sums (order-independent, so
    * also partitioning-independent); μ uses the 6dp-quantized decimal
    * sums of the labelCentroids policy; driver-side normalization
    * accumulates in index order == list_dot_product(sv, sv). A
    * degenerate corpus (all-zero vectors) yields norm 0 and keeps the
    * zero vector rather than dividing by it; an empty corpus returns
    * zero rows.
    */
  def pcaTopComponent(spark: SparkSession, dir: String,
      iters: Int = 3): DataFrame = {
    import spark.implicits._
    cachedPcaFit(spark, dir, iters) match {
      case None =>
        Seq.empty[(Long, Double, Double)].toDF("dim", "mu", "loading")
      case Some((mu, v)) =>
        mu.indices.map(j => (j + 1L, mu(j), v(j)))
          .toDF("dim", "mu_raw", "loading_raw")
          .select(col("dim"), round(col("mu_raw"), 6).as("mu"),
            round(col("loading_raw"), 6).as("loading"))
          .orderBy(col("dim"))
    }
  }

  /** Process-level memo of the k-component PCA fit keyed by
    * (dir, iters, k) — the cachedCentroids contract: the artifact is
    * a handful of dim-sized vectors (driver-resident by design), the
    * build is bit-deterministic, and the corpus at a path is assumed
    * immutable. All consumers (pca_top_component, abtt_debias,
    * pca_components) and the bench's untimed prewarm share builds: a
    * request for k components is served by TRUNCATING any cached fit
    * with the same (dir, iters) and k' >= k — orthogonalized power
    * iteration extracts components sequentially, so the first k of a
    * larger fit are bit-identical to a k-component fit (PcaSpec
    * asserts it) — and one k=2 build therefore serves the whole
    * family. None = empty corpus.
    */
  private val pcaCache =
    new graft.sources.StampedCache[(String, Int, Int),
      Option[(Array[Double], Seq[(Double, Array[Double])])]]()

  def cachedPcaFit(spark: SparkSession, dir: String,
      iters: Int): Option[(Array[Double], Array[Double])] =
    cachedPcaFitK(spark, dir, iters, 1).map { case (mu, comps) =>
      (mu, comps.head._2)
    }

  /** Stamp-validated ([[graft.sources.CorpusStamp]]) like the other
    * offline-artifact caches: a corpus rewrite transparently refits. */
  def cachedPcaFitK(spark: SparkSession, dir: String, iters: Int,
      k: Int): Option[(Array[Double], Seq[(Double, Array[Double])])] = {
    val stamp =
      graft.sources.CorpusStamp.of(spark, s"$dir/embeddings.parquet")
    // serve a smaller request from a larger same-stamp fit's prefix
    val prefix = pcaCache.snapshot(stamp).collectFirst {
      case ((d, it, kk), Some((mu, comps)))
        if d == dir && it == iters && kk >= k =>
          Some((mu, comps.take(k)))
    }
    prefix.getOrElse {
      pcaCache.get((dir, iters, k), stamp) { pcaFitK(spark, dir, iters, k) }
    }
  }

  /** Bench hook: force the next cachedPcaFitK call to refit. Drops
    * EVERY same-(dir, iters) entry with kk >= k, not just the exact
    * key: the prefix path above serves a k-request from any larger
    * same-stamp fit, so an exact-key invalidate would leave a servable
    * alias and the forced rebuild would silently time a cache hit. */
  private[graft] def invalidatePcaFit(dir: String, iters: Int, k: Int)
      : Unit = pcaCache.invalidateWhere {
    case (d, it, kk) => d == dir && it == iters && kk >= k
  }

  /** k-component fit by orthogonalized power iteration: component c's
    * iterate s = C v has the already-extracted components projected
    * out by classical Gram-Schmidt (s −= (v_p·s) v_p, sequentially)
    * BEFORE normalization — so later components are orthogonal to
    * earlier ones by construction, not only in the converged limit
    * (plain λ-deflation left a measured ~0.01 residual overlap at 3
    * iterations). The correction needs NO extra distributed work: a
    * driver-side subtraction of dim-sized vectors after the same
    * one-scan battery aggregate. Each component's eigenvalue is the
    * final iterate's Rayleigh estimate ‖(I−VVᵀ)C v‖ (the norm of the
    * last projected s). Returns (mu, per-component (λ, v) in order).
    * None = empty corpus.
    */
  private def pcaFitK(spark: SparkSession, dir: String, iters: Int,
      k: Int): Option[(Array[Double], Seq[(Double, Array[Double])])] =
    pcaFitOver(Tables.embeddings(spark, dir), iters, k, coldInit)

  /** Cold-start v0 for component c: e_{c mod dim} (see [[pcaFitK]]'s
    * determinism note). */
  private def coldInit(c: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(j => if (j == c % dim) 1.0 else 0.0)

  /** The fit itself over an EXPLICIT corpus with an explicit
    * per-component starting vector — shared by the cold build
    * ([[pcaFitK]]: v0 = e_{c+1}) and the warm-start incremental
    * maintenance ([[incrementalPcaFitK]]: v0 = the served component,
    * already near the fixed point, so 1–2 iterations replace the cold
    * build's fixed count). Everything else — the one-scan battery
    * aggregate per iteration, decimal sums, Gram-Schmidt, Rayleigh
    * estimate — is identical between the two callers, which is what
    * makes the warm path oracle-replayable with the same CTE blocks.
    */
  private def pcaFitOver(corpus: DataFrame, iters: Int,
      k: Int, init: (Int, Int) => Array[Double])
      : Option[(Array[Double], Seq[(Double, Array[Double])])] = {
    val emb = corpus
      .select(col("embedding")).filter(col("embedding").isNotNull)
    // 1-row dim probe (the Ivf.buildCentroids pattern)
    val probe = emb.select(size(col("embedding")).as("d"))
      .filter(col("d") > 0).limit(1).collect()
    if (probe.isEmpty) return None
    val dim = probe.head.getInt(0)
    def xd(j: Int) = element_at(col("embedding"), j + 1).cast("double")

    // mean pass: n + dim quantized decimal sums in one aggregate
    val muRow = emb.agg(
        count(lit(1)).as("n"),
        (0 until dim).map(j =>
          sum(xd(j).cast("decimal(20,6)")).as(s"m$j")): _*)
      .collect().head
    val n = muRow.getLong(0)
    if (n == 0) return None
    val mu = Array.tabulate(dim) { j =>
      val s = muRow.getDecimal(j + 1)
      (if (s == null) java.math.BigDecimal.ZERO else s).doubleValue / n
    }

    val comps = scala.collection.mutable.ArrayBuffer[(Double, Array[Double])]()
    (0 until k).foreach { c =>
      // cold v0 for component c = e_{c+1}: deterministic, and distinct
      // per component so a later component does not start parallel to
      // an earlier one's converged direction
      var v = init(c, dim)
      var lastNorm = 0.0
      (1 to iters).foreach { _ =>
        // μ·v on the driver, index order (== list_dot_product)
        var mdv = 0.0
        var j = 0
        while (j < dim) { mdv += mu(j) * v(j); j += 1 }
        val vLit = array(v.toIndexedSeq.map(lit): _*)
        val scored = emb.select(
          (Similarity.dot(col("embedding"), vLit) - lit(mdv)).as("dd"),
          col("embedding"))
        val aggRow = scored.agg(
            sum(col("dd").cast("decimal(28,12)")).as("b"),
            (0 until dim).map(j =>
              sum((col("dd") * xd(j)).cast("decimal(28,12)")).as(s"a$j")): _*)
          .collect().head
        def dec(i: Int): Double = {
          val d = aggRow.getDecimal(i)
          (if (d == null) java.math.BigDecimal.ZERO else d).doubleValue
        }
        val b = dec(0)
        val s = Array.tabulate(dim)(j => dec(j + 1) - mu(j) * b)
        // classical Gram-Schmidt against the extracted components:
        // each projection uses the CURRENT s (after the previous
        // subtraction), dot accumulated in index order
        comps.foreach { case (_, vp) =>
          var dvp = 0.0
          j = 0
          while (j < dim) { dvp += vp(j) * s(j); j += 1 }
          j = 0
          while (j < dim) { s(j) = s(j) - dvp * vp(j); j += 1 }
        }
        var ss = 0.0
        j = 0
        while (j < dim) { ss += s(j) * s(j); j += 1 }
        val norm = math.sqrt(ss)
        lastNorm = norm
        v = if (norm == 0) s else s.map(_ / norm)
      }
      comps += ((lastNorm, v))
    }
    Some((mu, comps.toSeq))
  }

  // ------------------------------------------------------------------
  // Incremental PCA-fit maintenance — the Ivf.incrementalCentroids
  // posture for the one embedding artifact that was still rebuild-only:
  // warm-start the power iteration from the SERVED components over the
  // merged corpus. A served fit is (nearly) a fixed point of the merged
  // corpus's iteration map when the delta is ingest-batch-sized, so
  // 1–2 warm iterations replace the cold build's fixed count — each
  // iteration is still one corpus scan + a (dim+1)-column battery
  // aggregate, so the saving is the iteration COUNT (and the k-fold
  // repetition for multi-component fits), not the scan shape.
  // ------------------------------------------------------------------

  /** Maintain the served (dir, iters, k) fit against a delta corpus:
    * re-run [[pcaFitOver]] over the MERGED corpus for `warmIters`
    * iterations starting each component from its served direction
    * (Gram-Schmidt against the already-maintained earlier components,
    * exactly as the cold build orthogonalizes). The merged mean is the
    * same exact decimal mean pass the cold fit runs — order-independent
    * sums over old ∪ delta rows ARE the merged-corpus sums, so `mu` is
    * bit-equal to a cold refit's.
    *
    * DRIFT GATE: a delta outweighing `maxDeltaFrac` of the old corpus
    * is no longer a small perturbation of the covariance geometry (the
    * warm start loses its near-fixed-point argument) — fall back to the
    * full cold refit over the merged corpus, bit-equal to a fresh
    * build. No served fit (cold cache, empty corpus) falls back the
    * same way.
    *
    * Unlike the IVF/PQ/suffix merges this maintenance is NOT bit-equal
    * to its full rebuild — power iteration from two different starting
    * vectors converges to the same eigenspace, not the same bits (and
    * on a flat-spectrum corpus neither fixed-count arm is converged at
    * all) — so the contract is CONVERGENCE parity: one more power
    * step's ‖C v‖ estimate of the maintained component must match or
    * beat the cold refit's (PcaIncrementalSpec; measured it BEATS it —
    * the served start is worth more than the extra cold iterations),
    * plus full oracle replay of the warm iterations themselves
    * (`pca_incremental`): the maintained fit is exactly reproducible,
    * just not the refit's bits.
    */
  def incrementalPcaFitK(spark: SparkSession, dir: String,
      delta: DataFrame, iters: Int, k: Int, warmIters: Int = 1,
      maxDeltaFrac: Double = 0.5)
      : Option[(Array[Double], Seq[(Double, Array[Double])])] = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val merged = emb.unionByName(delta.select(col("vec_id"), col("embedding")))
    cachedPcaFitK(spark, dir, iters, k) match {
      case Some((_, comps)) if comps.size >= k =>
        val oldN = emb.filter(col("embedding").isNotNull).count()
        val deltaN = delta.filter(col("embedding").isNotNull).count()
        if (oldN == 0 || deltaN > maxDeltaFrac * oldN)
          pcaFitOver(merged, iters, k, coldInit)
        else
          pcaFitOver(merged, warmIters, k, (c, _) => comps(c)._2)
      case _ => pcaFitOver(merged, iters, k, coldInit)
    }
  }

  /** Spec hook: the cold fit over an explicit corpus — the comparison
    * arm for the warm-start parity and drift-gate bit-equality specs. */
  private[graft] def refitOver(corpus: DataFrame, iters: Int, k: Int)
      : Option[(Array[Double], Seq[(Double, Array[Double])])] =
    pcaFitOver(corpus, iters, k, coldInit)

  /** Spec hook: ‖C v‖ over `corpus`'s centered covariance for a UNIT
    * candidate direction — the convergence measure the warm-start spec
    * compares arms with (one more power step's Rayleigh-style norm
    * estimate; larger = closer to the top eigenspace). Implemented as
    * a 1-iteration fit seeded with v, whose recorded eigenvalue IS
    * that norm. */
  private[graft] def normCv(corpus: DataFrame, v: Array[Double]): Double =
    pcaFitOver(corpus, 1, 1, (_, _) => v).map(_._2.head._1).getOrElse(0.0)

  /** Install a maintained fit under `dir`'s CURRENT corpus stamp — the
    * ingest-side wiring (see [[graft.operators.Ivf.installCentroids]]):
    * subsequent cachedPcaFitK calls over the mutated corpus serve it
    * (including smaller-k prefix requests) instead of paying a refit.
    */
  def installPcaFit(spark: SparkSession, dir: String, iters: Int, k: Int,
      fit: Option[(Array[Double], Seq[(Double, Array[Double])])]): Unit = {
    val stamp =
      graft.sources.CorpusStamp.of(spark, s"$dir/embeddings.parquet")
    pcaCache.put((dir, iters, k), stamp, fit)
  }

  // ------------------------------------------------------------------
  // Store-keyed fit family + the vectorIngest maintainer — the PCA
  // member of the embedding-store wiring (see Ivf's store section).
  // PCA differs from IVF/PQ in one structural way: the warm-start
  // maintenance SCANS the merged corpus (power iteration is matrix-
  // free over all vectors) — what it saves is iterations, not the
  // pass; conveniently, the post-commit store IS the merged corpus,
  // so the maintainer needs no old/delta split at all.
  // ------------------------------------------------------------------

  private def storeKey(path: String): String = s"store:$path"

  /** Probe hook: the (stamp, fit) currently served for the store. */
  private[graft] def servedStorePcaFit(path: String, iters: Int, k: Int)
      : Option[(Long,
        Option[(Array[Double], Seq[(Double, Array[Double])])])] =
    pcaCache.peek((storeKey(path), iters, k))

  /** Spec hook: the fit over an explicit corpus from explicit
    * per-component starting vectors — the comparison arm for the
    * store-maintainer bit-parity assertion. */
  private[graft] def warmOver(corpus: DataFrame, warmIters: Int, k: Int,
      starts: Seq[Array[Double]])
      : Option[(Array[Double], Seq[(Double, Array[Double])])] =
    pcaFitOver(corpus, warmIters, k, (c, _) => starts(c))

  /** PCA fit over a [[graft.streaming.EventStreams.vectorIngest]]
    * store, stamp-cached like the dir form (including the
    * larger-fit-prefix serving). */
  def storePcaFitK(spark: SparkSession, path: String, iters: Int,
      k: Int): Option[(Array[Double], Seq[(Double, Array[Double])])] = {
    val stamp = graft.sources.CorpusStamp.of(spark, path)
    val prefix = pcaCache.snapshot(stamp).collectFirst {
      case ((d, it, kk), Some((mu, comps)))
        if d == storeKey(path) && it == iters && kk >= k =>
          Some((mu, comps.take(k)))
    }
    prefix.getOrElse {
      pcaCache.get((storeKey(path), iters, k), stamp) {
        pcaFitOver(graft.streaming.EventStreams
          .admittedVectors(spark, path), iters, k, coldInit)
      }
    }
  }

  /** The PCA family's [[graft.sources.ArtifactMaintenance]] maintainer
    * for vectorIngest stores: on a pure-append commit whose served fit
    * matches the pre-commit stamp, warm-start the power iteration from
    * the served components over the (post-commit = merged) corpus —
    * `warmIters` steps instead of the cold build's `iters` — and
    * install under the post-commit stamp; the drift gate falls back to
    * a cold refit over the same corpus (still installed: unlike IVF/PQ
    * the rebuild IS the maintenance here, just with cold starts).
    * Anything else skips to the staleness rebuild.
    */
  def storeMaintainer(iters: Int = 3, k: Int = 1, warmIters: Int = 1,
      maxDeltaFrac: Double = 0.5)
      : graft.sources.ArtifactMaintenance.Maintainer = (spark, c) => {
    if (c.pureAppend) {
      val key = (storeKey(c.path), iters, k)
      pcaCache.peek(key) match {
        case Some((s, Some((_, comps))))
            if s == c.preStamp && comps.size >= k =>
          val merged = graft.streaming.EventStreams
            .admittedVectors(spark, c.path)
          val deltaN = c.delta.filter(col("embedding").isNotNull).count()
          val totalN = merged.filter(col("embedding").isNotNull).count()
          val oldN = totalN - deltaN
          val fit =
            if (oldN <= 0 || deltaN > maxDeltaFrac * oldN)
              pcaFitOver(merged, iters, k, coldInit)
            else
              pcaFitOver(merged, warmIters, k, (cc, _) => comps(cc)._2)
          pcaCache.put(key, graft.sources.CorpusStamp.of(spark, c.path),
            fit)
        case _ => () // cold/mismatched: correct rebuild on next access
      }
    }
  }

  /** Registry form: maintain the served 1-component fit against
    * [[graft.operators.Ivf.syntheticDelta]] (the shared every-17th
    * reversed-vector ingest batch) with ONE warm iteration and emit the
    * maintained (dim, mu, loading) table — pcaTopComponent's shape over
    * the merged corpus. The oracle replays the whole chain in SQL: the
    * served fit (the cold pcaCtes blocks over the original corpus),
    * then the merged-corpus mean and the warm iteration from that fit —
    * full-precision hash match, no tolerance.
    */
  def pcaIncremental(spark: SparkSession, dir: String,
      iters: Int = 3, warmIters: Int = 1): DataFrame = {
    import spark.implicits._
    incrementalPcaFitK(spark, dir, Ivf.syntheticDelta(spark, dir),
      iters, 1, warmIters) match {
      case None =>
        Seq.empty[(Long, Double, Double)].toDF("dim", "mu", "loading")
      case Some((mu, comps)) =>
        val v = comps.head._2
        mu.indices.map(j => (j + 1L, mu(j), v(j)))
          .toDF("dim", "mu_raw", "loading_raw")
          .select(col("dim"), round(col("mu_raw"), 6).as("mu"),
            round(col("loading_raw"), 6).as("loading"))
          .orderBy(col("dim"))
    }
  }

  /** Top-k principal components (k=2 shipped): the full ABTT recipe
    * removes the top FEW components, not one — this emits them with
    * their Rayleigh eigenvalue estimates. One row per (component,
    * dim); loadings and eigenvalues share pcaTopComponent's numeric
    * contract, so the DuckDB oracle replays both components exactly
    * (the deflation terms are pure scalar/list arithmetic in the
    * final CTEs).
    */
  def pcaComponents(spark: SparkSession, dir: String, k: Int = 2,
      iters: Int = 3): DataFrame = {
    import spark.implicits._
    cachedPcaFitK(spark, dir, iters, k) match {
      case None =>
        Seq.empty[(Long, Long, Double, Double)]
          .toDF("component", "dim", "eigenvalue", "loading")
      case Some((_, comps)) =>
        comps.zipWithIndex.flatMap { case ((lam, v), c) =>
          v.indices.map(j => ((c + 1).toLong, (j + 1).toLong, lam, v(j)))
        }.toDF("component", "dim", "ev_raw", "loading_raw")
          .select(col("component"), col("dim"),
            round(col("ev_raw"), 6).as("eigenvalue"),
            round(col("loading_raw"), 6).as("loading"))
          .orderBy(col("component"), col("dim"))
    }
  }

  /** All-but-the-top de-biasing applied per vector: with the corpus
    * mean μ and top component v from the shared PCA fit, emit each
    * vector's signed projection onto v after centering and the L2 norm
    * of what remains once that component is removed:
    *
    *   proj  = x·v − μ·v
    *   resid = sqrt(max(0, x·x − 2 x·μ + μ·μ − proj²))
    *
    * — the audit table of a de-biasing pass (how much of each vector
    * the dominant direction explains) and, with proj zeroed, the ABTT
    * transform itself. Pure per-row projection against two broadcast
    * dim-vectors: no shuffle until the output sort, embeddings never
    * leave their input partition — at 100 TB this runs at scan speed
    * (the vecQuantize posture). The residual uses the expanded
    * ||x−μ||² form so every term is a VecDot/list_dot_product
    * left-to-right fold the oracle reproduces bit-for-bit; the
    * max(,0) clamp absorbs the one case where cancellation could go
    * epsilon-negative (a vector exactly on the component line).
    * Rows with a NULL embedding carry no projection and are dropped.
    */
  def abttDebias(spark: SparkSession, dir: String,
      iters: Int = 3): DataFrame = {
    import spark.implicits._
    cachedPcaFit(spark, dir, iters) match {
      case None =>
        Seq.empty[(Long, Double, Double)].toDF("vec_id", "proj", "resid_norm")
      case Some((mu, v)) =>
        var mdv = 0.0
        var mdm = 0.0
        var j = 0
        while (j < mu.length) {
          mdv += mu(j) * v(j); mdm += mu(j) * mu(j); j += 1
        }
        val vLit = array(v.toIndexedSeq.map(lit): _*)
        val muLit = array(mu.toIndexedSeq.map(lit): _*)
        val x = col("embedding")
        Tables.embeddings(spark, dir)
          .filter(x.isNotNull)
          .select(col("vec_id"),
            (Similarity.dot(x, vLit) - lit(mdv)).as("proj_raw"),
            (Similarity.dot(x, x) - lit(2.0) * Similarity.dot(x, muLit) +
              lit(mdm)).as("cnorm2"))
          .select(col("vec_id"), round(col("proj_raw"), 6).as("proj"),
            round(sqrt(greatest(
              col("cnorm2") - col("proj_raw") * col("proj_raw"),
              lit(0.0))), 6).as("resid_norm"))
          .orderBy(col("vec_id"))
    }
  }

  /** pca_top_component oracle: the fixed-iteration power method
    * replayed in SQL, one CTE block per iteration (the pagerank
    * chained-CTE pattern). Every numeric step mirrors the Spark
    * implementation exactly — list_dot_product == VecDot's
    * left-to-right fold, decimal(28,12)/(20,6) sums are
    * order-independent in both engines, and the s/normalization
    * arithmetic is the same IEEE expression tree — so the comparison
    * is a full-precision hash match, not a tolerance. dim=64 and
    * iters=3 are literals here (oracle SQL pins corpus facts, like
    * the PQ oracle's m=8/dim=64).
    */
  private def pcaCtes(iters: Int): String = {
    def iter(k: Int): String = {
      val p = if (k == 1) "v0" else s"v${k - 1}"
      s"""d$k AS MATERIALIZED (SELECT x, list_dot_product(x, (SELECT v FROM $p)) - list_dot_product((SELECT mv FROM mv), (SELECT v FROM $p)) AS dd FROM e),
         |g$k AS MATERIALIZED (SELECT j, sum(CAST(dd * x[j] AS DECIMAL(28,12))) AS a
         |  FROM d$k, unnest(range(1, 65)) AS t(j) GROUP BY j),
         |b$k AS MATERIALIZED (SELECT sum(CAST(dd AS DECIMAL(28,12))) AS b FROM d$k),
         |s$k AS MATERIALIZED (SELECT g.j, CAST(g.a AS DOUBLE) - mj.m * CAST((SELECT b FROM b$k) AS DOUBLE) AS s
         |  FROM g$k g JOIN mj ON mj.j = g.j),
         |sv$k AS MATERIALIZED (SELECT list(s ORDER BY j) AS sv FROM s$k),
         |v$k AS MATERIALIZED (SELECT CASE WHEN list_dot_product(sv, sv) = 0 THEN list_transform(sv, z -> 0.0)
         |  ELSE list_transform(sv, z -> z / sqrt(list_dot_product(sv, sv))) END AS v FROM sv$k),""".stripMargin
    }
    s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings WHERE embedding IS NOT NULL),
       |cnt AS MATERIALIZED (SELECT count(*) AS n FROM e),
       |mj AS MATERIALIZED (
       |  SELECT j, CAST(sum(CAST(x[j] AS DECIMAL(20,6))) AS DOUBLE) / (SELECT n FROM cnt) AS m
       |  FROM e, unnest(range(1, 65)) AS t(j) GROUP BY j),
       |mv AS MATERIALIZED (SELECT list(m ORDER BY j) AS mv FROM mj),
       |v0 AS MATERIALIZED (SELECT list(CASE WHEN j = 1 THEN 1.0 ELSE 0.0 END ORDER BY j) AS v
       |  FROM unnest(range(1, 65)) AS t(j)),
       |${(1 to iters).map(iter).mkString("\n")}
       |fin AS MATERIALIZED (SELECT v FROM v$iters)""".stripMargin
  }

  private def pcaOracle(iters: Int): String =
    s"""${pcaCtes(iters)}
       |SELECT CAST(t.j AS BIGINT) AS dim, round(mj.m, 6) AS mu,
       |  round(fin.v[t.j], 6) AS loading
       |FROM unnest(range(1, 65)) AS t(j) JOIN mj ON mj.j = t.j CROSS JOIN fin
       |ORDER BY dim""".stripMargin

  /** pca_components oracle (k=2): component 1 is the pcaCtes fit;
    * component 2 re-runs the same iteration blocks with the extracted
    * component projected out of the RAW iterate by Gram-Schmidt —
    * s = s_raw − (v1·s_raw) v1 — before normalization, exactly as the
    * driver does it (so the two components are orthogonal by
    * construction). Eigenvalues are the final projected iterate's
    * Rayleigh estimate sqrt(sv·sv) in both engines.
    */
  private def pcaComponentsOracle(iters: Int): String = {
    def wIter(k: Int): String = {
      val p = if (k == 1) "w0" else s"wv${k - 1}"
      s"""wd$k AS MATERIALIZED (SELECT x, list_dot_product(x, (SELECT v FROM $p)) - list_dot_product((SELECT mv FROM mv), (SELECT v FROM $p)) AS dd FROM e),
         |wg$k AS MATERIALIZED (SELECT j, sum(CAST(dd * x[j] AS DECIMAL(28,12))) AS a
         |  FROM wd$k, unnest(range(1, 65)) AS t(j) GROUP BY j),
         |wb$k AS MATERIALIZED (SELECT sum(CAST(dd AS DECIMAL(28,12))) AS b FROM wd$k),
         |wsr$k AS MATERIALIZED (SELECT g.j,
         |  CAST(g.a AS DOUBLE) - mj.m * CAST((SELECT b FROM wb$k) AS DOUBLE) AS s
         |  FROM wg$k g JOIN mj ON mj.j = g.j),
         |wsvr$k AS MATERIALIZED (SELECT list(s ORDER BY j) AS sv FROM wsr$k),
         |ws$k AS MATERIALIZED (SELECT r.j,
         |  r.s - list_dot_product(fin.v, wsvr$k.sv) * fin.v[r.j] AS s
         |  FROM wsr$k r CROSS JOIN fin CROSS JOIN wsvr$k),
         |wsv$k AS MATERIALIZED (SELECT list(s ORDER BY j) AS sv FROM ws$k),
         |wv$k AS MATERIALIZED (SELECT CASE WHEN list_dot_product(sv, sv) = 0 THEN list_transform(sv, z -> 0.0)
         |  ELSE list_transform(sv, z -> z / sqrt(list_dot_product(sv, sv))) END AS v FROM wsv$k),""".stripMargin
    }
    s"""${pcaCtes(iters)},
       |w0 AS MATERIALIZED (SELECT list(CASE WHEN j = 2 THEN 1.0 ELSE 0.0 END ORDER BY j) AS v
       |  FROM unnest(range(1, 65)) AS t(j)),
       |${(1 to iters).map(wIter).mkString("\n")}
       |wfin AS MATERIALIZED (SELECT v FROM wv$iters)
       |SELECT CAST(1 AS BIGINT) AS component, CAST(t.j AS BIGINT) AS dim,
       |  round(sqrt(list_dot_product(sv$iters.sv, sv$iters.sv)), 6) AS eigenvalue,
       |  round(fin.v[t.j], 6) AS loading
       |FROM unnest(range(1, 65)) AS t(j) CROSS JOIN fin CROSS JOIN sv$iters
       |UNION ALL
       |SELECT CAST(2 AS BIGINT), CAST(t.j AS BIGINT),
       |  round(sqrt(list_dot_product(wsv$iters.sv, wsv$iters.sv)), 6),
       |  round(wfin.v[t.j], 6)
       |FROM unnest(range(1, 65)) AS t(j) CROSS JOIN wfin CROSS JOIN wsv$iters
       |ORDER BY component, dim""".stripMargin
  }

  /** pca_incremental oracle: the served fit (the cold pcaCtes blocks
    * over the ORIGINAL corpus → `fin`), then the merged corpus rebuilt
    * in SQL (original ∪ re-keyed reversed every-17th — the
    * IvfIncrSearchOracle fixture), its exact decimal mean, and the warm
    * power iteration(s) starting FROM `fin` — precisely what
    * Vectors.incrementalPcaFitK computes, block for block, so the
    * comparison is a full-precision hash match like the other PCA
    * oracles. A maintenance that served a stale mean, skipped the warm
    * iteration, or warm-started from the wrong vector all mismatch.
    */
  private def pcaIncrOracle(iters: Int, warmIters: Int): String = {
    def wIter(k: Int): String = {
      val p = if (k == 1) "fin" else s"uv${k - 1}"
      s"""ud$k AS MATERIALIZED (SELECT x, list_dot_product(x, (SELECT v FROM $p)) - list_dot_product((SELECT mv FROM mv2), (SELECT v FROM $p)) AS dd FROM e2),
         |ug$k AS MATERIALIZED (SELECT j, sum(CAST(dd * x[j] AS DECIMAL(28,12))) AS a
         |  FROM ud$k, unnest(range(1, 65)) AS t(j) GROUP BY j),
         |ub$k AS MATERIALIZED (SELECT sum(CAST(dd AS DECIMAL(28,12))) AS b FROM ud$k),
         |us$k AS MATERIALIZED (SELECT g.j, CAST(g.a AS DOUBLE) - mj2.m * CAST((SELECT b FROM ub$k) AS DOUBLE) AS s
         |  FROM ug$k g JOIN mj2 ON mj2.j = g.j),
         |usv$k AS MATERIALIZED (SELECT list(s ORDER BY j) AS sv FROM us$k),
         |uv$k AS MATERIALIZED (SELECT CASE WHEN list_dot_product(sv, sv) = 0 THEN list_transform(sv, z -> 0.0)
         |  ELSE list_transform(sv, z -> z / sqrt(list_dot_product(sv, sv))) END AS v FROM usv$k),""".stripMargin
    }
    s"""${pcaCtes(iters)},
       |e2 AS MATERIALIZED (
       |  SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings
       |  WHERE embedding IS NOT NULL
       |  UNION ALL
       |  SELECT CAST(list_reverse(embedding) AS DOUBLE[]) FROM embeddings
       |  WHERE vec_id % 17 = 4 AND embedding IS NOT NULL),
       |cnt2 AS MATERIALIZED (SELECT count(*) AS n FROM e2),
       |mj2 AS MATERIALIZED (
       |  SELECT j, CAST(sum(CAST(x[j] AS DECIMAL(20,6))) AS DOUBLE) / (SELECT n FROM cnt2) AS m
       |  FROM e2, unnest(range(1, 65)) AS t(j) GROUP BY j),
       |mv2 AS MATERIALIZED (SELECT list(m ORDER BY j) AS mv FROM mj2),
       |${(1 to warmIters).map(wIter).mkString("\n")}
       |ufin AS MATERIALIZED (SELECT v FROM uv$warmIters)
       |SELECT CAST(t.j AS BIGINT) AS dim, round(mj2.m, 6) AS mu,
       |  round(ufin.v[t.j], 6) AS loading
       |FROM unnest(range(1, 65)) AS t(j) JOIN mj2 ON mj2.j = t.j CROSS JOIN ufin
       |ORDER BY dim""".stripMargin
  }

  /** abtt_debias oracle: same fit CTEs, then the per-row projection /
    * residual replayed with the identical IEEE expression tree (see
    * Vectors.abttDebias — the expanded ||x−μ||² form exists exactly so
    * every term is a left-to-right list_dot_product here).
    */
  private def abttOracle(iters: Int): String =
    s"""${pcaCtes(iters)},
       |scal AS MATERIALIZED (SELECT list_dot_product(mv.mv, fin.v) AS mdv,
       |    list_dot_product(mv.mv, mv.mv) AS mdm FROM mv CROSS JOIN fin)
       |SELECT e.vec_id,
       |  round(list_dot_product(e.x, fin.v) - scal.mdv, 6) AS proj,
       |  round(sqrt(greatest(
       |    list_dot_product(e.x, e.x) - 2.0 * list_dot_product(e.x, mv.mv) + scal.mdm
       |      - (list_dot_product(e.x, fin.v) - scal.mdv) * (list_dot_product(e.x, fin.v) - scal.mdv),
       |    0.0)), 6) AS resid_norm
       |FROM e CROSS JOIN fin CROSS JOIN mv CROSS JOIN scal
       |ORDER BY vec_id""".stripMargin

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("label_centroids", (s, d) => labelCentroids(s, d),
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |norms AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
        |    round(CAST(sum(CAST(sqrt(list_dot_product(v, v)) AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_norm
        |  FROM e GROUP BY label),
        |dims AS (
        |  SELECT label, i, CAST(sum(CAST(v[i] AS DECIMAL(20,6))) AS DOUBLE) / count(*) AS mean
        |  FROM e, unnest(range(1, len(v) + 1)) AS t(i)
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT label, round(sqrt(CAST(sum(CAST(mean * mean AS DECIMAL(28,16))) AS DOUBLE)), 6) AS centroid_norm
        |  FROM dims GROUP BY label)
        |SELECT CAST(norms.label AS BIGINT) AS label, n_vecs, centroid_norm, avg_norm
        |FROM norms JOIN cent ON norms.label = cent.label
        |ORDER BY label""".stripMargin),
    Query("vec_quantize", (s, d) => vecQuantize(s, d),
      """WITH q AS (
        |  SELECT vec_id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
        |    embedding
        |  FROM embeddings)
        |SELECT vec_id, round(scale, 9) AS scale,
        |  CASE WHEN scale = 0 THEN 0
        |       ELSE CAST(list_sum(list_transform(embedding,
        |         x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT))) AS BIGINT)
        |  END AS q_sum,
        |  CASE WHEN scale = 0 THEN 0.0
        |       ELSE round(list_max(list_transform(embedding,
        |         x -> abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale) * scale))), 9)
        |  END AS max_err
        |FROM q ORDER BY vec_id""".stripMargin),
    Query("pca_top_component", (s, d) => pcaTopComponent(s, d), pcaOracle(3)),
    Query("pca_incremental", (s, d) => pcaIncremental(s, d),
      pcaIncrOracle(3, 1)),
    Query("abtt_debias", (s, d) => abttDebias(s, d), abttOracle(3)),
    Query("pca_components", (s, d) => pcaComponents(s, d),
      pcaComponentsOracle(3)))
}
