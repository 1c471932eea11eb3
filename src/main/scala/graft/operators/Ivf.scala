package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Similarity.{cosine, topKPerQuery}
import graft.operators.Query.OracleAuxDir

/** IVF (inverted-file) ANN: partition the vector space by a small set
  * of centroids (Lloyd iterations, all DataFrame ops), store each
  * vector under its nearest centroid, probe only the nProbe closest
  * cells at query time. The centroid table is tiny and broadcast; the
  * corpus is touched once per build pass and once per query.
  *
  * Determinism: centroid updates average per-dimension with DECIMAL
  * sums (order-independent), and assignment argmin breaks ties on
  * centroid id — so the index build is bit-identical under any
  * partitioning, unlike a naive double-mean k-means.
  *
  * At 100 TB the build is the standard two-phase k-means (assign =
  * broadcast join + argmin, update = one hash agg over (cluster, dim));
  * the probe is an equi-join on cell id. Nothing here is driver-bound
  * except the k x dim centroid table itself.
  */
object Ivf {

  /** Process-level memo of built centroid tables keyed by (corpus dir,
    * nCells, iters) — "build the index once" across every consumer in
    * one process (ivf_topk, ann_topk, knn_graph, the oracleAux
    * exports), instead of re-running the Lloyd build per call. The
    * cached value is the k x dim floats THEMSELVES (a centroid table
    * is k rows by construction — driver-resident by design, like the
    * broadcast it feeds), so re-materialization is a local-relation
    * createDataFrame: it survives `Cleanup.dropPersisted`, needs no
    * checkpoint blocks, and never replays lineage. The build is
    * bit-deterministic (IvfSpec), so cache-hit vs rebuild cannot
    * change any result. The 100 TB analog is the persisted index file
    * a deployment builds once and every query job reads — that path
    * is `ivfTopK(prebuilt = ...)`, spec-gated via a parquet
    * round-trip.
    */
  private val centroidCache =
    new graft.sources.StampedCache[(String, Int, Int),
      Seq[(Int, Seq[Float])]]()

  /** Stamp-validated ([[graft.sources.CorpusStamp]]): a cached build is
    * served only while the embeddings table's change token matches, so
    * rewriting the corpus at a cached path transparently rebuilds
    * instead of serving stale centroids.
    */
  def cachedCentroids(spark: SparkSession, dir: String, nCells: Int,
      iters: Int): DataFrame = {
    val stamp = graft.sources.CorpusStamp.of(spark, s"$dir/embeddings.parquet")
    val rows = centroidCache.get((dir, nCells, iters), stamp) {
      buildCentroids(Tables.embeddings(spark, dir), nCells, iters)
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1)))
        .toSeq
    }
    import spark.implicits._
    rows.toDF("cid", "cvec")
  }

  /** Bench hook: force the next cachedCentroids call to rebuild. */
  private[graft] def invalidateCentroids(dir: String, nCells: Int,
      iters: Int): Unit =
    centroidCache.invalidate((dir, nCells, iters))

  /** Nearest-centroid assignment via [[graft.plans.VecNearest]]: the
    * centroid matrix travels as a LITERAL (k x dim floats — a few
    * hundred KB at worst) and each vector resolves its argmax-cosine
    * cell inside whole-stage codegen. Returns (vec_id, cell).
    *
    * Two shapes preceded this one, each an order of magnitude apart:
    * a row_number window over the k-way fanout WITH the arrays riding
    * the exchange, then a min_by hash aggregate over narrow (vec_id,
    * cid, d) rows — still n*k ROWS through a crossJoin + aggregate at
    * ~us-scale pipeline cost per row (21 s for n=20k, k=142 at the
    * 10x SF). This is n rows and ZERO exchanges: assignment is a map.
    * Tie-break parity: VecNearest breaks cosine ties toward the
    * smaller position, and positions are ordered by cid below —
    * exactly min_by(cid, struct(-cos, cid)).
    */
  def assign(emb: DataFrame, centroids: DataFrame): DataFrame = {
    // centroid tables are driver-resident by construction
    // (cachedCentroids); k rows collect, ordered by cid so position
    // == rank of cid (cids need not be contiguous)
    val cands = centroids.select(col("cid"), col("cvec")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    val cidByPos = cands.map(_._1)
    val candLit = typedLit(cands.map(_._2).toSeq)
    val cidLit = typedLit(cidByPos.toSeq)
    emb.select(col("vec_id"),
      element_at(cidLit,
        graft.plans.VecNearest(col("embedding"), candLit)
          .getField("pos") + 1).as("cell"))
  }

  /** Driver-side cosine distance for the tiny candidate reduction —
    * candidates are O(k log n) rows, never data-sized. */
  private def localCosDist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 1.0 else 1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** k-means||-style scalable init (Bahmani et al., "Scalable
    * k-means++", VLDB'12), made fully deterministic: the per-point
    * coin flip is a fixed xxhash64 of (round, vec_id) mapped to
    * [0, 1), so the sample — and therefore the whole init — is
    * bit-identical under any partitioning, task order, or cluster
    * size (the determinism contract every graft build step carries).
    *
    * Why not first-k-by-id: the first k vectors say nothing about the
    * data's geometry — adjacent ids are often near-identical (the
    * driver testdata's replicated doc embeddings, any corpus sorted
    * by ingest time), which seeds duplicate centroids and leaves
    * whole regions probed by no cell. k-means|| seeds proportionally
    * to residual cost, the same guarantee k-means++ gives, in
    * O(rounds) scans instead of k sequential ones.
    *
    * Shape per round (all corpus passes are DataFrame ops):
    *   1. distance-to-candidate-set: one broadcast crossJoin + a
    *      map-side-combined min aggregate (narrow (vec_id, d) rows);
    *   2. one scalar cost aggregate (phi);
    *   3. an independent coin per point: sample iff
    *      u(round, vec_id) < l * d(x) / phi, l = overFactor * k.
    * Expected l candidates per round — the candidate table stays
    * k-sized, broadcastable, and the collect()s here are all
    * candidate-sized or scalar (same driver-residency argument as
    * the centroid table itself).
    *
    * The ~l*rounds weighted candidates reduce to exactly
    * min(k, corpus) driver-side by greedy weighted farthest-first
    * (max w(c) * dist-to-chosen, ties toward smaller id) — the
    * deterministic variant of the weighted k-means++ reclustering
    * the paper prescribes. If sampling under-fills (degenerate
    * corpora: all points identical -> phi = 0 after round one), the
    * remainder tops up from the smallest unchosen vec_ids, so the
    * contract "exactly min(k, n) centroids" always holds.
    */
  def scalableInitCentroids(emb: DataFrame, k: Int,
      rounds: Int = 4, overFactor: Int = 2): Seq[(Int, Seq[Float])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.filter(size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"))
    val seed = vecs.orderBy(col("vec_id")).limit(1)
      .as[(Long, Seq[Float])].collect()
    if (seed.isEmpty) return Seq.empty
    val l = math.max(1, overFactor * k)
    var cands = scala.collection.mutable.LinkedHashMap(
      seed.head._1 -> seed.head._2)
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      // one VecNearest projection per round — n rows, no crossJoin,
      // no aggregate, no exchange (the previous n x |cands| join +
      // min-agg shape measured 383 s for the whole init at the 10x SF
      // with k = 142; the cosine math is bit-identical). d = 1 - cos
      // is exact-min-equivalent: 1 - x is weakly monotone, so the
      // max-cos winner's 1 - cos IS min(1 - cos over candidates).
      val candLit = typedLit(cands.toSeq.map(_._2))
      val dists = vecs
        .select(col("vec_id"),
          (lit(1.0) - graft.plans.VecNearest(col("embedding"), candLit)
            .getField("cos")).as("d"))
      val phi = dists.agg(sum(col("d"))).as[Option[Double]].head().getOrElse(0.0)
      if (phi <= 0) exhausted = true // every point IS a candidate
      else {
        // u in [0,1): 2^40 buckets of a fixed-seed hash — far below
        // any meaningful sampling-probability resolution
        val buckets = 1L << 40
        val u = pmod(xxhash64(lit(round), col("vec_id")), lit(buckets))
          .cast("double") / lit(buckets.toDouble)
        val picked = dists
          .filter(u < least(lit(1.0), lit(l.toDouble) * col("d") / lit(phi)))
          .select(col("vec_id"))
          .join(vecs, "vec_id")
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Seq[Float])].collect()
        // collect() row order varies with partitioning; candidate
        // ORDER feeds the greedy reduction, so pin it by id
        picked.sortBy(_._1).foreach { case (id, v) =>
          if (!cands.contains(id)) cands += id -> v
        }
      }
      round += 1
    }
    // weights: corpus points per nearest candidate (ties toward the
    // smaller candidate POSITION, matching assign()'s cid tie-break)
    val ordered = cands.toVector
    // nearest-candidate position per corpus point, then a tiny count
    // aggregate — same VecNearest projection as the rounds. Tie-break
    // is max-cos-then-smaller-pos, which equals the previous
    // min_by(pos, struct(1 - cos, pos)) except where two DISTINCT
    // cosines collapse to one 1-cos double (sub-ulp corner): both
    // orders are deterministic, and weights only steer the greedy
    // reduction below.
    val weights = vecs
      .select(graft.plans.VecNearest(col("embedding"),
        typedLit(ordered.map(_._2))).getField("pos").as("pos"))
      .groupBy(col("pos")).agg(count(lit(1)).as("w"))
      .as[(Int, Long)].collect().toMap
    // greedy weighted farthest-first down to k. Candidate vectors are
    // collect()-shaped Seq[Float] — LINKED lists, where v(i) is O(i)
    // and a 64-dim distance costs O(dim^2) boxed hops; at |cands| ~
    // 1.1k, k = 142 the old recompute-min-over-chosen-per-step loop
    // spent minutes of pure List.apply (jstack-profiled). Primitive
    // arrays + the classic incremental farthest-first cache (each
    // candidate keeps min-dist-to-chosen, refreshed against only the
    // NEWEST pick — fp min is exact, so values are bit-identical to
    // the full recompute) make it O(|cands| * k) array distances.
    val target = math.min(k, ordered.size)
    val candArrs = ordered.map { case (id, v) => (id, v.toArray) }
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
    val remaining = scala.collection.mutable.ArrayBuffer(
      candArrs.zipWithIndex.map { case ((id, v), i) =>
        (id, v, weights.getOrElse(i, 0L)) }: _*)
    val first0 = remaining.zipWithIndex
      .minBy { case ((id, _, w), _) => (-w, id) }._2
    chosen += ((remaining(first0)._1, remaining(first0)._2))
    remaining.remove(first0)
    val minD = remaining.map(r => localCosDist(r._2, chosen.head._2))
    while (chosen.size < target && remaining.nonEmpty) {
      var next = 0
      var bestKey = Double.MaxValue
      var bestId = Long.MaxValue
      var i = 0
      while (i < remaining.size) {
        val key = -(remaining(i)._3.toDouble * minD(i))
        // java.lang.Double.compare (not primitive </==) restores the
        // replaced minBy's total order: -0.0 sorts before 0.0 so
        // zero-weight ties fall to the id tiebreak identically. NaN
        // keys (zero-norm candidates) compare greater than the
        // Double.MaxValue seed, so they remain unselectable; an
        // all-NaN pass degenerates to `next = 0` — the first remaining
        // candidate in the deterministic `ordered` sequence, not the
        // smallest id. Deterministic either way, and bit-identical to
        // the minBy this replaced.
        val c = java.lang.Double.compare(key, bestKey)
        if (c < 0 || (c == 0 && remaining(i)._1 < bestId)) {
          bestKey = key; bestId = remaining(i)._1; next = i
        }
        i += 1
      }
      val picked1 = remaining(next)
      chosen += ((picked1._1, picked1._2))
      remaining.remove(next)
      minD.remove(next)
      var j = 0
      while (j < remaining.size) {
        val d = localCosDist(remaining(j)._2, picked1._2)
        if (d < minD(j)) minD(j) = d
        j += 1
      }
    }
    // degenerate top-up: smallest unchosen ids until min(k, n)
    if (chosen.size < k) {
      val have = chosen.map(_._1).toSet
      val extra = vecs.filter(!col("vec_id").isin(have.toSeq: _*))
        .orderBy(col("vec_id")).limit(k - chosen.size)
        .as[(Long, Seq[Float])].collect()
      chosen ++= extra.map { case (id, v) => (id, v.toArray) }
    }
    // weighted Lloyd refinement over the candidate set (the paper's
    // "recluster the weighted candidates" step): candidates with
    // their corpus weights stand in for the data distribution, so a
    // few driver-side iterations move the k greedy picks to the
    // weighted candidate centroid — all O(|cands| * k) per round on
    // candidate-sized arrays, deterministic (ties toward the smaller
    // center index), no corpus pass
    val wcands = candArrs.zipWithIndex
      .map { case ((_, v), i) => (v, weights.getOrElse(i, 0L).toDouble) }
    var centers = chosen.toVector.map(_._2)
    var moved = true
    var refineIt = 0
    while (moved && refineIt < 20) {
      val sums = Array.fill(centers.size)(
        new Array[Double](centers.head.length))
      val wsum = new Array[Double](centers.size)
      wcands.foreach { case (v, w) =>
        if (w > 0) {
          var best = 0; var bestD = Double.MaxValue
          var i = 0
          while (i < centers.size) {
            val d0 = localCosDist(v, centers(i))
            if (d0 < bestD) { bestD = d0; best = i }
            i += 1
          }
          var j = 0
          while (j < v.length) { sums(best)(j) += w * v(j); j += 1 }
          wsum(best) += w
        }
      }
      val next = centers.indices.map { i =>
        if (wsum(i) == 0) centers(i) // empty center keeps its seed
        else sums(i).map(s => (s / wsum(i)).toFloat)
      }.toVector
      moved = next.zip(centers)
        .exists { case (a, b) => !java.util.Arrays.equals(a, b) }
      centers = next
      refineIt += 1
    }
    centers.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
  }

  /** k deterministic Lloyd iterations. Init = k-means|| with a fixed
    * hash-seed ([[scalableInitCentroids]]); `init = "first-k"` keeps
    * the first-k-vectors-by-id seeding (the pre-r12 behavior, still
    * useful as the comparison arm in specs).
    *
    * Each iteration is exactly TWO exchanges: the assignment argmin
    * (carrying the vector through as a first() — constant per group)
    * and one wide aggregate of `dim` per-dimension DECIMAL sums keyed
    * on the cell (the simhash trick: a fixed-width column battery
    * map-side combines to one row per cell, where the posexplode
    * formulation shuffled corpus x dim narrow rows and needed a second
    * aggregate to re-assemble arrays). Means stay decimal-sum /
    * count — order-independent, bit-identical to the per-dim layout.
    *
    * `dim` <= 0 (the default) derives the dimensionality from the
    * first vector — one 1-row lookup at build time. A WRONG explicit
    * dim would silently truncate (element_at past the end is NULL and
    * VecDot skips mismatched tails), so auto-derive unless the caller
    * knows better.
    */
  def buildCentroids(emb: DataFrame, k: Int, iters: Int,
      dim: Int = 0, init: String = "scalable"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val d = if (dim > 0) dim
      else {
        // skip NULL/empty vectors; an empty table builds an empty
        // centroid table whatever the width, so any positive d works
        val probe = emb.select(size(col("embedding")).as("d"))
          .filter(col("d") > 0).limit(1).collect()
        if (probe.isEmpty) 1 else probe.head.getInt(0)
      }
    var centroids = init match {
      case "first-k" =>
        emb.filter(col("vec_id") < k)
          .select(col("vec_id").cast("int").as("cid"),
            col("embedding").as("cvec"))
      case _ =>
        scalableInitCentroids(emb, k).toDF("cid", "cvec")
    }
    val sums = (0 until d).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("decimal(28,12)"))
        .as(s"s$i"))
    (1 to iters).foreach { _ =>
      // Lloyd assignment as a VecNearest map (see assign()): one
      // projection + ONE aggregate keyed on cell, instead of a
      // crossJoin + per-vector min_by that dragged the embedding
      // array through an n-row shuffle just to regroup it. Centroid
      // sets are k driver-resident rows per iteration by contract.
      val cands = centroids.select(col("cid"), col("cvec")).collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1)))
        .sortBy(_._1)
      val cidLit = typedLit(cands.map(_._1).toSeq)
      val candLit = typedLit(cands.map(_._2).toSeq)
      val assigned = emb.select(
        element_at(cidLit,
          graft.plans.VecNearest(col("embedding"), candLit)
            .getField("pos") + 1).as("cell"),
        col("embedding"))
      centroids = assigned
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("cell").as("cid"),
          array((0 until d).map(i =>
            (col(s"s$i") / col("n")).cast("float")): _*).as("cvec"))
    }
    centroids
  }

  /** IVF top-k: nProbe-cell search for the query set over a centroid
    * index that is built at most once per process (`cachedCentroids`)
    * — or not at all when the caller passes a persisted index via
    * `prebuilt` (schema (cid int, cvec array<float>), e.g. read back
    * from parquet; see IvfSpec). Parity with `Pq.pqTopK`'s prebuilt
    * path: the 100 TB deployment builds the index once, writes it,
    * and every query job starts here.
    */
  def ivfTopK(spark: SparkSession, dir: String, nQueries: Int = 10,
      k: Int = 5, nCells: Int = 16, nProbe: Int = 4,
      iters: Int = 2, prebuilt: Option[DataFrame] = None): DataFrame = {
    // The centroid table is the index artifact — k rows, consumed by
    // BOTH the corpus assignment and the query probes. cachedCentroids
    // hands back a local relation (no lineage to re-execute, nothing
    // persisted), so no checkpoint cut is needed here.
    val centroids = prebuilt.getOrElse(
      cachedCentroids(spark, dir, nCells, iters))
    ivfTopKOver(Tables.embeddings(spark, dir), centroids,
      nQueries, k, nProbe)
  }

  /** The search itself over an explicit corpus + centroid table — the
    * serving path shared by [[ivfTopK]] and the incremental-maintenance
    * demo (which searches a merged corpus under maintained centroids).
    */
  def ivfTopKOver(emb: DataFrame, centroids: DataFrame,
      nQueries: Int = 10, k: Int = 5, nProbe: Int = 4): DataFrame = {
    val cells = assign(emb, centroids)
    val indexed = emb.join(cells, "vec_id")

    // each query probes its nProbe nearest cells
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("qd"), col("cid"))
    val probes = queries
      .crossJoin(broadcast(centroids))
      .withColumn("qd", -cosine(col("qv"), col("cvec")))
      .withColumn("rn", row_number().over(probeW))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("cid").as("cell"))

    topKPerQuery(
      indexed
        .join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", cosine(col("qv"), col("embedding"))),
      k)
  }

  // ------------------------------------------------------------------
  // Incremental centroid maintenance: fold an ingest-batch-sized delta
  // into a served centroid table without re-running the k-means||
  // seeding + Lloyd iterations over the whole corpus — the
  // embedding-side analog of SuffixRanks.incremental. An IVF index at
  // 100 TB is built once and maintained; re-seeding on every ingest
  // batch re-scans the corpus iters+rounds times, while the mini-batch
  // update below touches the OLD corpus exactly once (a VecNearest
  // assignment map + a k-row count aggregate — zero corpus-sized
  // exchanges) and the delta once.
  // ------------------------------------------------------------------

  /** Per-cell occupancy of the SERVED index — the IVF "inverted list
    * lengths" a real index stores alongside its centroids. Computed
    * lazily (one assignment map + a k-row aggregate) and stamp-cached
    * like the centroids themselves, so the index-build bench floors
    * are unchanged and maintenance pays the pass only when the corpus
    * it describes changed.
    */
  private val cellCountCache =
    new graft.sources.StampedCache[(String, Int, Int), Map[Int, Long]]()

  def cellCounts(spark: SparkSession, dir: String, nCells: Int,
      iters: Int): Map[Int, Long] = {
    val stamp = graft.sources.CorpusStamp.of(spark, s"$dir/embeddings.parquet")
    cellCountCache.get((dir, nCells, iters), stamp) {
      assign(Tables.embeddings(spark, dir),
        cachedCentroids(spark, dir, nCells, iters))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
  }

  /** Bench hook: force the next incremental maintenance to re-derive
    * the occupancy pass (so a flagged rerun measures the maintenance,
    * not a cache hit). */
  private[graft] def invalidateCellCounts(dir: String, nCells: Int,
      iters: Int): Unit = cellCountCache.invalidate((dir, nCells, iters))

  /** The pure update rule, exposed for the spec's closed-form check:
    * each maintained centroid is the occupancy-weighted mean of the
    * old centroid and its assigned delta mass,
    *   c' = (n_c * c + sum_delta) / (n_c + m_c)
    * computed per dimension in BigDecimal (the delta sums arrive as
    * order-independent decimal(28,12) aggregates, and the driver fold
    * is a fixed-order k x dim loop), so maintenance is bit-identical
    * under any partitioning — the determinism contract every graft
    * build step carries. Cells with no delta mass keep their centroid
    * bit-for-bit.
    */
  private[graft] def mergeCentroids(
      old: Seq[(Int, Seq[Float])],
      counts: Map[Int, Long],
      deltaStats: Map[Int, (Long, Seq[java.math.BigDecimal])])
      : Seq[(Int, Seq[Float])] =
    old.map { case (cid, cvec) =>
      deltaStats.get(cid) match {
        case None => (cid, cvec)
        case Some((m, sums)) =>
          val n = counts.getOrElse(cid, 0L)
          val denom = new java.math.BigDecimal(n + m)
          val merged = cvec.zip(sums).map { case (c, s) =>
            new java.math.BigDecimal(c.toDouble)
              .multiply(new java.math.BigDecimal(n))
              .add(s)
              .divide(denom, 12, java.math.RoundingMode.HALF_UP)
              .floatValue()
          }
          (cid, merged)
      }
    }

  /** Maintain the cached (dir, nCells, iters) centroid table against a
    * delta corpus: assign the delta to its nearest served centroids
    * (a VecNearest map — delta-sized, zero exchanges beyond the k-row
    * aggregate) and fold each cell's delta mass into the centroid by
    * the occupancy-weighted mean above. DRIFT GATE: when the delta
    * outweighs `maxDeltaFrac` of the old corpus the mini-batch update
    * is no longer a small perturbation of the k-means geometry — fall
    * back to a full re-seed + Lloyd rebuild over the merged corpus
    * (the SuffixRanks.incremental MaxDeltaClasses precedent: an
    * incremental path must know when it stops being one).
    *
    * Returns the maintained (cid, cvec) table as a local relation,
    * like [[cachedCentroids]]. Install it under the mutated corpus's
    * stamp via [[installCentroids]] so query jobs over the new corpus
    * serve it without a rebuild ([[graft.sources.StampedCache.put]]).
    */
  def incrementalCentroids(spark: SparkSession, dir: String,
      delta: DataFrame, nCells: Int, iters: Int,
      maxDeltaFrac: Double = 0.5): DataFrame = {
    val old = cachedCentroids(spark, dir, nCells, iters)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq
      .sortBy(_._1)
    if (old.isEmpty)
      return buildCentroids(delta, nCells, iters)
    incrementalOver(spark, old, cellCounts(spark, dir, nCells, iters),
      Tables.embeddings(spark, dir).select("vec_id", "embedding"),
      delta, nCells, iters, maxDeltaFrac)._1
  }

  /** Corpus-agnostic core of the incremental update: old centroids +
    * occupancy arrive EXPLICITLY (a maintainer holds them from the
    * pre-commit state — re-deriving through the stamped caches after
    * the commit flipped the stamp would trigger the very rebuild the
    * maintenance exists to avoid), and the drift fallback rebuilds
    * over `oldCorpus` ∪ delta. Also returns the updated per-cell
    * occupancy (old counts + delta assignment mass) so a store
    * maintainer can install it for the NEXT increment — None when the
    * drift gate forced a rebuild (the maintained geometry changed, so
    * occupancy must be re-derived lazily).
    */
  private[graft] def incrementalOver(spark: SparkSession,
      old: Seq[(Int, Seq[Float])], counts: Map[Int, Long],
      oldCorpus: => DataFrame, delta: DataFrame, nCells: Int, iters: Int,
      maxDeltaFrac: Double): (DataFrame, Option[Map[Int, Long]]) = {
    import spark.implicits._
    val dim = old.head._2.length
    // delta assignment + per-cell mass in ONE aggregate (the Lloyd
    // update shape: count + dim decimal sums keyed on cell)
    val cidLit = typedLit(old.map(_._1))
    val candLit = typedLit(old.map(_._2))
    val sums = (0 until dim).map(i =>
      sum(element_at(col("embedding"), i + 1).cast("decimal(28,12)"))
        .as(s"s$i"))
    val stats = delta
      .select(element_at(cidLit,
        graft.plans.VecNearest(col("embedding"), candLit)
          .getField("pos") + 1).as("cell"),
        col("embedding"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("m"), sums: _*)
      .collect()
      .map { r =>
        r.getInt(0) -> (r.getLong(1),
          (0 until dim).map(i => Option(r.getDecimal(i + 2))
            .getOrElse(java.math.BigDecimal.ZERO)))
      }.toMap
    val oldN = counts.values.sum
    val deltaN = stats.values.map(_._1).sum
    if (oldN == 0 || deltaN > maxDeltaFrac * oldN) {
      // drift gate tripped: full re-seed over the merged corpus
      (buildCentroids(
        oldCorpus.unionByName(delta.select("vec_id", "embedding")),
        nCells, iters), None)
    } else {
      (mergeCentroids(old, counts, stats).toDF("cid", "cvec"),
        Some(old.map { case (cid, _) =>
          cid -> (counts.getOrElse(cid, 0L) +
            stats.get(cid).map(_._1).getOrElse(0L))
        }.toMap))
    }
  }

  /** Install a maintained centroid table into the process cache under
    * `dir`'s CURRENT corpus stamp — the ingest-side wiring: after a
    * batch lands (mutating the corpus, hence the stamp), the
    * maintainer installs the updated table so every subsequent
    * cachedCentroids call over the mutated corpus serves it instead
    * of paying the full rebuild the staleness contract would
    * otherwise force.
    */
  def installCentroids(spark: SparkSession, dir: String, nCells: Int,
      iters: Int, centroids: DataFrame): Unit = {
    val stamp = graft.sources.CorpusStamp.of(spark, s"$dir/embeddings.parquet")
    val rows = centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq
    centroidCache.put((dir, nCells, iters), stamp, rows)
  }

  /** Registry delta: every 17th embedding (~6%), re-keyed past the
    * current max id, vector REVERSED — genuinely new points with the
    * same norm profile, an ingest-batch-sized perturbation that stays
    * under the drift gate at every SF.
    */
  def syntheticDelta(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    emb.crossJoin(broadcast(emb.agg(max(col("vec_id")).as("mx"))))
      .filter(col("vec_id") % 17 === 4)
      .select((col("vec_id") + col("mx") + 1).as("vec_id"),
        reverse(col("embedding")).as("embedding"))
  }

  /** Registry form: maintain the served (16, 2) index against the
    * synthetic delta and search the MERGED corpus under the maintained
    * centroids. The oracle replays probe selection, scoring, and
    * ranking from the exported maintained index over the same merged
    * corpus (rebuilt in SQL) — the established IVF oracle pattern; the
    * update rule itself is spec-gated (closed-form check + recall
    * parity with a full rebuild + the drift-gate fallback corner).
    */
  def incrementalQuery(spark: SparkSession, dir: String): DataFrame = {
    val maintained = incrementalCentroids(
      spark, dir, syntheticDelta(spark, dir), 16, 2)
    val merged = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
      .unionByName(syntheticDelta(spark, dir))
    ivfTopKOver(merged, maintained)
  }

  // ------------------------------------------------------------------
  // Store-keyed centroid family + the vectorIngest maintainer: the
  // same stamped-cache centroids, keyed to an EventStreams.vectorIngest
  // store's vectors, delta-folded on every pure-append commit — the
  // embedding-side completion of the suffix/unigram document families'
  // ingest wiring.
  // ------------------------------------------------------------------

  /** Cache key prefix for store-rooted corpora — disjoint from
    * testdata dir keys (absolute paths cannot start with it). */
  private def storeKey(path: String): String = s"store:$path"

  /** Probe hook: the (stamp, centroid rows) currently served for the
    * store — the E2E spec's no-rebuild evidence. */
  private[graft] def servedStoreCentroids(path: String, nCells: Int,
      iters: Int): Option[(Long, Seq[(Int, Seq[Float])])] =
    centroidCache.peek((storeKey(path), nCells, iters))

  /** Drop both served-index entries for a store — the teardown hook
    * for callers that create THROWAWAY stores (the bench ingest pair):
    * without it every temp store leaves a permanently-dead cache entry
    * keyed by a unique path. */
  private[graft] def invalidateStore(path: String, nCells: Int,
      iters: Int): Unit = {
    centroidCache.invalidate((storeKey(path), nCells, iters))
    cellCountCache.invalidate((storeKey(path), nCells, iters))
  }

  /** Centroids over a [[graft.streaming.EventStreams.vectorIngest]]
    * store, stamp-cached like the dir form: cold = one k-means build
    * over the store's vectors; maintained = served from the
    * commit-time install. */
  def storeCentroids(spark: SparkSession, path: String, nCells: Int,
      iters: Int): DataFrame = {
    val stamp = graft.sources.CorpusStamp.of(spark, path)
    val rows = centroidCache.get((storeKey(path), nCells, iters), stamp) {
      buildCentroids(
        graft.streaming.EventStreams.admittedVectors(spark, path)
          .select("vec_id", "embedding"),
        nCells, iters)
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq
    }
    import spark.implicits._
    rows.toDF("cid", "cvec")
  }

  /** Per-cell occupancy of the served store index, stamp-cached —
    * populated lazily on first access (one assignment map + a k-row
    * aggregate) or installed by the maintainer with the exact updated
    * counts. */
  def storeCellCounts(spark: SparkSession, path: String, nCells: Int,
      iters: Int): Map[Int, Long] = {
    val stamp = graft.sources.CorpusStamp.of(spark, path)
    cellCountCache.get((storeKey(path), nCells, iters), stamp) {
      assign(graft.streaming.EventStreams.admittedVectors(spark, path),
        storeCentroids(spark, path, nCells, iters))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
  }

  /** The IVF family's [[graft.sources.ArtifactMaintenance]]
    * maintainer, for [[graft.streaming.EventStreams.vectorIngest]]
    * stores. On a PURE-APPEND commit whose served centroids were
    * built under exactly the pre-commit stamp, it folds the delta in
    * via [[incrementalOver]] (occupancy comes from the cache when the
    * pre-commit pass ran, else from ONE pass over the old corpus —
    * admitted minus delta ids, sound under pure-append) and installs
    * centroids AND updated occupancy under the post-commit stamp, so
    * the first post-ingest query serves the maintained index and the
    * NEXT increment needs no corpus pass at all. Anything else skips
    * — the flipped stamp already forces a correct rebuild on access.
    */
  def storeMaintainer(nCells: Int = 16, iters: Int = 2,
      maxDeltaFrac: Double = 0.5)
      : graft.sources.ArtifactMaintenance.Maintainer = (spark, c) => {
    if (c.pureAppend) {
      val key = (storeKey(c.path), nCells, iters)
      centroidCache.peek(key) match {
        case Some((s, oldRows)) if s == c.preStamp && oldRows.nonEmpty =>
          val old = oldRows.sortBy(_._1)
          lazy val oldCorpus = graft.streaming.EventStreams
            .admittedVectors(spark, c.path)
            .select("vec_id", "embedding")
            .join(broadcast(c.delta.select(col("vec_id"))),
              Seq("vec_id"), "left_anti")
          val counts = cellCountCache.peek(key) match {
            case Some((cs, held)) if cs == c.preStamp => held
            case _ =>
              import spark.implicits._
              assign(oldCorpus, old.toDF("cid", "cvec"))
                .groupBy(col("cell")).agg(count(lit(1)).as("n"))
                .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
          }
          val delta = c.delta.select(col("vec_id"), col("embedding"))
          val (maintained, newCounts) = incrementalOver(spark, old,
            counts, oldCorpus, delta, nCells, iters, maxDeltaFrac)
          val post = graft.sources.CorpusStamp.of(spark, c.path)
          centroidCache.put(key, post, maintained.collect()
            .map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq)
          newCounts.foreach(nc => cellCountCache.put(key, post, nc))
        case _ => () // cold/mismatched: correct rebuild on next access
      }
    }
  }

  /** Shared IVF search oracle (see the ivf_topk/ann_topk entries):
    * probe the nProbe nearest exported centroids per query (ties on
    * cid, matching the Spark window's (qd, cid) order), score every
    * vector assigned to a probed cell, rank (cos desc, vec_id), top 5.
    */
  private[graft] def IvfSearchOracle(nProbe: Int): String =
    s"""WITH cents AS (SELECT cid, CAST(cvec AS DOUBLE[]) AS cv
       |               FROM read_parquet('/tmp/graft_oracle_aux/ivf_centroids/*.parquet')),
       |cells AS (SELECT vec_id, cell FROM read_parquet('/tmp/graft_oracle_aux/ivf_cells/*.parquet')),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             -(list_dot_product(q.qv, c.cv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))),
       |             c.cid) AS rn
       |    FROM q, cents c) WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |         list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
       |  FROM q JOIN probes p ON q.query_id = p.query_id
       |       JOIN cells ce ON ce.cell = p.cid
       |       JOIN e ON e.vec_id = ce.vec_id
       |  WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id AS neighbor_id, rank, round(cos, 6) AS cos_sim
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** ivf_incremental_topk oracle: same probe/score/rank replay as
    * [[IvfSearchOracle]], but over the MERGED corpus (original
    * embeddings plus the re-keyed reversed every-17th slice, rebuilt
    * here in SQL — the oracle never sees Spark's union) under the
    * exported MAINTAINED index. Mis-assigned delta vectors, a stale
    * centroid table, or a wrong merged id-space all mismatch.
    */
  private val IvfIncrSearchOracle: String =
    s"""WITH cents AS (SELECT cid, CAST(cvec AS DOUBLE[]) AS cv
       |               FROM read_parquet('$OracleAuxDir/ivf_incr_centroids/*.parquet')),
       |cells AS (SELECT vec_id, cell FROM read_parquet('$OracleAuxDir/ivf_incr_cells/*.parquet')),
       |mx AS (SELECT max(vec_id) + 1 AS m FROM embeddings),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |      UNION ALL
       |      SELECT vec_id + (SELECT m FROM mx),
       |             CAST(list_reverse(embedding) AS DOUBLE[])
       |      FROM embeddings WHERE vec_id % 17 = 4),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
       |probes AS (
       |  SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |           row_number() OVER (PARTITION BY q.query_id ORDER BY
       |             -(list_dot_product(q.qv, c.cv) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv)))),
       |             c.cid) AS rn
       |    FROM q, cents c) WHERE rn <= 4),
       |scored AS (
       |  SELECT q.query_id, e.vec_id,
       |         list_dot_product(q.qv, e.v) / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
       |  FROM q JOIN probes p ON q.query_id = p.query_id
       |       JOIN cells ce ON ce.cell = p.cid
       |       JOIN e ON e.vec_id = ce.vec_id
       |  WHERE e.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id AS neighbor_id, rank, round(cos, 6) AS cos_sim
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    // IVF search oracles: the index (centroids + assignments) crosses
    // engines as DATA (oracleAux export of the bit-deterministic
    // build); probe selection, scoring, and ranking are recomputed
    // independently. ivf_topk probes 4 cells, ann_topk (the IVF-routed
    // ANN entry point) probes 8 — same index, same SQL shape.
    Query("ivf_topk", (s, d) => ivfTopK(s, d), IvfSearchOracle(nProbe = 4)),
    // incremental index maintenance for the embedding side: fold a
    // synthetic ingest batch into the served centroids (occupancy-
    // weighted mini-batch update, drift-gated rebuild fallback) and
    // search the merged corpus under the maintained index
    Query("ivf_incremental_topk", (s, d) => incrementalQuery(s, d),
      IvfIncrSearchOracle))
}
