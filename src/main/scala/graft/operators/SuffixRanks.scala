package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Corpus-wide suffix ranking by prefix doubling (Manber & Myers 1993),
  * the character-level machinery behind exact-substring dedup (Lee et
  * al. 2022 build suffix arrays for "Deduplicating Training Data Makes
  * Language Models Better"; the existing [[Dedup]] span family works on
  * word-aligned 64-bit gram HASHES — this is the hash-free, alignment-
  * free exact variant, bounded to [[PrefixLen]]-character resolution).
  *
  * Extension operator (no reference analog — the reference's dataflow
  * is word-level, `src/tema1.cpp:88-99`).
  *
  * == What it computes ==
  *
  * For every position of every document's normalized character stream
  * (words joined by single spaces — the [[TextOps.charShingles]]
  * stream), the 0-based DENSE rank of its suffix among ALL suffixes of
  * the corpus, where suffixes compare by their first [[PrefixLen]]
  * characters (memcmp order; ties beyond that horizon collapse to one
  * rank — the k-bounded suffix array used in practice, since dedup
  * windows are fixed-length anyway). Equal ranks == equal 32-char
  * windows, so downstream counting of repeated spans needs no string
  * comparison at all.
  *
  * == Scale shape ==
  *
  * Prefix doubling from a 4-char packed base (r21): the base ranks
  * are base-32 packs of [pos, pos+4) built in one per-doc lead()
  * window pass, then round h turns h-prefix ranks into 2h-prefix
  * ranks via the rank pair (r[pos], r[pos+h]) — three rounds
  * (h = 4, 8, 16) instead of the classic five, since packs already
  * ARE valid 4-prefix ranks (the doubling needs order and equality
  * of r, never density).
  *
  *  - r[pos+h] is a `lead` window per (doc_id, pos) — suffixes never
  *    cross documents, so the partition is doc-sized, never skewed
  *    past the longest document.
  *  - the pair -> new-rank assignment is [[Ranks.rankDistinctPairs]]
  *    over the DISTINCT pair table (r22): equi-depth buckets over the
  *    exact decimal pair pack via percentile splits + the codegen
  *    ArrayCountLess assignment, then offset + row_number within each
  *    bucket — no global sort, no single-reducer window anywhere, one
  *    pair-table-sized exchange per round (the generic
  *    [[Ranks.rankByKey]] it replaced paid ~four, plus five persists,
  *    for tie machinery that distinct pairs never need).
  *  - rounds stop early once every suffix's rank is unique: if all
  *    2h-prefixes are distinct, extending the horizon can neither
  *    reorder (prefix rule) nor split ties (none left), so the ranks
  *    are already the PrefixLen ones.
  *
  * Determinism: ranks are exact integers from exact prefix sums; the
  * base packs are pure per-row functions of the chars (order- and
  * equality-preserving for 4-prefixes); no sampled range exchange is
  * involved (the bucket splits are percentile_approx values used only
  * through the pure ArrayCountLess assignment, so any splits give the
  * same ranks).
  */
object SuffixRanks {

  /** Rank horizon: suffixes compare by their first 32 characters. */
  val PrefixLen = 32

  /** Largest delta class set [[incremental]] merges by broadcast; a
    * bigger "delta" is a reprocessing job and falls back to a full
    * rebuild (2M triples = 48 MB of broadcast arrays). */
  val MaxDeltaClasses = 2000000

  /** Per-doc normalized char stream (non-empty only). */
  private def streams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        array_join(TextOps.words(col("text")), " ").as("s"))
      .filter(length(col("s")) > 0)

  /** (doc_id, pos [1-based], e): every stream position's base-32 char
    * code (' ' -> 1, 'a'..'z' -> 2..27 — the stream alphabet is
    * exactly [a-z ] after [[TextOps]] normalization; 0 is reserved for
    * "absent", i.e. past the doc end). One corpus-chars-sized
    * projection; split + posexplode stays inside whole-stage codegen
    * (array HOFs are interpreted). Shared by the build's base-pack
    * pass and [[packedWindows]].
    */
  private def charCodes(docs: DataFrame): DataFrame =
    streams(docs)
      .select(col("doc_id"), posexplode(split(col("s"), "")))
      .filter(length(col("col")) > 0) // defensive vs trailing empties
      .select(col("doc_id"), (col("pos") + 1).as("pos"),
        ascii(col("col")).cast("long").as("c"))
      .select(col("doc_id"), col("pos"),
        when(col("c") === 32, 1L)
          .when(col("c") >= 97, col("c") - 95)
          .otherwise(0L).as("e"))

  /** (doc_id, pos [1-based], r): the PrefixLen-bounded corpus-wide
    * dense suffix rank of every position.
    *
    * Prefix doubling with two r21 cost cuts (both measured; see
    * OPTIMIZATION_r21.md for the rejected-alternative story):
    *
    *  1. **4-char packed base case.** The initial ranks are base-32
    *     packs of chars [pos, pos+4) (the [[charCodes]] encoding:
    *     ' ' -> 1, 'a'..'z' -> 2..27, absent -> 0 — order- AND
    *     equality-preserving for 4-prefixes with shorter-sorts-first),
    *     computed by 3 lead() terms inside ONE per-doc window pass.
    *     The doubling only needs ORDER and EQUALITY of r, never
    *     density, so the pack replaces doubling rounds h = 1 and
    *     h = 2 outright: three rounds (h = 4, 8, 16) instead of five —
    *     two fewer corpus-sized window + distinct + rank + join
    *     chains (guide §2.4).
    *  2. **No per-round stats aggregate.** The old per-round
    *     `count + 2 x count_distinct` aggregate compiled to an Expand
    *     that tripled the corpus rows every round. `n` is
    *     round-constant (counted once from the checkpointed base);
    *     `nd` is a plain count() of the distinct pair table the round
    *     materializes anyway; and the old `ndPrev == n` early exit is
    *     redundant — it can only fire when the PREVIOUS round's
    *     `nd == n` already set `done` (the base case's own uniqueness
    *     would need every 4-char window distinct, possible only for a
    *     corpus of <= 28^4 positions, where one extra round is free).
    *
    * A full direct-pack formulation (all 32 chars into three longs,
    * one window + two rankByKey passes, no doubling) was built,
    * spec-verified, and REJECTED on measurement: 12-char pack values
    * leave ~97% of the distinct table in rank ties (the tie machinery
    * is the expensive half of rankByKey), and the two near-full-size
    * rank passes cost more than the doubling's geometric rounds —
    * isolated at sf0.1 it archived 37 s (in-run trail 52.7/37.1/36.0)
    * against the doubling's 25 s 3-run median. The doubling's
    * early rounds are cheap BECAUSE its rank inputs grow
    * geometrically; the base-4 pack only removes the two rounds whose
    * rank tables were trivial anyway, which is exactly why it wins
    * while the full pack loses.
    *
    * Why not broadcast the per-round rank table into the join: at
    * sf0.1 it fits, at 100 TB the distinct-window table is
    * corpus-sized — a local-only trick, rejected by the posture rule.
    *
    * Each round's output is localCheckpoint()ed, not persist()ed:
    * persist keeps the LOGICAL plan, and chained rankByKey rounds
    * nest it past what AQE can even render (the repo's iterative ops
    * all truncate per round the same way). Checkpoint blocks are
    * released by the caller-side Cleanup between queries, never
    * mid-query.
    */
  def suffixRanks(docs: DataFrame): DataFrame = {
    // the 4-char packed base ranks in a single per-doc window pass
    // over the corpus char codes
    val chars = charCodes(docs)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // a lead past the doc end is null -> 0, the absent code: the pack
    // of a short tail sorts below every longer extension, the same
    // "shorter sorts first" rule the -1 sentinel implements below
    def leadE(k: Int): Column =
      if (k == 0) col("e")
      else coalesce(lead(col("e"), k).over(byDoc), lit(0L))
    var t = chars
      .select(col("doc_id"), col("pos"),
        (0 until 4)
          .map(k => leadE(k) * lit(math.pow(32, 3 - k).toLong))
          .reduce(_ + _).as("r"))
      .localCheckpoint()
    val n = t.count() // round-constant; the checkpoint makes it a scan
    var h = 4
    var done = n == 0L
    while (h < PrefixLen && !done) {
      // a missing next-rank (suffix ends inside the horizon) sorts
      // BELOW every real rank — the prefix rule "shorter sorts first"
      val paired = t
        .withColumn("r2", coalesce(lead(col("r"), h).over(byDoc), lit(-1L)))
        .localCheckpoint()
      // the distinct pair table feeds the early-exit count AND the
      // ranker's two passes (splits + bucketing) — persist so the
      // distinct's shuffle is paid once, and release it as soon as the
      // round's checkpoint materializes (nothing re-reads it — the r21
      // leak pinned up to three corpus-scale pair caches per build)
      val dk = paired.select(col("r"), col("r2")).distinct().persist()
      val nd = dk.count()
      // ranks are dense (< n) and base packs < 32^4, so max(n, 32^4)
      // bounds every r and r2 the pair ranker will see
      val ranked = Ranks.rankDistinctPairs(dk, col("r"), col("r2"),
        math.max(n, 32L * 32L * 32L * 32L), "nr")
      t = paired
        .join(ranked, Seq("r", "r2"))
        .select(col("doc_id"), col("pos"), col("nr").as("r"))
        .localCheckpoint()
      dk.unpersist()
      if (nd == n) done = true // this round made every rank unique
      h *= 2
    }
    t
  }

  /** Process-level ON-DISK index cache — the deployment posture: a
    * suffix-rank table is built ONCE offline and persisted (Lee et
    * al. write the suffix array to disk and serve dedup queries from
    * it); query jobs read it back. Same pattern as
    * [[Ivf.cachedCentroids]], but parquet-backed instead of
    * driver-held because the table is corpus-sized: the round-trip
    * also makes the cache immune to the harnesses' between-query
    * block cleanup, which would unpersist an in-memory checkpoint out
    * from under the next consumer. Determinism makes cache-vs-rebuild
    * unobservable.
    *
    * Staleness contract ([[graft.sources.CorpusStamp]]): the index
    * directory is NAMED by the corpus stamp it was built under, so a
    * corpus mutation (ingest, rewrite) changes the stamp, misses the
    * directory, and transparently rebuilds — while an unchanged corpus
    * re-serves the persisted index even across PROCESSES (`_SUCCESS`
    * gates against a crashed half-write; determinism makes the reuse
    * unobservable). Superseded stamp directories are left in place:
    * an in-flight query in this or another process may still be
    * streaming the old files, and the parent is tmp-rooted anyway —
    * a production deployment would prune by retention the way
    * [[graft.streaming.BucketStore]] prunes generations.
    */
  private val rankDirCache =
    new graft.sources.StampedCache[String, String]()

  private def indexPath(dir: String, stamp: Long): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_suffix_idx", safe,
      f"s$stamp%016x").toString
  }

  def cachedRanks(spark: org.apache.spark.sql.SparkSession, dir: String)
      : DataFrame = {
    val stamp = graft.sources.CorpusStamp.of(
      spark, s"$dir/documents.parquet")
    spark.read.parquet(servePersisted(spark, dir, stamp,
      suffixRanks(graft.sources.Tables.documents(spark, dir))))
  }

  /** Serve the persisted stamp-named index for `key` (building it from
    * `build` only when neither the in-process cache nor the on-disk
    * `_SUCCESS` dir has it), returning the committed dir. Two processes
    * over the same corpus can both miss: each builds into a
    * process-unique attempt dir and PROMOTES by rename — the stamp path
    * only ever appears fully formed (_SUCCESS already inside), first
    * promotion wins, losers discard their attempt. A shared-path
    * mode("overwrite") build would instead delete a concurrent (or
    * committed, in-use) build mid-write/mid-read.
    */
  private def servePersisted(spark: org.apache.spark.sql.SparkSession,
      key: String, stamp: Long, build: => DataFrame): String =
    rankDirCache.get(key, stamp) {
      val out = indexPath(key, stamp)
      val outP = new org.apache.hadoop.fs.Path(out)
      val success = new org.apache.hadoop.fs.Path(out, "_SUCCESS")
      val fs = success.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(success)) {
        val attempt = new org.apache.hadoop.fs.Path(
          out + f".attempt-${java.util.UUID.randomUUID()}")
        build.write.parquet(attempt.toString)
        graft.sources.AtomicPromote(spark, fs, attempt, outP)
        if (!fs.exists(success)) throw new IllegalStateException(
          s"suffix-index promotion left no committed dir at $out")
      }
      out
    }

  /** Bench hook: drop the in-process entry AND retire the persisted
    * index so the next cachedRanks call measures a genuine rebuild (a
    * rerun served from `_SUCCESS` would launder a build regression into
    * "noise"). Retire = rename ASIDE, never delete: another process may
    * still be streaming the old files, and a rename leaves its open
    * handles (and the dir itself, under the new name) intact — the
    * retired dir is tmp-rooted and pruned by retention like any
    * superseded stamp. */
  private[graft] def invalidateIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    rankDirCache.invalidate(dir)
    val stamp = graft.sources.CorpusStamp.of(
      spark, s"$dir/documents.parquet")
    val p = new org.apache.hadoop.fs.Path(indexPath(dir, stamp))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val retired = new org.apache.hadoop.fs.Path(
        p.toString + f".retired-${java.util.UUID.randomUUID()}")
      if (!fs.rename(p, retired)) throw new IllegalStateException(
        s"could not retire suffix index at $p")
    }
  }

  /** Registry shape: ordered (doc_id, pos, r), served from the cached
    * on-disk index. */
  def suffixRankTable(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    cachedRanks(spark, dir).orderBy(col("doc_id"), col("pos"))

  // ------------------------------------------------------------------
  // Incremental maintenance: merge a delta corpus into a persisted
  // rank table without re-running the doubling over old positions.
  // ------------------------------------------------------------------

  /** (doc_id, pos, l1, l2, l3): every position's PrefixLen-char
    * window, packed into three longs (12 + 12 + 8 chars of base-32
    * codes; left-to-right place value makes long-triple comparison ==
    * lexicographic window comparison with absent-below-everything —
    * exactly the doubling's "shorter sorts first" prefix rule — and
    * >= 1 codes for real chars make the packing injective).
    *
    * LINEAR regeneration (r22): one per-doc window pass over the char
    * codes with 32 lead() frames — O(chars) total, the same pass shape
    * as the build's 4-char base pack. The r21 form materialized
    * `substring(s, pos, PrefixLen)` per position instead, and
    * UTF8String.substring walks code points from the string head, so
    * every window cost O(pos): quadratic per document in stream
    * length — fine on 1 KB test docs, a scale-killer on long ones.
    * (An array/aggregate HOF formulation is rejected for the same
    * reason as ever: HOFs evaluate interpreted, measured ~10-120 us
    * per row; lead() frames stay inside the window machinery and the
    * pack sum inside whole-stage codegen.)
    */
  private def packedWindows(docs: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    def leadE(k: Int): Column =
      if (k == 0) col("e")
      else coalesce(lead(col("e"), k).over(byDoc), lit(0L))
    def seg(off: Int, len: Int): Column =
      (off until off + len).map(k =>
        leadE(k) * lit(math.pow(32, off + len - 1 - k).toLong))
        .reduce(_ + _)
    charCodes(docs).select(col("doc_id"), col("pos"),
      seg(0, 12).as("l1"), seg(12, 12).as("l2"), seg(24, 8).as("l3"))
  }

  /** Merge `deltaDocs` into a persisted rank table (`oldIndex` built
    * over `oldDocs`, the [[suffixRanks]] output schema) WITHOUT
    * re-running the doubling over old positions — the
    * [[graft.operators.InvertedIndex.incremental]] posture for the
    * suffix index, so an ingest pays delta-plus-merge instead of a
    * full rebuild. Returns the exact full-rebuild table:
    * `incremental(idx(A), A, B) == suffixRanks(A ∪ B)` bit-for-bit
    * ([[graft.SuffixRanksIncrementalSpec]], and the
    * `suffix_ranks_incremental` oracle replays the merged corpus's
    * dense rank wholesale in DuckDB).
    *
    * == Shape: zero corpus-sized exchanges ==
    *
    * The delta's distinct window classes are SMALL (an ingest batch),
    * so they broadcast — sorted, as three parallel long arrays (the
    * 12+12+8 base-32 packing) — and everything corpus-sized becomes a
    * scan-side map against them:
    *
    *  1. ONE linear pass over the old corpus regenerates every
    *     position's packed window ([[packedWindows]], lead()-framed —
    *     O(chars), r22; old classes correspond 1:1 with DISTINCT
    *     windows, so a distinct over the triples replaces the r21
    *     representative join whose substring(s, pos, 32) walk was
    *     quadratic per doc in stream length), computes each class's
    *     bucket among the delta windows via
    *     [[graft.plans.TripleCountLessBcast]] — a compiled
    *     lexicographic binary search over a broadcast of primitive
    *     long arrays — and reduces to a DELTA-BOUNDED aggregate:
    *     per-bucket class counts plus which delta windows already
    *     exist as old classes.
    *  2. The driver turns that into exact rank arithmetic (all counts
    *     are integers): rank_A(B[j]) = #{old classes with bucket <=
    *     j} by prefix sum; delta-only windows insert at those ranks;
    *     each delta class's merged rank = rank_A + (delta-only
    *     windows before it).
    *  3. Old POSITIONS never shuffle at all: the rank shift is a step
    *     function of the old rank (delta-only insertion points,
    *     sorted, broadcast), so the rewrite is `r +
    *     long_count_less_bcast(insertions, r + 1)` — a pure map over
    *     the persisted index (exact long comparison).
    *  4. Delta positions broadcast-join their class's merged rank.
    *
    * So the merge costs one old-class scan + one old-position map +
    * delta-sized work, versus log2(PrefixLen) full-corpus rank rounds
    * for a rebuild. (A first cut re-ranked the merged class table
    * with the general skew-proof rankByKey machinery; that measured
    * MORE than the rebuild at sf0.1 — the class table is ~92% of
    * positions — and was replaced by this broadcast formulation.)
    * Driver reductions are delta-bounded (the repo's
    * bounded-reduction contract); above [[MaxDeltaClasses]] distinct
    * delta windows the merge transparently falls back to a full
    * rebuild — at that size the "delta" is a reprocessing job, not an
    * ingest batch.
    *
    * Rank-arithmetic correctness (all sets are DISTINCT window
    * classes, B sorted ascending, buckets from the packing's total
    * order): w_a < B[j] iff #{B <= w_a} <= j, so #{A < B[j]} is a
    * prefix sum over the bucket histogram; and for an old class of
    * old rank r, #{delta-only windows < it} = #{insertion points <=
    * r} because a delta-only window inserts below exactly the old
    * classes whose rank exceeds its own insertion rank. Contract:
    * `oldIndex` IS `suffixRanks(oldDocs)` (or a previous incremental
    * output over them) and delta doc_ids are disjoint from old
    * doc_ids — both already the ingest invariants.
    */
  def incremental(oldIndex: DataFrame, oldDocs: DataFrame,
      deltaDocs: DataFrame,
      maxDeltaClasses: Int = MaxDeltaClasses): DataFrame = {
    val spark = oldIndex.sparkSession
    import spark.implicits._
    // delta windows per position + the sorted distinct class triples
    val bPos = packedWindows(deltaDocs).localCheckpoint()
    val bClasses = bPos.select(col("l1"), col("l2"), col("l3"))
      .distinct()
      .as[(Long, Long, Long)].collect()
      .sortBy(identity)
    if (bClasses.length > maxDeltaClasses)
      // full rebuild; project both sides to the (doc_id, text) core —
      // old docs may carry extra corpus columns the delta never has
      return suffixRanks(
        oldDocs.select(col("doc_id"), col("text"))
          .unionByName(deltaDocs.select(col("doc_id"), col("text"))))
    val nB = bClasses.length
    // the delta class triples ride as a REAL broadcast of primitive
    // long arrays, not literal children: the boxed-literal encoding
    // measured a 158.8 MiB task binary per stage at the 2M-class cap
    // (TripleCapProbe; ~48 MB of raw longs) — broadcast, the same
    // payload ships once per executor as primitives, the task binary
    // stays under the 1 MiB warn threshold, and the at-cap merge
    // measured 134.3 -> 38.5 s (driver heap delta 1.8 -> 1.3 GB)
    val bArrs = spark.sparkContext.broadcast(new graft.plans.SortedLongs(
      bClasses.map(_._1).toArray, bClasses.map(_._2).toArray,
      bClasses.map(_._3).toArray))

    // ---- 1. one old-DISTINCT-WINDOW pass -> delta-bounded histogram ----
    // old classes correspond 1:1 with distinct PrefixLen-char windows
    // (equal ranks == equal windows, the [[suffixRanks]] contract, and
    // the packing is injective), so the per-class histogram needs no
    // representative at all: pack every old position's window LINEARLY
    // ([[packedWindows]] — the r21 shape instead joined a
    // groupBy(r)-representative back to the streams and regenerated
    // each window via substring(s, pos, 32), an O(pos) UTF8String walk
    // per class, quadratic per doc in stream length), distinct the
    // triples, and bucket them against the broadcast delta classes.
    // kLe = #{B <= w}; eqIdx = the matching delta index when w IS a
    // delta window (kLt < kLe), else -1.
    val aBuckets = packedWindows(oldDocs)
      .select(col("l1"), col("l2"), col("l3")).distinct()
      .select(
        graft.plans.TripleCountLessBcast(bArrs,
          col("l1"), col("l2"), col("l3"), orEq = false).as("kLt"),
        graft.plans.TripleCountLessBcast(bArrs,
          col("l1"), col("l2"), col("l3"), orEq = true).as("kLe"))
      .select(col("kLe"),
        when(col("kLe") > col("kLt"), col("kLt")).otherwise(-1).as("eqIdx"))
      .groupBy(col("kLe"), col("eqIdx"))
      .agg(count(lit(1)).as("cnt"))
      .as[(Int, Int, Long)].collect()

    // ---- 2. driver-side exact rank arithmetic (delta-bounded) ----
    // histogram of old classes per kLe bucket, and the matched set
    val perBucket = new Array[Long](nB + 1)
    val inA = new Array[Boolean](nB)
    aBuckets.foreach { case (kLe, eqIdx, cnt) =>
      perBucket(kLe) += cnt
      if (eqIdx >= 0) inA(eqIdx) = true
    }
    // rankA(j) = #{old classes < B[j]} = sum of buckets 0..j
    val rankA = new Array[Long](nB)
    var acc = 0L
    var j = 0
    while (j < nB) {
      acc += perBucket(j)
      rankA(j) = acc
      j += 1
    }
    // delta-only prefix + each delta class's merged rank; delta-only
    // insertion points for the old-position shift
    val newRankB = new Array[Long](nB)
    val insertions = scala.collection.mutable.ArrayBuffer[Long]()
    var bOnly = 0L
    j = 0
    while (j < nB) {
      newRankB(j) = rankA(j) + bOnly
      if (!inA(j)) { insertions += rankA(j); bOnly += 1 }
      j += 1
    }

    // ---- 3. old positions: pure map (no shuffle, no join) ----
    // sorted (rankA is monotone); broadcast for the same task-binary
    // reason as the class triples — insertions is delta-only-sized
    val ins = spark.sparkContext.broadcast(new graft.plans.SortedLongs(
      insertions.toArray, Array.emptyLongArray, Array.emptyLongArray))
    val aNew = oldIndex.select(col("doc_id"), col("pos"),
      (col("r") +
        graft.plans.LongCountLessBcast(ins, col("r") + 1)
          .cast("long")).as("r"))

    // ---- 4. delta positions: broadcast-join their class rank ----
    val bMap = bClasses.toSeq.zip(newRankB.toSeq)
      .map { case ((x1, x2, x3), nr) => (x1, x2, x3, nr) }
      .toDF("l1", "l2", "l3", "nr")
    val bNew = bPos.join(broadcast(bMap), Seq("l1", "l2", "l3"))
      .select(col("doc_id"), col("pos"), col("nr").as("r"))
    aNew.unionByName(bNew)
  }

  /** Registry form: re-ingest a deterministic slice of the corpus
    * (every 29th document (~3%), re-keyed past the current max id, text
    * REVERSED so the delta contributes genuinely new windows that
    * interleave everywhere, not just duplicates) and merge it into the
    * persisted index. The oracle replays the merged corpus's dense
    * rank from scratch in DuckDB — only a correct merge (shifted old
    * ranks AND interleaved delta ranks) reproduces it.
    */
  def incrementalQuery(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    incremental(cachedRanks(spark, dir), docs, syntheticDocDelta(docs))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** The shared document-side incremental-demo fixture (the embedding
    * analog is [[Ivf.syntheticDelta]]): every 29th document (~3%),
    * re-keyed past the current max id, text REVERSED so the delta
    * contributes genuinely new material, not duplicates. ~3% stays an
    * ingest-batch-sized delta at every SF (1/7 exceeded
    * [[MaxDeltaClasses]] at sf1 and degraded the suffix demo to the
    * full-rebuild fallback). Consumed by the suffix and unigram
    * incremental demos; the oracles rebuild the identical merged
    * corpus in SQL.
    */
  private[graft] def syntheticDocDelta(docs: DataFrame): DataFrame =
    docs
      .crossJoin(broadcast(docs.agg(max(col("doc_id")).as("mx"))))
      .filter(col("doc_id") % 29 === 3)
      .select((col("doc_id") + col("mx") + 1).as("doc_id"),
        reverse(col("text")).as("text"))

  // ------------------------------------------------------------------
  // Store-keyed index family + the ingest-commit maintainer: the same
  // persisted stamp-named index, built over a curatedIngest store's
  // admitted docs instead of a testdata dir, and — when registered via
  // graft.sources.ArtifactMaintenance — delta-MERGED on every ingest
  // commit so the first post-ingest query serves the maintained index
  // with zero rebuild (the end-to-end pipeline behavior the three
  // incremental maintainers exist for).
  // ------------------------------------------------------------------

  /** Cache key prefix for store-rooted corpora: disjoint from testdata
    * dir keys (those are absolute paths and cannot start with the
    * prefix). */
  private def storeKey(path: String): String = s"store:$path"

  /** Test/probe hook: the (stamp, committed dir) currently served for
    * the store at `path`, if any — the E2E spec's "no rebuild" probe
    * is path-local (a maintained install pre-creates the post-commit
    * stamp dir; a query that rebuilds would have to create it). */
  private[graft] def servedStoreIndex(path: String): Option[(Long, String)] =
    rankDirCache.peek(storeKey(path))

  /** The suffix-rank index over `path`'s admitted docs
    * ([[graft.streaming.EventStreams.admittedDocs]]), stamped to the
    * store's committed generation ([[graft.sources.CorpusStamp]]) and
    * persisted exactly like [[cachedRanks]]. With [[storeMaintainer]]
    * registered, an ingest commit installs the delta-merged table
    * under the new stamp before any query arrives — this then serves
    * it straight from disk.
    */
  def storeRankTable(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val stamp = graft.sources.CorpusStamp.of(spark, path)
    spark.read.parquet(servePersisted(spark, storeKey(path), stamp,
      suffixRanks(graft.streaming.EventStreams.admittedDocs(spark, path))))
  }

  /** Install a maintained rank table for the store at `path` under its
    * CURRENT (post-commit) stamp: persist it to the stamp-named dir
    * through the same attempt + atomic-promotion discipline, and point
    * the in-process cache at it — subsequent [[storeRankTable]] calls,
    * in this process or any other, serve it with no rebuild. If a
    * committed dir already exists under the stamp (a racing builder
    * won), it is served as-is: builds and maintenance are
    * bit-deterministic, so the two tables are identical.
    */
  def installStoreRanks(spark: org.apache.spark.sql.SparkSession,
      path: String, ranks: DataFrame): Unit = {
    val stamp = graft.sources.CorpusStamp.of(spark, path)
    val out = indexPath(storeKey(path), stamp)
    val outP = new org.apache.hadoop.fs.Path(out)
    val success = new org.apache.hadoop.fs.Path(out, "_SUCCESS")
    val fs = success.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(success)) {
      val attempt = new org.apache.hadoop.fs.Path(
        out + f".attempt-${java.util.UUID.randomUUID()}")
      ranks.write.parquet(attempt.toString)
      graft.sources.AtomicPromote(spark, fs, attempt, outP)
      if (!fs.exists(success)) throw new IllegalStateException(
        s"suffix-index install left no committed dir at $out")
    }
    rankDirCache.put(storeKey(path), stamp, out)
  }

  /** The suffix family's [[graft.sources.ArtifactMaintenance]]
    * maintainer. On a PURE-APPEND commit whose served index matches
    * the pre-commit stamp, it merges the admitted delta via
    * [[incremental]] (zero corpus-sized exchanges) and installs the
    * result under the post-commit stamp. Everything else skips:
    *
    *  - non-pure commit: an eviction/tombstone of a previously
    *    committed doc is a DELETION from the index corpus, which the
    *    additive merge cannot express (the drift-gate posture — an
    *    incremental path must know when it stops being one);
    *  - no served index, or one built under a different stamp (process
    *    restart, a skipped commit in between): there is nothing sound
    *    to extend.
    *
    * Skipping is always safe — the commit already flipped the stamp,
    * so the next [[storeRankTable]] access rebuilds correctly; the
    * maintainer is purely the zero-rebuild fast path. Under
    * pureAppend, "old docs" is exactly the current admitted corpus
    * minus the delta ids, so no superseded generation is ever read
    * (the store prunes those at commit).
    */
  /** Drop the served-index entry AND the persisted stamp dirs for a
    * store — the teardown hook for callers that create THROWAWAY
    * stores (the bench ingest pair, mirroring [[Ivf.invalidateStore]]):
    * without it every temp store leaves a permanently-dead cache entry
    * keyed by a unique path plus an orphaned on-disk index tree, and
    * iterated bench runs grow both monotonically. The on-disk removal
    * is safe here precisely because the store path is unique and
    * throwaway — no other process can be streaming it (the shared-dir
    * indexes keep the rename-aside retention posture of
    * [[invalidateIndex]] instead).
    */
  private[graft] def invalidateStore(path: String): Unit = {
    rankDirCache.invalidate(storeKey(path))
    val safe = storeKey(path).replaceAll("[^A-Za-z0-9._-]", "_")
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_suffix_idx", safe).toFile
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    if (root.exists()) rm(root)
  }

  def storeMaintainer: graft.sources.ArtifactMaintenance.Maintainer =
    (spark, c) => {
      if (c.pureAppend) {
        rankDirCache.peek(storeKey(c.path)) match {
          case Some((s, oldDir)) if s == c.preStamp =>
            val oldIndex = spark.read.parquet(oldDir)
            val oldDocs = graft.streaming.EventStreams
              .admittedDocs(spark, c.path)
              .join(broadcast(c.delta.select(col("doc_id"))),
                Seq("doc_id"), "left_anti")
            installStoreRanks(spark, c.path,
              incremental(oldIndex, oldDocs,
                c.delta.select(col("doc_id"), col("text"))))
          case _ => () // cold/mismatched: correct rebuild on next access
        }
      }
    }

  /** Per-doc repeated-span profile from the suffix ranks: how many of
    * the doc's PrefixLen-char windows occur elsewhere in the corpus
    * (exact, alignment-free), and the hottest window's occurrence
    * count. Occurrences are counted on RANKS — a 64-bit key — never on
    * strings; the DuckDB oracle recounts them on the strings
    * themselves, so a rank collision or split would mismatch here.
    * Every document appears (zero-filled), the repo's per-doc
    * convention.
    */
  def repeatedSpans(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    repeatedSpansOf(graft.sources.Tables.documents(spark, dir),
      cachedRanks(spark, dir))

  /** Spec/raw form: profile `docs` against a freshly built rank table. */
  def repeatedSpans(docs: DataFrame): DataFrame =
    repeatedSpansOf(docs, suffixRanks(docs))

  private def repeatedSpansOf(docs: DataFrame, ranks: DataFrame)
      : DataFrame = {
    val t = ranks
    val occ = t.groupBy(col("r")).agg(count(lit(1)).as("occ"))
    val per = t.join(occ, Seq("r"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_pos"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_repeated"),
        max(col("occ")).as("max_occ"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        coalesce(col("max_occ"), lit(0L)).as("max_occ"))
      .orderBy(col("doc_id"))
  }

  /** Shared by the suffix-rank oracles: every position's PrefixLen-char
    * window of the normalized char stream. */
  private val SuffixPosCte: String =
    """WITH st AS (
      |  SELECT doc_id, array_to_string(list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0), ' ') AS s
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, CAST(i AS INTEGER) AS pos, substring(s, CAST(i AS INTEGER), @PLEN) AS pfx
      |  FROM st, unnest(range(1, length(s) + 1)) AS u(i)
      |  WHERE length(s) > 0)"""
      .stripMargin
      .replace("@PLEN", graft.operators.SuffixRanks.PrefixLen.toString)

  // suffix_ranks: the prefix-doubling dense rank must equal a plain
  // dense_rank over the window STRINGS (memcmp order both engines);
  // repeated_spans_sa recounts occurrences on the strings, so a rank
  // collision or split in the doubling would mismatch either query.
  private val SuffixRanksSql: String = SuffixPosCte + """
    |SELECT doc_id, pos,
    |  CAST(dense_rank() OVER (ORDER BY pfx) - 1 AS BIGINT) AS r
    |FROM pos ORDER BY doc_id, pos""".stripMargin

  // suffix_ranks_incremental: the Spark side merges a re-keyed,
  // text-REVERSED slice (every 29th doc, ~3%) into the persisted index via
  // SuffixRanks.incremental; the oracle knows nothing of the merge —
  // it rebuilds the dense rank over the synthetic merged corpus from
  // scratch, so stale old ranks, missed shifts, or mis-interleaved
  // delta classes all hash-mismatch.
  private val SuffixRanksIncrSql: String =
    ("""WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
      |docs2 AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + m AS doc_id, reverse(text) AS text
      |  FROM documents, mx WHERE doc_id % 29 = 3),
      |st AS (
      |  SELECT doc_id, array_to_string(list_filter(list_transform(string_split_regex(text, '[ \t\n]+'), w -> lower(regexp_replace(w, '[^a-zA-Z]', '', 'g'))), w -> length(w) > 0), ' ') AS s
      |  FROM docs2),
      |pos AS (
      |  SELECT doc_id, CAST(i AS INTEGER) AS pos, substring(s, CAST(i AS INTEGER), @PLEN) AS pfx
      |  FROM st, unnest(range(1, length(s) + 1)) AS u(i)
      |  WHERE length(s) > 0)
      |SELECT doc_id, pos,
      |  CAST(dense_rank() OVER (ORDER BY pfx) - 1 AS BIGINT) AS r
      |FROM pos ORDER BY doc_id, pos""")
      .stripMargin
      .replace("@PLEN", graft.operators.SuffixRanks.PrefixLen.toString)

  private val RepeatedSpansSql: String = SuffixPosCte + """,
    |occ AS (SELECT pfx, CAST(count(*) AS BIGINT) AS occ FROM pos GROUP BY pfx),
    |per AS (
    |  SELECT doc_id,
    |    CAST(count(*) AS BIGINT) AS n_pos,
    |    CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
    |    CAST(max(occ) AS BIGINT) AS max_occ
    |  FROM pos JOIN occ USING (pfx) GROUP BY doc_id)
    |SELECT d.doc_id,
    |  CAST(coalesce(p.n_pos, 0) AS BIGINT) AS n_pos,
    |  CAST(coalesce(p.n_repeated, 0) AS BIGINT) AS n_repeated,
    |  CAST(coalesce(p.max_occ, 0) AS BIGINT) AS max_occ
    |FROM documents d LEFT JOIN per p USING (doc_id)
    |ORDER BY d.doc_id""".stripMargin

  /** This family's registry queries, each with its DuckDB oracle. */
  def queries: Seq[Query] = Seq(
    Query("suffix_ranks", (s, d) => suffixRankTable(s, d), SuffixRanksSql),
    Query("repeated_spans_sa", (s, d) => repeatedSpans(s, d), RepeatedSpansSql),
    // delta ingest merged into the persisted index WITHOUT re-running
    // the doubling over old positions; the oracle replays the merged
    // corpus's dense rank from scratch, so only an exact merge
    // (shifted old ranks AND interleaved delta ranks) matches
    Query("suffix_ranks_incremental", (s, d) => incrementalQuery(s, d),
      SuffixRanksIncrSql))
}
