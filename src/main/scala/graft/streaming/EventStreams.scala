package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the events stream: watermarked
  * tumbling-window aggregation and stateful sessionization via
  * flatMapGroupsWithState. The batch `events` parquet drives these in
  * tests (file source + processAllAvailable), exactly how a Kafka-backed
  * deployment would swap sources without touching the transforms.
  *
  * Scale notes: state is bounded — the window agg keeps only windows
  * newer than the watermark, and each user's session state is O(1)
  * (last-seen + counters, not the event list). Both are the shapes that
  * survive unbounded streams.
  */
object EventStreams {

  /** Streaming DataFrame over the events parquet dir (ns -> micros, same
    * normalization as the batch loader).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // glob form: the file streaming source requires a directory path,
    // and a glob makes it treat the parent as the base dir
    val raw = spark.readStream
      .schema(spark.read.parquet(s"$dir/events.parquet").schema)
      .parquet(s"$dir/events.parque*")
    graft.sources.Tables.normalizeEventTs(raw)
  }

  /** Watermarked tumbling 1-hour rollup per event type. */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(
        unix_timestamp(col("window.start")).as("hour_start"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Stream-stream interval join: each purchase joined to the same
    * user's errors in the following 60 minutes. Both sides carry
    * watermarks and the join condition bounds event-time distance from
    * both directions, so Spark can expire buffered rows — state stays
    * bounded by (watermark delay + interval), the only join shape that
    * survives an unbounded stream. Works as a self-join of one source
    * stream (mirrors the batch `Temporal.purchaseThenError`).
    */
  def purchaseErrorJoin(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val errors = events
      .filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"),
        col("ts").as("e_ts"))
      .withWatermark("e_ts", "2 hours")
    purchases
      .join(errors,
        col("user_id") === col("e_user") &&
          col("e_ts") > col("p_ts") &&
          col("e_ts") <= col("p_ts") + expr("INTERVAL 60 MINUTES"))
      .select(col("purchase_id"), col("error_id"), col("user_id"),
        expr("(unix_micros(e_ts) - unix_micros(p_ts)) div 1000000")
          .as("gap_sec"))
  }

  /** Watermarked hourly count-min sketch over the event-type stream:
    * each 1-hour window aggregates ONE mergeable d x w counter grid
    * (see functions.CountMinAggregator) alongside exact counts for two
    * probe types, and emits the sketch estimates next to the truth.
    * The streaming state per window is the fixed-size grid — the
    * sketch answers point frequency queries over key spaces whose
    * exact per-key state would not fit (per-URL, per-user agents, ...),
    * while composing with watermark-based window expiry exactly like
    * any other mergeable aggregate (partial grids merge across
    * micro-batches by elementwise sum, so the result is independent of
    * batch boundaries — asserted against the batch run in the spec).
    */
  def hourlyTypeSketch(events: DataFrame, d: Int = 4, w: Int = 1024)
      : DataFrame = {
    val cms = udaf(new graft.functions.CountMinAggregator(d, w))
    def est(sk: Column, x: Column): Column =
      graft.functions.CountMinAggregator.estimateExpr(sk, x, d, w)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(cms(col("event_type")).as("sk"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "error", 1)).as("n_error"))
      .select(
        unix_timestamp(col("window.start")).as("hour_start"),
        est(col("sk"), lit("purchase")).as("n_purchase_est"),
        col("n_purchase"),
        est(col("sk"), lit("error")).as("n_error_est"),
        col("n_error"))
  }

  /** Streaming exact dedup with BOUNDED state:
    * dropDuplicatesWithinWatermark keeps a key in state only until the
    * watermark passes its event time, so state is O(keys per watermark
    * horizon) — the only dedup shape that survives an unbounded
    * stream. (Plain dropDuplicates on a stream accumulates every key
    * forever.) Duplicates arriving within the horizon are suppressed;
    * a reappearance after the horizon is treated as new, which is the
    * documented contract, not a bug — exact global dedup of an
    * unbounded stream requires unbounded state.
    */
  def dedupEvents(events: DataFrame, horizon: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** Micro-batch upsert sink via foreachBatch: each batch merges into
    * a parquet snapshot keyed by event_id, committed atomically
    * through [[BucketStore]] manifest generations (a crash mid-write
    * can never lose previously merged keys). foreachBatch is the
    * engine's escape hatch to ANY batch sink with exactly-once-per-
    * batch semantics (batchId is provided for idempotence
    * bookkeeping); against a transactional table format the same
    * callback issues a real MERGE instead.
    *
    * Merge rule: per event_id, the row with the GREATEST `orderCol`
    * wins — globally, not per batch. So duplicate keys within a batch
    * collapse, and a late replay carrying an OLDER orderCol than the
    * snapshot row loses (an anti-join merge would wrongly let it
    * overwrite). Exact ties break on a content hash, so the pick is a
    * pure function of the data — reproducible at any parallelism.
    *
    * Plan AND I/O shape per batch are batch-sized: the snapshot is
    * bucketed by a pure function of the key, so the merge reads ONLY
    * the buckets holding the batch's keys (manifest-pruned), routes
    * only genuinely conflicting keys through the argmax (max_by hash
    * aggregates — no sort), and the commit rewrites only those
    * buckets — every other bucket's data dir carries over by manifest
    * reference, unread and unwritten. This removes the last
    * O(corpus)-per-batch term the monolithic SnapshotStore layout
    * had: a long-lived stream's per-batch cost is driven by batch
    * size, not snapshot size. A pre-existing monolithic snapshot
    * (legacy layout, or a flat `_SUCCESS` import) is migrated into
    * buckets by the first batch — the one commit that still rewrites
    * everything, by necessity.
    *
    * The distinct-bucket collect is NOT a driver-side data loop: it
    * returns at most one small long per touched bucket, bounded by
    * the batch's key spread, never by the corpus.
    */
  def upsertSink(events: DataFrame, path: String, orderCol: String = "sec",
      bucketer: BucketStore.Bucketer = BucketStore.HashBuckets("event_id", 64))
      : org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val cols = batch.columns
        // deterministic argmax of a whole row by (orderCol, content)
        def best(df: DataFrame): DataFrame = df
          .groupBy(col("event_id"))
          .agg(max_by(struct(cols.map(col): _*),
            struct(col(orderCol), xxhash64(struct(cols.map(col): _*))))
            .as("r"))
          .select(col("r.*"))
        val keyed = best(batch) // within-batch dedup, batch-sized
        val bucketed = BucketStore.isBucketed(spark, path)
        if (bucketed) {
          val touched = keyed.select(bucketer.col.as("b"))
            .distinct().as[Long].collect().toSeq
          if (touched.nonEmpty) { // empty batch: nothing to commit
            val prior =
              BucketStore.readBuckets(spark, path, bucketer, touched)
            val merged = prior match {
              case None => keyed
              case Some(tb) =>
                val keys = keyed.select("event_id")
                val untouched = tb
                  .join(broadcast(keys), Seq("event_id"), "left_anti")
                val conflicts = tb
                  .join(broadcast(keys), Seq("event_id"), "left_semi")
                  .unionByName(keyed)
                untouched.unionByName(best(conflicts))
            }
            BucketStore.commit(merged, bucketer, touched, path)
          }
        } else {
          // first batch, or a one-time migration of a monolithic
          // legacy snapshot into the bucketed layout (full rewrite —
          // unavoidable exactly once)
          val merged = SnapshotStore.read(spark, path) match {
            case None => keyed
            case Some(snapshot) =>
              val keys = keyed.select("event_id")
              val untouched = snapshot
                .join(broadcast(keys), Seq("event_id"), "left_anti")
              val conflicts = snapshot
                .join(broadcast(keys), Seq("event_id"), "left_semi")
                .unionByName(keyed)
              untouched.unionByName(best(conflicts))
          }
          if (!merged.isEmpty) BucketStore.commitAll(merged, bucketer, path)
        }
        ()
      }
      .outputMode("update")
      .start()

  // ---- stateful sessionization ----

  case class Ev(user_id: Long, event_id: Long, sec: Long)
  case class CDoc(doc_id: Long, lang: String, text: String)

  /** Row shape for [[vectorIngest]] streams (the embedding-side CDoc). */
  case class VecRow(vec_id: Long, embedding: Array[Float])
  case class SessionState(sessionStart: Long, lastSeen: Long, nEvents: Long)
  case class Session(user_id: Long, session_start: Long, session_end: Long,
      n_events: Long)

  /** Event-time sessionization with a 30-minute gap, as an explicit
    * state machine: state per user is constant-size. Emits a session
    * whenever a gap closes it; the final open session flushes on state
    * timeout (or at stream end in tests).
    */
  def sessionize(events: Dataset[Ev], gapSec: Long = 1800)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          // file-source micro-batches can deliver a user's events across
          // batches; within a batch, order by event time (+id tiebreak)
          val sorted = evs.toSeq.sortBy(e => (e.sec, e.event_id))
          val closed = scala.collection.mutable.ArrayBuffer[Session]()
          var st = state.getOption.orNull
          sorted.foreach { e =>
            if (st == null) {
              st = SessionState(e.sec, e.sec, 1)
            } else if (e.sec - st.lastSeen > gapSec) {
              closed += Session(user, st.sessionStart, st.lastSeen, st.nEvents)
              st = SessionState(e.sec, e.sec, 1)
            } else {
              // cross-batch late events merge into the open session but
              // never regress its bounds (no watermark here; a late
              // event older than lastSeen still counts, and the session
              // window only grows)
              st = SessionState(
                math.min(st.sessionStart, e.sec),
                math.max(st.lastSeen, e.sec),
                st.nEvents + 1)
            }
          }
          if (st != null) state.update(st)
          closed.iterator
      }
  }

  // ---- streaming curation ingest ----

  /** Streaming ingest variant of the curation pipeline
    * (Pipeline.curatedCorpus): documents arrive as micro-batches and
    * are folded into a curated snapshot whose FINAL contents are
    * independent of how — and in what order — the corpus was split
    * into batches. curatedSnapshot(path) over the result equals the
    * batch pipeline's output over the same rows, for ANY batch split;
    * the StreamingSpec drives an out-of-id-order split to prove it.
    *
    * Batch-split independence needs two things the obvious
    * filter-as-you-go design lacks:
    *
    *  - Exact dedup is first-writer-wins BY doc_id, not by arrival:
    *    when a batch brings a lower-id twin of an admitted doc (same
    *    content fingerprint), the twin REPLACES it — the batch
    *    pipeline's min-doc_id-per-fingerprint rule replayed
    *    incrementally. The replacement re-enters near-dup scoring as a
    *    new doc; its grams equal its predecessor's (same fingerprint
    *    => same normalized word stream), so pair directions involving
    *    it can only tighten toward the batch outcome.
    *  - Near-dup losers stay in the snapshot as TOMBSTONES (`out` =
    *    true), not deletions: the batch rule drops every doc that
    *    pairs with ANY lower-id keeper, including keepers that are
    *    themselves losers — so a loser's grams must keep knocking out
    *    later arrivals. `out` is monotone (the keeper set only grows),
    *    so tombstones never resurrect.
    *
    * Per batch the new docs probe the accumulated corpus through an
    * APPEND-ONLY posting-list table (`<path>_postings`, one
    * `batch=<id>` partition per micro-batch holding the batch's new
    * docs' (doc_id, ng, n_ng) grams): the batch side is tokenized
    * once and broadcasts, history is a posting SCAN — never
    * re-tokenized, never self-joined. Postings are never compacted or
    * deleted inline: an exact-dup eviction leaves its postings
    * behind, which is SAFE — the evicted doc's replacement has
    * identical grams and a strictly lower id, so every knockout a
    * stale posting row produces is also produced by the
    * replacement's own postings, and a stale id on the losing side
    * just fails the snapshot join ([[compactPostings]] is the
    * offline hygiene op that folds the partitions and drops exactly
    * these stale rows). Tombstoned docs' postings are load-bearing
    * and must never be compacted away — compactPostings keeps them.
    *
    * Quality gates (token floor, language) are applied at READ time
    * (curatedSnapshot), as in the batch pipeline: a low-quality doc
    * still participates in near-dup knockouts, so filtering it at
    * admission would change the result.
    *
    * Per-batch COMPUTE is batch-sized, not corpus-sized: the exact
    * merge routes only conflicting fingerprints through the argmin
    * (the rest of the snapshot rides an untouched broadcast
    * anti-join, as in upsertSink), and near-dup evidence comes from
    * the posting scan. The snapshot WRITE is batch-sized too: the
    * snapshot is bucketed by a pure function of doc_id
    * ([[BucketStore]]) and a batch rewrites ONLY the buckets holding
    * its own docs, its fingerprint conflicts, and its newly
    * tombstoned victims — every other bucket carries over by
    * manifest reference, unread and unwritten. The one remaining
    * corpus-sized term per batch is a two-column (fp, doc_id)
    * parquet SCAN for the fingerprint-conflict probe — a pruned read,
    * orders of magnitude cheaper than the full rewrite the
    * monolithic layout forced, and replaceable by an fp->doc_id
    * index table if even the scan ever dominates. A pre-existing
    * monolithic snapshot is migrated into buckets by the first
    * post-upgrade batch (one full rewrite, by necessity).
    *
    * Crash/replay discipline: uncommitted (crashed-partial) posting
    * partitions are swept before each batch reads history; committed
    * partitions are never deleted — a batchId collision (replay, or a
    * restart without a checkpointed id sequence) writes to the next
    * free index instead, with duplicate posting rows collapsed by the
    * pair-level distinct. Postings commit before the snapshot, so a
    * crash in between replays the batch against intact evidence.
    * Snapshot commits go through [[SnapshotStore]] (generation dirs):
    * a committed snapshot is never deleted before its successor is
    * durable, so no crash window can truncate the accumulated corpus;
    * the only state in which no snapshot exists but postings do is a
    * replay of the FIRST batch, which the sink verifies (any posting
    * doc outside the batch fails the batch rather than silently
    * rebuilding the corpus from the batch alone).
    */
  def curatedIngest(docs: DataFrame, path: String, n: Int = 3,
      threshold: Double = 0.5,
      bucketer: BucketStore.Bucketer = BucketStore.HashBuckets("doc_id", 64),
      compactEvery: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // phase labels for the Spark UI (and perf probes): each batch
        // runs a handful of distinct actions, and an unlabeled stream
        // attributes them all to .start()
        def phase[T](name: String)(body: => T): T = {
          spark.sparkContext.setJobDescription(s"graft-ingest: $name")
          try body finally spark.sparkContext.setJobDescription(null)
        }
        // within-batch exact dedup: lowest doc_id per fingerprint
        val batchKeepers = batch
          .select(col("doc_id"), col("lang"), col("text"),
            md5(graft.functions.TextOps.normalizedStream(col("text")))
              .as("fp"))
          .groupBy(col("fp"))
          .agg(min_by(
            struct(col("doc_id"), col("lang"), col("text")),
            col("doc_id")).as("r"))
          .select(col("r.doc_id"), col("r.lang"), col("r.text"), col("fp"),
            lit(false).as("out"))
        // ingest-maintenance wiring (ArtifactMaintenance): capture the
        // PRE-commit corpus stamp up front — maintainers use it to
        // prove the artifact they hold describes exactly the corpus
        // this batch extends. Zero cost when nothing is registered.
        val maintain = graft.sources.ArtifactMaintenance.registered(path)
        val preStamp =
          if (maintain) graft.sources.CorpusStamp.of(spark, path) else 0L
        val hPath = new org.apache.hadoop.fs.Path(path)
        val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // bucketed manifest-generation snapshot (BucketStore): a
        // committed version is never deleted before its successor is
        // durable, so "absent" here can only mean no snapshot was EVER
        // committed — either the true first batch, or a replay of it
        // after a crash between the posting commit and the first
        // snapshot commit (the guard below distinguishes that from
        // external data loss). A monolithic legacy snapshot reads
        // through the fallback and is migrated by this batch.
        val bucketedLayout = BucketStore.isBucketed(spark, path)
        val snapshotOpt: Option[DataFrame] = BucketStore.read(spark, path)
        // fingerprint-conflict probe: the one corpus-wide read left in
        // the batch path, pruned to two columns. Checkpointed because
        // it feeds three consumers (touched buckets, the seen-id
        // anti-join, nothing else corpus-sized re-reads the snapshot).
        val conflictIds: Option[DataFrame] = snapshotOpt.map(s =>
          phase("fp-conflict-probe")(
            s.select(col("doc_id"), col("fp"))
              .join(broadcast(batchKeepers.select(col("fp"))),
                Seq("fp"), "left_semi")
              .select(col("doc_id"))
              .localCheckpoint()))
        // cross-batch exact dedup: keeper per fingerprint is the
        // LOWEST doc_id seen so far. Plan shape per batch follows
        // upsertSink: only the snapshot rows whose fingerprints
        // CONFLICT with the batch enter the argmin (batch-sized
        // work); the rest of the snapshot — which grows unboundedly
        // — rides through an untouched broadcast anti-join, never
        // shuffled or aggregated. A replaced keeper forfeits its
        // flags (min_by takes the whole winner row): the
        // replacement's `out` is recomputed fresh below, since as a
        // new doc all its pairs are scored this batch. The
        // tiebreaker's second key handles at-least-once delivery: a
        // REDELIVERED doc (same doc_id already in the snapshot,
        // possibly tombstoned) arrives with out=false, and an
        // arbitrary pick between the two copies could resurrect the
        // tombstone — `!out` orders the out=true copy first, so the
        // snapshot's knowledge wins on equal ids (false < true).
        // rows the merge must actually look at: in the bucketed layout
        // only the buckets holding batch docs or their fp conflicts
        // (manifest-pruned read — O(touched), not O(corpus)); in the
        // migration/first-batch path, whatever monolithic snapshot
        // exists. Every snapshot row with a batch fingerprint is in a
        // touched bucket by construction (its doc_id is in
        // conflictIds), so the within-touched semi/anti split below
        // equals the global one.
        val touched1: Seq[Long] =
          if (!bucketedLayout) Seq.empty
          // batch side uses RAW batch ids, not batchKeepers: the
          // keeper projection would re-run the fingerprint md5 over
          // the batch text just to throw it away (keeper ids are a
          // subset of batch ids, and an extra bucket from a
          // within-batch dup's id is rewritten identically — harmless)
          else phase("touched-buckets")(
            batch.select(bucketer.col.as("b"))
              .unionByName(conflictIds.get.select(bucketer.col.as("b")))
              .distinct().as[Long].collect().toSeq)
        val baseRows: Option[DataFrame] =
          if (bucketedLayout)
            BucketStore.readBuckets(spark, path, bucketer, touched1)
          else snapshotOpt
        val merged = baseRows match {
          case None => batchKeepers
          case Some(prior) =>
            val batchFps = batchKeepers.select(col("fp"))
            val untouched = prior
              .join(broadcast(batchFps), Seq("fp"), "left_anti")
            val conflicts = prior
              .join(broadcast(batchFps), Seq("fp"), "left_semi")
            untouched.unionByName(
              conflicts.unionByName(batchKeepers)
                .groupBy(col("fp"))
                .agg(min_by(
                  struct(col("doc_id"), col("lang"), col("text"), col("out")),
                  struct(col("doc_id"), !col("out"))).as("r"))
                .select(col("fp"), col("r.doc_id"), col("r.lang"),
                  col("r.text"), col("r.out")))
        }
        val seenIds: Option[DataFrame] = conflictIds
        // newDocs stays BATCH-sized end to end: only a batch doc can be
        // new, and the only snapshot ids a batch doc can collide with
        // are those sharing a batch fingerprint — exactly `conflicts`,
        // already computed and batch-sized. The corpus-sized `merged`
        // is streamed through two broadcast joins (narrow, no corpus
        // shuffle) rather than anti-joined against the full snapshot id
        // set, which would shuffle the corpus once the id set outgrew
        // the broadcast threshold. Corner: a doc_id redelivered with
        // DIFFERENT text (different fp) is classified new and
        // re-probed; ids are stable per document in this model, and a
        // re-probe is idempotent anyway (knockouts are distinct-ed and
        // `out` is monotone).
        val newDocs = seenIds.fold(merged)(ids =>
          merged
            .join(broadcast(batchKeepers.select(col("doc_id"))),
              Seq("doc_id"), "left_semi")
            .join(broadcast(ids), Seq("doc_id"), "left_anti"))
        // Posting rows come from the batch's docs AS THEY SURVIVE in
        // merged — not from newDocs. The distinction is replay: after
        // a crash between the snapshot commit and the stream's own
        // checkpoint, the batch is reprocessed with its docs already
        // in the snapshot, so newDocs is empty — deriving postings
        // from it would rewrite this batch's partition as empty and
        // silently lose the docs' grams (missed knockouts forever).
        // Keying on merged ∩ batch ids regenerates the same rows on
        // replay; a REDELIVERED doc re-appends grams duplicating its
        // original partition's, which the pair-level distinct
        // collapses (same doc_id, same n_ng — a pure no-op).
        // Tokenized ONCE, checkpointed: the gram table feeds the
        // posting write and (filtered to newDocs) the probe join.
        val postingGrams = phase("tokenize-batch")(graft.operators.Dedup
          .ngramsWithSize(
            merged.join(batch.select(col("doc_id")), Seq("doc_id"),
              "left_semi").select(col("doc_id"), col("text")), n)
          .localCheckpoint())
        val newGrams = postingGrams
          .join(newDocs.select(col("doc_id")), Seq("doc_id"), "left_semi")
        val postingsRoot = new org.apache.hadoop.fs.Path(path + "_postings")
        // crash hygiene BEFORE reading history: partitions without a
        // _SUCCESS marker are crashed partial writes — unreadable by
        // definition and never part of any committed knockout (the
        // snapshot commits strictly after its batch's postings), so
        // their batch either replays (checkpointed stream) or never
        // durably existed. Committed partitions are NEVER deleted.
        if (fs.exists(postingsRoot))
          fs.listStatus(postingsRoot)
            .filter(s => s.isDirectory &&
              !fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
            .foreach(s => fs.delete(s.getPath, true))
        // partition pick: batch=<batchId> normally; if that dir exists
        // it is COMMITTED (partials were just swept) — either a true
        // replay of this batch (checkpointed stream, identical rows)
        // or an id collision from a restart WITHOUT a checkpointed id
        // sequence, whose dir holds a DIFFERENT batch's evidence. Both
        // resolve the same way: keep the committed dir, write to the
        // next free index — the worst case is duplicated posting rows
        // for replayed docs, which the pair-level distinct collapses.
        val primary = new org.apache.hadoop.fs.Path(postingsRoot,
          s"batch=$batchId")
        val batchDir =
          if (!fs.exists(primary)) primary
          else {
            // numeric-only parse with an overflow guard: a foreign dir
            // under the postings root that merely starts with batch=
            // must be skipped, not throw and fail every future batch.
            // In-place rewrite of batch=<batchId> is deliberately NOT
            // done: the committed dir may hold a DIFFERENT batch's
            // evidence (restart without a checkpointed id sequence),
            // and overwriting would destroy it — next-free-index is
            // safe for both that case and a true replay (duplicate
            // posting rows collapse in the pair-level distinct).
            val maxIdx = (fs.listStatus(postingsRoot)
              .map(_.getPath.getName)
              .collect { case s if s.startsWith("batch=") =>
                scala.util.Try(s.substring("batch=".length).toLong).toOption }
              .flatten :+ batchId)
              .max
            new org.apache.hadoop.fs.Path(postingsRoot,
              s"batch=${maxIdx + 1}")
          }
        val history: Option[DataFrame] =
          if (fs.exists(postingsRoot) &&
              fs.listStatus(postingsRoot).nonEmpty)
            Some(spark.read.parquet(postingsRoot.toString))
          else None
        // no committed snapshot + posting history: legitimate ONLY as a
        // replay of the very first batch (postings commit before the
        // snapshot), in which case every posting doc is a doc of THIS
        // batch. A posting doc outside the batch proves a committed
        // corpus existed and was lost externally — rebuilding from the
        // batch would silently truncate it, so fail the batch instead.
        if (snapshotOpt.isEmpty) history.foreach { h =>
          val foreign = h
            .select(col("doc_id"))
            .join(broadcast(batch.select(col("doc_id")).distinct()),
              Seq("doc_id"), "left_anti")
          if (!phase("first-batch-guard")(foreign.isEmpty))
            throw new IllegalStateException(
              s"curatedIngest: posting history at $postingsRoot holds " +
                "docs from batches whose snapshot is gone — refusing to " +
                "rebuild the corpus from the current batch alone")
        }
        val baseGrams = history.fold(postingGrams)(h =>
          h.select(col("doc_id"), col("ng"), col("n_ng"))
            .unionByName(postingGrams.select(
              col("doc_id"), col("ng"), col("n_ng"))))
        // blanket knockout: any doc on the HIGHER side of a new pair
        // goes out — including previously admitted snapshot docs (a
        // lower-id near-dup just arrived) and docs already out (no-op).
        // Stale postings of evicted exact-dup keepers may sit in
        // history; their knockouts are subsumed by their lower-id
        // replacements' postings and their own ids fail the join below
        // (see the operator doc).
        // checkpointed: feeds both the victim-bucket discovery and
        // the out-flag join, and the jaccard aggregation behind it
        // must not run twice
        val newlyOut = phase("near-dup-probe")(graft.operators.Dedup
          .ngramJaccardAgainstGrams(baseGrams, newGrams, threshold)
          .select(col("doc_id_2").as("doc_id")).distinct()
          .withColumn("hit", lit(true))
          .localCheckpoint())
        // Maintenance payload, materialized BEFORE the snapshot commit:
        // the admitted delta's lineage reads the pre-commit generation,
        // which the commit prunes — a post-commit evaluation would die
        // on the vanished files. `admitted` = the batch's genuinely new
        // docs minus same-batch near-dup knockouts (they enter the
        // snapshot tombstoned, so they are not part of any curated
        // corpus an artifact covers). pureAppend: conservative — any
        // fingerprint conflict with prior rows (a possible eviction) or
        // any OLD doc newly tombstoned disqualifies the additive merge;
        // maintainers skip and the flipped stamp forces the correct
        // rebuild on next access.
        val maintPayload: Option[(org.apache.spark.sql.DataFrame, Boolean)] =
          if (!maintain) None
          else phase("maintenance-payload") {
            val admitted = newDocs
              .join(newlyOut.select(col("doc_id")), Seq("doc_id"), "left_anti")
              .select(col("doc_id"), col("lang"), col("text"))
              .localCheckpoint()
            val oldTombstoned = newlyOut
              .join(broadcast(batch.select(col("doc_id")).distinct()),
                Seq("doc_id"), "left_anti")
            val pure = conflictIds.forall(_.isEmpty) && oldTombstoned.isEmpty
            Some((admitted, pure))
          }
        // postings commit BEFORE the snapshot: a crash in between
        // replays the batch against intact history (idempotent batch
        // partition rewrite), whereas the reverse order could commit
        // knockouts whose evidence was never persisted. Empty batches
        // write nothing — every existing partition holds real files,
        // so the root read above never sees a file-less dataset.
        if (!postingGrams.isEmpty)
          phase("posting-write")(
            postingGrams.select(col("doc_id"), col("ng"), col("n_ng"))
              .write.mode("overwrite").parquet(batchDir.toString))
        // knockout victims can live in buckets the exact merge never
        // touched (an old admitted doc losing to a new lower-id
        // near-dup): pull exactly those buckets in for the out-flag
        // rewrite. Everything else stays on disk untouched.
        var committedSnapshot = false
        if (bucketedLayout) {
          val t1 = touched1.toSet
          val extraBuckets = phase("victim-buckets")(
            newlyOut.select(bucketer.col.as("b"))
              .distinct().as[Long].collect().toSeq.filterNot(t1))
          val victims =
            if (extraBuckets.isEmpty) None
            else BucketStore.readBuckets(spark, path, bucketer, extraBuckets)
          val updated = victims.fold(merged)(merged.unionByName(_))
            .join(newlyOut, Seq("doc_id"), "left_outer")
            .withColumn("out",
              col("out") || coalesce(col("hit"), lit(false)))
            .drop("hit")
          val touchedAll = touched1 ++ extraBuckets
          if (touchedAll.nonEmpty) { // empty batch: snapshot unchanged
            phase("snapshot-commit")(
              BucketStore.commit(updated, bucketer, touchedAll, path))
            committedSnapshot = true
          }
        } else {
          val updated = merged
            .join(newlyOut, Seq("doc_id"), "left_outer")
            .withColumn("out",
              col("out") || coalesce(col("hit"), lit(false)))
            .drop("hit")
          // first batch or legacy migration — the only full write.
          // (Emptiness is decided from the batch, not by evaluating
          // the corpus-sized merge twice: with no prior snapshot the
          // merge is exactly the batch keepers.)
          if (snapshotOpt.isDefined || !batchKeepers.isEmpty) {
            phase("snapshot-commit-full")(
              BucketStore.commitAll(updated, bucketer, path))
            committedSnapshot = true
          }
        }
        // fire registered artifact maintainers AFTER the commit (they
        // install under the post-commit stamp), with the pre-commit
        // stamp and the pre-materialized delta. Failures are isolated
        // inside fire() — the staleness contract owns correctness.
        maintPayload.foreach { case (delta, pure) =>
          if (committedSnapshot)
            phase("artifact-maintenance")(
              graft.sources.ArtifactMaintenance.fire(spark,
                graft.sources.ArtifactMaintenance.Commit(
                  path, preStamp, delta, pure)))
        }
        // COMPACTION POLICY ([[compactPostings]], previously
        // offline/manual): once the posting history accumulates
        // `compactEvery` committed batch partitions, fold them — the
        // count IS "batches since last compaction" because a fold
        // leaves one partition, so read amplification of the history
        // scan is bounded at compactEvery partitions regardless of
        // stream lifetime. Runs INSIDE foreachBatch, after both
        // commits, so the single-writer discipline compactPostings
        // requires holds by construction. 0 disables (spec probes of
        // the uncompacted layout). Trigger cost: one directory
        // listing.
        if (compactEvery > 0 && fs.exists(postingsRoot)) {
          val committedN = fs.listStatus(postingsRoot).count(s =>
            s.isDirectory && s.getPath.getName.startsWith("batch=") &&
              fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
          if (committedN >= compactEvery)
            phase("posting-compaction") { compactPostings(spark, path); () }
        }
        // drop the per-batch checkpoints (gram table, conflict probe,
        // knockout set): a stream runs unboundedly many batches, and
        // blocks left to the ContextCleaner accumulate in the meantime
        (Seq(postingGrams, newlyOut) ++ conflictIds.toSeq ++
          maintPayload.map(_._1).toSeq).foreach { df =>
          df.queryExecution.analyzed.collectFirst {
            case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
          }.foreach(_.unpersist(blocking = false))
        }
        ()
      }
      .outputMode("update")
      .start()

  /** Offline compaction of a curatedIngest posting table: folds the
    * accumulated per-batch `batch=<id>` partitions into ONE partition,
    * so the per-batch history scan stops paying for dead data after
    * thousands of micro-batches. Returns the number of partitions
    * folded (0 = nothing to do).
    *
    * What compaction may drop — and what it must not:
    *
    *  - DROPPED: posting rows of doc_ids absent from the snapshot.
    *    These are exact-dup EVICTIONS (a lower-id twin replaced the
    *    doc); the replacement has identical grams and a strictly
    *    lower id, so every knockout a stale row could produce is also
    *    produced by the replacement's own postings (the inline
    *    ingest relies on the same subsumption — see curatedIngest).
    *  - DROPPED: duplicate rows from at-least-once redelivery and
    *    replay collisions (same (doc_id, ng, n_ng) appended to two
    *    partitions). The ingest's pair-level distinct always
    *    collapsed these; compaction just stops re-reading them.
    *  - KEPT: TOMBSTONED docs' postings. The batch dedup rule drops
    *    every doc pairing with ANY lower-id doc, including losers —
    *    Jaccard is not transitive, so a later arrival can be a
    *    near-dup of a tombstoned doc without being a near-dup of
    *    that doc's own knocker. Dropping these would silently admit
    *    such arrivals (the spec drives exactly this chain).
    *
    * Crash discipline mirrors the ingest: the compacted partition is
    * written to the next free `batch=` index and made durable
    * (`_SUCCESS`) BEFORE the folded partitions are deleted — every
    * crash window leaves either duplicates (collapsed by the
    * pair-level distinct, re-folded by the next compaction) or a
    * partial partition (swept by the next batch/compaction). Safe to
    * run between batches of a STOPPED stream, or concurrently only if
    * the deployment serializes it with the sink (same single-writer
    * assumption every foreachBatch sink already makes).
    *
    * Scale shape: one shuffle to distinct the surviving rows — the
    * cost is the LIVE posting table, not the accumulated one, and the
    * semi-join against snapshot ids shuffles 64-bit keys, never text.
    */
  def compactPostings(spark: SparkSession, path: String): Int = {
    val postingsRoot = new org.apache.hadoop.fs.Path(path + "_postings")
    val fs = postingsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(postingsRoot)) return 0
    // a posting table without a committed snapshot is the externally-
    // lost-corpus state the ingest refuses to touch; so does compaction
    val snapshot = readSnapshot(spark, path)
    // sweep crashed partials so the fold only reads committed evidence
    val (committed, partial) = fs.listStatus(postingsRoot).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
      .partition(s =>
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
    partial.foreach(s => fs.delete(s.getPath, true))
    if (committed.size < 2) return 0 // already compact
    val live = snapshot.select(col("doc_id"))
    val compacted = spark.read
      .parquet(committed.map(_.getPath.toString): _*)
      .select(col("doc_id"), col("ng"), col("n_ng"))
      .join(live, Seq("doc_id"), "left_semi")
      .distinct()
    // next free index across committed dirs, overflow-guarded like the
    // ingest's own collision scan
    val nextIdx = (committed.map(_.getPath.getName)
      .flatMap(s => scala.util.Try(
        s.substring("batch=".length).toLong).toOption) :+ -1L).max + 1
    compacted.write.mode("overwrite").parquet(
      new org.apache.hadoop.fs.Path(postingsRoot, s"batch=$nextIdx").toString)
    // only after the fold is durable: delete what it folded
    committed.foreach(s => fs.delete(s.getPath, true))
    committed.size
  }

  /** The current committed snapshot of a BucketStore-backed sink
    * (upsertSink / curatedIngest), raw — including tombstones; falls
    * back to the legacy monolithic layouts. Throws if no generation
    * was ever committed.
    */
  def readSnapshot(spark: SparkSession, path: String): DataFrame =
    BucketStore.read(spark, path).getOrElse(
      throw new IllegalStateException(
        s"no committed snapshot at $path"))

  /** All ADMITTED (non-tombstoned) docs of a curatedIngest store, text
    * included — the corpus the store-keyed offline-index families
    * (e.g. [[graft.operators.SuffixRanks.storeRankTable]]) are built
    * over. Quality gates stay a read-time concern of
    * [[curatedSnapshot]]: a low-quality doc still participates in
    * dedup/index evidence, so the index corpus is the raw admitted
    * text.
    */
  def admittedDocs(spark: SparkSession, path: String): DataFrame =
    readSnapshot(spark, path)
      .filter(!col("out"))
      .select(col("doc_id"), col("lang"), col("text"))

  /** Embedding-store ingest — the vector-side counterpart of
    * [[curatedIngest]], for the corpora the embedding-artifact
    * families (IVF centroids, PQ codebooks, PCA fits) are built over.
    * Far simpler semantics than the curated document path — vectors
    * carry no near-dup scoring and no tombstones; the store is an
    * id-keyed, append-only snapshot:
    *
    *  - within a batch, one row per vec_id (deterministic: min over
    *    the full payload struct — arrays order lexicographically —
    *    the curated path's redelivery posture);
    *  - a vec_id already committed is IGNORED (first write wins — an
    *    embedding is immutable; re-embedding a corpus is a rebuild,
    *    not an upsert), and its arrival marks the commit
    *    NON-pure-append so registered maintainers skip
    *    (conservative: the producer may have meant an update, and
    *    while the store stayed append-only, a skipped maintainer
    *    costs one rebuild, never correctness);
    *  - buckets ride [[BucketStore]] manifest generations exactly
    *    like the curated snapshot: O(touched buckets) per commit, a
    *    committed generation is never deleted before its successor
    *    is durable, and the generation IS the corpus stamp
    *    ([[graft.sources.CorpusStamp]]).
    *
    * After each commit, registered
    * [[graft.sources.ArtifactMaintenance]] maintainers fire with the
    * pre-commit stamp and the materialized newly-admitted delta — the
    * wiring that lets the embedding families serve MAINTAINED indexes
    * on the first post-ingest query, completing the pipeline story
    * the suffix/unigram document families already have.
    */
  def vectorIngest(vecs: DataFrame, path: String,
      bucketer: BucketStore.Bucketer = BucketStore.HashBuckets("vec_id", 64))
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        def phase[T](name: String)(body: => T): T = {
          spark.sparkContext.setJobDescription(s"graft-vec-ingest: $name")
          try body finally spark.sparkContext.setJobDescription(null)
        }
        val payload = batch.columns.filterNot(_ == "vec_id").toSeq
        val keepers = phase("batch-dedup")(batch
          .groupBy(col("vec_id"))
          .agg(min(struct(payload.map(col): _*)).as("_r"))
          .select(col("vec_id") +:
            payload.map(c => col(s"_r.`$c`").as(c)): _*))
        val maintain = graft.sources.ArtifactMaintenance.registered(path)
        val preStamp =
          if (maintain) graft.sources.CorpusStamp.of(spark, path) else 0L
        def fire(delta: DataFrame, pure: Boolean): Unit =
          if (maintain)
            phase("artifact-maintenance")(
              graft.sources.ArtifactMaintenance.fire(spark,
                graft.sources.ArtifactMaintenance.Commit(
                  path, preStamp, delta, pure)))
        if (!BucketStore.isBucketed(spark, path)) {
          // true first commit: the batch IS the store
          if (!keepers.isEmpty) {
            val delta = keepers.localCheckpoint()
            phase("snapshot-commit-full")(
              BucketStore.commitAll(delta, bucketer, path))
            fire(delta, pure = true)
            delta.queryExecution.analyzed.collectFirst {
              case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
            }.foreach(_.unpersist(blocking = false))
          }
        } else {
          val touched = phase("touched-buckets")(
            keepers.select(bucketer.col.as("b")).distinct()
              .as[Long].collect().toSeq)
          if (touched.nonEmpty) {
            val base =
              BucketStore.readBuckets(spark, path, bucketer, touched)
            // first write wins; materialized BEFORE the commit (the
            // maintenance payload contract: its lineage reads the
            // pre-commit generation)
            val fresh = base.fold(keepers)(b =>
              keepers.join(b.select(col("vec_id")),
                Seq("vec_id"), "left_anti"))
              .localCheckpoint() // fresh feeds two actions (isEmpty +
            // commit) so one materialization is the hot-path minimum;
            // the pure-append probe, by contrast, exists ONLY to gate
            // maintenance — registered() promises the unmaintained hot
            // path does not pay it (the curatedIngest precedent)
            val pure = maintain && phase("pure-append-probe")(
              base.forall(b => keepers.join(b.select(col("vec_id")),
                Seq("vec_id"), "left_semi").isEmpty))
            if (!fresh.isEmpty) {
              val merged = base.fold(fresh: DataFrame)(_.unionByName(fresh))
              phase("snapshot-commit")(
                BucketStore.commit(merged, bucketer, touched, path))
              fire(fresh, pure)
            }
            // an all-duplicate batch commits nothing and fires nothing
            fresh.queryExecution.analyzed.collectFirst {
              case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
            }.foreach(_.unpersist(blocking = false))
          }
        }
        ()
      }
      .outputMode("update")
      .start()

  /** All vectors of a [[vectorIngest]] store — the corpus the
    * embedding-artifact families are built over. No tombstones exist
    * in the vector layout, so the snapshot is the corpus.
    */
  def admittedVectors(spark: SparkSession, path: String): DataFrame =
    readSnapshot(spark, path)

  /** The curated corpus as of the last committed batch: tombstones
    * dropped, then the batch pipeline's quality gates — same output
    * schema and ordering as Pipeline.curatedCorpus.
    */
  def curatedSnapshot(spark: SparkSession, path: String,
      minTokens: Int = 10): DataFrame =
    readSnapshot(spark, path)
      .filter(!col("out"))
      .withColumn("n_tokens",
        graft.functions.TextOps.tokenCount(col("text")).cast("long"))
      .filter(col("n_tokens") >= minTokens)
      .filter(col("lang").isin("en", "de", "fr", "es"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
      .orderBy(col("doc_id"))
}
