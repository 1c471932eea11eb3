package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is fully
  * materialized through the `noop` sink — `count()` would let Catalyst
  * prune projections and undercount the real work.
  */
object Bench {

  /** How many archived rounds the regression baseline looks back
    * over. A single newest-round baseline ratchets the wrong way (r6:
    * one contention-noised round inflated ivf_topk's record 6x and
    * would have let a real regression through next round); an
    * unbounded all-time minimum has no forgiveness — a deliberate,
    * accepted slowdown (a correctness fix that adds a join) would be
    * flagged REGRESSION every round forever, with deleting history as
    * the only escape. Min over the newest K rounds resists K-1
    * consecutive noisy rounds AND self-heals K rounds after an
    * accepted slowdown.
    */
  private val BaselineLookback = 4

  /** Rolling full-detail run log (`BENCH_RUNS.jsonl` in the repo, one
    * line per full-registry bench invocation, trimmed to the newest
    * `RunLogKeep`). Exists because the driver-archived `BENCH_r{N}
    * .json` lines carry only the ~22 headline timings (the in-band
    * JSON must fit the driver's output tail window), so a gate fed
    * from archives alone is blind to the other ~100 queries — this
    * run's two worst outliers (rank_corr and ann_topk near 20 s under
    * host contention) were exactly such non-headline queries. Lines
    * record their sf dir; the baseline reader only consumes lines
    * matching the current target, so an sf0.01 debugging run cannot
    * set impossible floors for sf0.1.
    */
  private val RunLogName = "BENCH_RUNS.jsonl"
  private val RunLogKeep = 8

  private def readLines(f: java.io.File): Vector[String] = {
    if (!f.isFile) return Vector.empty
    val src = scala.io.Source.fromFile(f)("UTF-8")
    try src.getLines().toVector finally src.close()
  }

  private[graft] def appendRunLog(dir: java.io.File, sfDir: String,
      queries: Map[String, Double]): Unit = {
    val f = new java.io.File(dir, RunLogName)
    val existing = readLines(f).filter(_.trim.nonEmpty)
    def fmtQ(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = queries.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmtQ(v) }
      .mkString("{", ",", "}")
    val line = s"""{"sf":"$sfDir","queries":$qs}"""
    val keep = (existing :+ line).takeRight(RunLogKeep)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try keep.foreach(w.println) finally w.close()
  }

  /** Committed per-query baseline: BASELINE.md carries a fenced
    * ```json block of per-query MEDIANS over quiet-host runs
    * ({"sf": dir, "queries": {...}}), so the regression gate compares
    * against a vetted, reviewed number instead of whatever the rolling
    * archive absorbed (r10's archive contained a 38.6 s rank_corr that
    * was 2.4 s on rerun — minima over such runs both under- and
    * over-shoot). Queries missing from the file (new this round) fall
    * back to the run-log floor below.
    */
  private[graft] def fileBaseline(dir: java.io.File,
      sfDir: String): Map[String, Double] = {
    val f = new java.io.File(dir, "BASELINE.md")
    if (!f.isFile) return Map.empty
    val text = readLines(f).mkString("\n")
    // [^`] keeps a match inside ONE fenced block: with dotall-`.` a
    // malformed first block (no closing brace) would swallow the next
    // fence wholesale and hide a valid later block.
    val fence = """(?s)```json\s*(\{[^`]*\})\s*```""".r
    // The file may carry one block per scale factor (sf0.1 + sf1.0);
    // the first block whose "sf" matches the bench target wins, so a
    // bench at either SF gets its own committed medians.
    fence.findAllMatchIn(text).map(_.group(1)).flatMap { json =>
      try {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.readTree(json)
        if (root.path("sf").asText() != sfDir) None
        else {
          val qs = root.path("queries")
          import scala.jdk.CollectionConverters._
          Some(qs.properties().asScala
            .map(e => e.getKey -> e.getValue.asDouble()).toMap)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] BASELINE.md block unreadable: ${e.getMessage}")
        None
      }
    }.nextOption().getOrElse(Map.empty)
  }

  /** Per-query minima over the newest `BaselineLookback` run-log lines
    * whose sf matches. Unreadable lines are skipped like unreadable
    * archives.
    */
  private def runLogBaseline(dir: java.io.File,
      sfDir: String): Map[String, Double] = {
    val f = new java.io.File(dir, RunLogName)
    if (!f.isFile) return Map.empty
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val acc = scala.collection.mutable.Map[String, Double]()
    val lines =
      try readLines(f) catch { case _: Throwable => Vector.empty }
    lines.flatMap { l =>
        try {
          val root = mapper.readTree(l)
          if (root.path("sf").asText() == sfDir) Some(root.path("queries"))
          else None
        } catch { case _: Throwable => None }
      }
      .takeRight(BaselineLookback)
      .foreach { qs =>
        val it = qs.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue.isNumber) {
            val v = e.getValue.asDouble()
            acc(e.getKey) = acc.get(e.getKey).fold(v)(math.min(_, v))
          }
        }
      }
    acc.toMap
  }

  /** Regression baseline: per-query MINIMUM across the newest
    * `BaselineLookback` archived rounds (`BENCH_r{N}.json` in `dir`)
    * merged with the newest matching-sf run-log lines (full-registry
    * coverage — see RunLogName). Round numbers are extracted
    * numerically, so an unpadded BENCH_r9.json cannot lexicographically
    * shadow r10+. A round whose archive fails to parse is skipped with
    * a note — one truncated file must not discard every valid baseline
    * (which would make the gate pass vacuously).
    */
  private[graft] def regressionBaseline(dir: java.io.File,
      sfDir: String = ""): Map[String, Double] = {
    val fromLog =
      if (sfDir.nonEmpty) runLogBaseline(dir, sfDir) else Map.empty[String, Double]
    val benches = Option(dir.listFiles()).getOrElse(Array.empty)
      .flatMap { f =>
        "^BENCH_r(\\d+)\\.json$".r.findFirstMatchIn(f.getName)
          .map(m => (m.group(1).toInt, f))
      }
      .sortBy(_._1)
      .takeRight(BaselineLookback)
    if (benches.isEmpty) {
      if (fromLog.isEmpty)
        System.err.println(
          s"[bench] no BENCH_r*.json under ${dir.getAbsolutePath} — " +
            "regression gate has no baseline and will pass vacuously")
      fromLog
    } else {
      System.err.println("[bench] regression baseline = per-query min over " +
        benches.map(_._2.getName).mkString(", "))
      val acc = scala.collection.mutable.Map[String, Double]()
      benches.foreach { case (_, f) =>
        try {
          val root = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(f)
          // Archives record the sf dir they were measured at; a
          // different-scale bench (the sf1 baseline cut) must not be
          // gated against them — at 10x data every query would flag
          // and re-measure 3x. Archives without the field (pre-r7)
          // predate multi-SF benching and are all driver sf0.1 runs,
          // so they match only the driver default.
          val archSf = root.path("sf").asText("")
          val effective =
            if (archSf.nonEmpty) archSf else "/root/testdata/sf0.1"
          // canonicalize before comparing: a trailing slash, symlink
          // or relative spelling of the same sf dir must not silently
          // drop every floor and re-measure the whole registry
          def canon(p: String): String =
            try java.nio.file.Paths.get(p).toRealPath().toString
            catch { case _: Throwable =>
              java.nio.file.Paths.get(p).normalize().toAbsolutePath.toString }
          if (sfDir.isEmpty || canon(effective) == canon(sfDir)) {
            val qs = root.path("parsed").path("queries")
            val it = qs.properties().iterator()
            while (it.hasNext) {
              val e = it.next()
              if (e.getValue.isNumber) {
                val v = e.getValue.asDouble()
                acc(e.getKey) = acc.get(e.getKey).fold(v)(math.min(_, v))
              }
            }
          }
        } catch { case e: Throwable =>
          System.err.println(
            s"[bench] skipping unreadable ${f.getName}: ${e.getMessage}")
        }
      }
      (acc.keySet ++ fromLog.keySet).map { k =>
        k -> math.min(
          acc.getOrElse(k, Double.MaxValue),
          fromLog.getOrElse(k, Double.MaxValue))
      }.toMap
    }
  }

  /** The regression gate: >1.5x the baseline AND >0.3s absolute (so
    * 0.1s-scale noise can't trip it). Used twice — to flag a first
    * run, and to CONFIRM against the faster of first run + rerun.
    */
  private[graft] def overGate(now: Double, was: Double): Boolean =
    now > was * 1.5 && now - was > 0.3

  /** The archived value for a flagged query: median of the first run
    * and its successful reruns (failed reruns carry the -1 sentinel
    * and are excluded). Median of 3 outvotes a single host stall but
    * reports a reproducing regression undiminished; with one rerun
    * lost the surviving pair's LARGER value is kept (conservative),
    * with both lost the first run stands.
    */
  private[graft] def archivedValue(first: Double,
      reruns: List[Double]): Double = {
    val good = first :: reruns.filter(_ > 0)
    good.sorted.apply(good.size / 2)
  }

  /** Which measured queries get the rerun treatment: over the gate
    * vs their baseline, excluding FAILED queries — a failed query's
    * dt is its time-to-exception, flagging it would burn a rerun and
    * (since a failed rerun cannot clear the gate) archive a failure
    * mislabeled REGRESSION. Order = measurement order (deterministic).
    */
  private[graft] def selectFlagged(results: Seq[(String, Double)],
      failed: collection.Set[String],
      baseline: Map[String, Double]): Seq[String] =
    results.collect {
      case (k, dt) if !failed.contains(k) && baseline.contains(k) &&
        overGate(dt, baseline(k)) => k
    }

  /** Sub-phase seconds recorded by the ingest-pair runners during
    * their last invocation — drained into standalone gated entries
    * after each measured run, so the maintained-vs-rebuild FIRST-QUERY
    * contrast is watched directly (the whole-arm entries fold ~equal
    * ingest cost over a 4-58x query-phase win, reading as 1.2x).
    */
  private val phaseSeconds =
    scala.collection.mutable.LinkedHashMap[String, Double]()
  private def phaseTimed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    phaseSeconds(name) = (System.nanoTime() - t0) / 1e9
    r
  }

  /** Rerunning a flagged phase entry means rerunning its parent arm
    * (the phase is a window inside that pipeline, not a standalone
    * runner) and reading the refreshed window.
    */
  private val phaseParent = Map(
    "ingest_phase_maintained" -> "ingest_maintained_query",
    "first_query_maintained" -> "ingest_maintained_query",
    "ingest_phase_rebuild" -> "ingest_rebuild_query",
    "first_query_rebuild" -> "ingest_rebuild_query",
    "vec_ingest_phase_maintained" -> "vec_ingest_maintained_query",
    "vec_first_query_maintained" -> "vec_ingest_maintained_query",
    "vec_ingest_phase_rebuild" -> "vec_ingest_rebuild_query",
    "vec_first_query_rebuild" -> "vec_ingest_rebuild_query")

  /** One arm of the ingest-maintenance bench pair: ingest a 25% doc
    * subsample, build the store suffix index (deployment posture: the
    * index exists before the next batch), ingest the every-29th
    * re-keyed reversed delta (the suffix_ranks_incremental fixture),
    * then run the first post-ingest query. With `maintained` the
    * commit's registered maintainer installs the delta-merged index
    * (verified — a silently-skipped maintenance would measure the
    * rebuild arm twice and the entry FAILS instead); without it the
    * query pays the staleness rebuild.
    */
  private def ingestQueryRunner(spark: SparkSession, maintained: Boolean)
      : String => Long = { dir =>
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // HARNESS SHAPE, not a query-path idiom: MemoryStream is fed from
    // the driver, so the fixture MUST be collect()ed — that is the
    // simulator's input channel, bounded here by the % 4 subsample
    // (25% of docs keeps the driver copy small while still exercising
    // a multi-batch ingest). A production ingest reads from a file/
    // Kafka source and nothing corpus-sized ever reaches the driver.
    val docs = graft.sources.Tables.documents(spark, dir)
      .filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
      .as[graft.streaming.EventStreams.CDoc].collect()
    val mx = docs.map(_.doc_id).max + 1
    val delta = docs.filter(_.doc_id % 29 == 3)
      .map(d => graft.streaming.EventStreams.CDoc(
        d.doc_id + mx, d.lang, d.text.reverse))
    val snapRoot = java.nio.file.Files
      .createTempDirectory("graft_bench_maint")
    val snap = snapRoot.resolve("store").toString
    val width = math.max(1L, 2 * mx / 64)
    // ONE try/finally around everything after createTempDirectory:
    // every exit path (ingest failure, the maintenance-install check
    // throwing, query failure) reclaims the throwaway store — the disk
    // (store + persisted suffix index) and the unique-path-keyed cache
    // entry — or iterated bench runs grow both monotonically (the
    // vec-arm precedent).
    try {
      if (maintained)
        graft.sources.ArtifactMaintenance.register(snap, "suffix")(
          graft.operators.SuffixRanks.storeMaintainer)
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.EventStreams.CDoc]
      val q = graft.streaming.EventStreams.curatedIngest(input.toDF(), snap,
        bucketer = graft.streaming.BucketStore.RangeBuckets("doc_id", width))
      val arm = if (maintained) "maintained" else "rebuild"
      try phaseTimed(s"ingest_phase_$arm") {
        input.addData(docs.toSeq: _*)
        q.processAllAvailable()
        graft.operators.SuffixRanks.storeRankTable(spark, snap).count()
        input.addData(delta.toSeq: _*)
        q.processAllAvailable()
      } finally {
        q.stop()
        graft.sources.ArtifactMaintenance.clear(snap)
      }
      if (maintained) {
        // BEFORE the query: once a query runs, a rebuild would register
        // the same post-commit stamp and mask a silently-skipped install
        val post = graft.sources.CorpusStamp.of(spark, snap)
        val ok = graft.operators.SuffixRanks.servedStoreIndex(snap)
          .exists(_._1 == post)
        if (!ok) throw new IllegalStateException(
          "ingest_maintained_query: maintenance did not install — the " +
            "entry would silently measure the rebuild arm")
      }
      val rows = phaseTimed(s"first_query_$arm")(
        graft.operators.SuffixRanks.storeRankTable(spark, snap).count())
      val qSec = phaseSeconds(s"first_query_$arm")
      System.err.println(
        f"[bench] ingest_${arm}_query: post-ingest first query $qSec%.2f s " +
          s"($rows rows)")
      rows
    } finally {
      graft.operators.SuffixRanks.invalidateStore(snap)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(snapRoot.toFile)
    }
  }

  /** The embedding-side ingest-maintenance pair: ingest the embeddings
    * table into a [[graft.streaming.EventStreams.vectorIngest]] store,
    * build the store IVF centroids + occupancy (deployment posture:
    * the index exists before the next batch), ingest the every-17th
    * re-keyed reversed delta (the ivf_incremental fixture, ~6% — under
    * the drift gate), then run the FIRST post-ingest ANN query. With
    * `maintained` the commit's registered IVF maintainer installs the
    * folded centroids and exact updated occupancy (verified — a
    * silently-skipped maintenance would measure the rebuild arm twice
    * and the entry FAILS instead); without it the query pays the
    * staleness rebuild (k-means|| seeding + Lloyd over the merged
    * corpus).
    */
  private def vecIngestQueryRunner(spark: SparkSession, maintained: Boolean)
      : String => Long = { dir =>
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.VecRow
    // HARNESS SHAPE (see ingestQueryRunner): MemoryStream's input
    // channel is the driver, so the fixture is collect()ed by design;
    // the embeddings table is vector-count-bounded, not corpus-text-
    // sized. Production vector ingest reads a distributed source.
    val vecs = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .as[VecRow].collect()
    val mx = vecs.map(_.vec_id).max + 1
    val delta = vecs.filter(_.vec_id % 17 == 4)
      .map(v => VecRow(v.vec_id + mx, v.embedding.reverse))
    val snapRoot = java.nio.file.Files
      .createTempDirectory("graft_bench_vec_maint")
    val snap = snapRoot.resolve("store").toString
    // ONE try/finally around everything after createTempDirectory (the
    // doc-arm convention): every exit path — ingest failure, the
    // maintenance-install check throwing, query failure — reclaims the
    // throwaway store's disk and unique-path-keyed cache entries, or
    // iterated bench runs grow both monotonically.
    try {
      if (maintained)
        graft.sources.ArtifactMaintenance.register(snap, "ivf")(
          graft.operators.Ivf.storeMaintainer(nCells = 16, iters = 2))
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[VecRow]
      val q = EventStreams.vectorIngest(input.toDF(), snap)
      val arm = if (maintained) "maintained" else "rebuild"
      try phaseTimed(s"vec_ingest_phase_$arm") {
        input.addData(vecs.toSeq: _*)
        q.processAllAvailable()
        graft.operators.Ivf.storeCentroids(spark, snap, 16, 2).count()
        graft.operators.Ivf.storeCellCounts(spark, snap, 16, 2)
        input.addData(delta.toSeq: _*)
        q.processAllAvailable()
      } finally {
        q.stop()
        graft.sources.ArtifactMaintenance.clear(snap)
      }
      if (maintained) {
        val post = graft.sources.CorpusStamp.of(spark, snap)
        val ok = graft.operators.Ivf.servedStoreCentroids(snap, 16, 2)
          .exists(_._1 == post)
        if (!ok) throw new IllegalStateException(
          "vec_ingest_maintained_query: maintenance did not install — " +
            "the entry would silently measure the rebuild arm")
      }
      val rows = phaseTimed(s"vec_first_query_$arm")(
        graft.operators.Ivf.ivfTopKOver(
          EventStreams.admittedVectors(spark, snap)
            .select(col("vec_id"), col("embedding")),
          graft.operators.Ivf.storeCentroids(spark, snap, 16, 2)).count())
      val qSec = phaseSeconds(s"vec_first_query_$arm")
      System.err.println(
        f"[bench] vec_ingest_${arm}_query: post-ingest first ANN query " +
          f"$qSec%.2f s ($rows rows)")
      rows
    } finally {
      graft.operators.Ivf.invalidateStore(snap, 16, 2)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(snapRoot.toFile)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graft.ingest.autosplit", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Static conf, default 100 entries. The suite is 123 queries x
      // ~5-15 codegen stages each, so at the default size every
      // warmup-compiled class is evicted long before the measured run
      // needs it — each measured query then re-Janinos AND re-JITs
      // fresh classes (r5: decontaminate 2.2s -> 5.1s with identical
      // code; warm re-runs measure 0.94s). Sized to hold the whole
      // suite, warmup classes survive to measurement and the measured
      // run executes already-JITed code — which is also what a real
      // cluster's long-lived executors see.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JIT the parquet reader once
    graft.sources.Tables.all.foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count()
      catch { case _: Throwable => () }
    }
    // ONE-TIME index builds (IVF centroids, PQ codebook, PCA fit,
    // unigram vocabularies, suffix-rank index) at the target SF — the
    // deployment posture these operators are built for: an index is
    // constructed offline once and persisted, and query jobs serve
    // from it (the prebuilt/persisted path is spec-gated). Without
    // this, whichever registry query alphabetically reaches the
    // process cache first pays the whole build inside its measured
    // window — ann_topk was charged ~5 s of Lloyd iterations that
    // ivf_topk then got for free, making the per-query record a map of
    // registry iteration order rather than of serving cost.
    //
    // Since round 15 each build is its OWN timed, floored, gate-watched
    // entry (build_*): the untimed index_build_sec lump grew 23.7 s →
    // 62.2 s across rounds 12-14 with no gate, so a build-path
    // regression was invisible while the queries it serves stayed
    // gated. The thunks force a fresh build (cache invalidation first),
    // so flagged reruns measure the build again, not a cache hit.
    // index_build_sec stays in-band as the SUM for cross-round
    // continuity. Builds run before the per-query warmup loop because
    // every ANN/PCA/unigram/suffix query below serves from them.
    // SPARK_GRAFT_ONLY=a,b,c times just those queries in an otherwise
    // fresh suite — the isolation probe for suite-context drift (a
    // query that is fast here but slow in the full run is reacting to
    // accumulated JVM/plan state, not to its own code). Diagnostic
    // only: the driver's official run never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    // under SPARK_GRAFT_ONLY, still warm ALL index caches (isolated
    // queries must serve from warm caches like in-suite ones) — but a
    // NON-requested build runs its `warm` thunk (no invalidation, no
    // timing), so the isolation probe doesn't pay ~60 s of forced
    // rebuilds it didn't ask for
    val buildResults: Seq[(String, Double)] =
      SparkEntry.indexBuilds.flatMap { case SparkEntry.IndexBuild(name, run, warm) =>
        if (only.exists(names => !names.contains(name))) {
          try warm(spark, sfDir)
          catch { case e: Throwable =>
            System.err.println(s"[bench] prewarm $name failed: ${e.getMessage}")
          }
          Cleanup.fullRelease(spark)
          None
        } else {
          val t0 = System.nanoTime()
          try run(spark, sfDir)
          catch { case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          val dt = (System.nanoTime() - t0) / 1e9
          Cleanup.fullRelease(spark)
          System.err.println(f"[bench] $name: $dt%.2f s")
          Some(name -> dt)
        }
      }
    val indexBuildSec = buildResults.map(_._2).sum
    System.err.println(
      f"[bench] index builds took $indexBuildSec%.2f s total " +
        "(per-build lines archived as build_*)")
    // Per-query warmup needs a CHEAP scale factor — falling back to sfDir
    // would silently run the whole suite twice at the target SF and double
    // the wall clock, so without a smaller sibling we skip it instead.
    // Profiling showed 30-60% of each query's first run is Janino codegen +
    // JIT, not data processing (tfidf: 2.16s cold, 0.94s warm) — cost that
    // amortizes to zero on a real cluster run over 100 TB. The generated
    // code depends on the plan, not the input path, so an sf0.001 pass
    // populates the codegen cache and the measured run reports
    // steady-state throughput at the target SF.
    // SPARK_GRAFT_WARM_SF picks the warmup scale (default sf0.001).
    // The round-11 profiling found the default's row counts sit UNDER
    // HotSpot's ~10k compile thresholds for the hot generated loops, so
    // the first measured run at the target SF still pays C1/interpreted
    // execution (the "cold-at-scale JIT" pathology in BASELINE.md);
    // sf0.01 drives the same methods past the thresholds for ~10% of a
    // measured run's cost per query.
    val warmDir = {
      val p = java.nio.file.Paths.get(sfDir)
      val warmSf = sys.env.getOrElse("SPARK_GRAFT_WARM_SF", "sf0.001")
      Option(p.getParent).map(_.resolve(warmSf))
        .filter(java.nio.file.Files.isDirectory(_))
        .filter(_.toString != sfDir)
        .map(_.toString)
    }
    if (warmDir.isEmpty)
      System.err.println(
        s"[bench] no sf0.001 sibling of $sfDir; skipping per-query warmup " +
          "(first-run timings will include codegen/JIT cost)")
    val registry = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.view.filterKeys(names).toMap)
    // WRITE-PATH benchmarks: the two real sinks (partitioned letter
    // sink, streaming curation ingest) are correctness-gated but were
    // never timed — a sink regression (say, an accidental extra
    // pre-write shuffle) was invisible to every gate. They run under
    // the same measure/flag/rerun machinery as queries: each runner
    // does a full fresh write to its own temp dir per invocation, so
    // reruns measure the same work. Values archived in SECONDS like
    // every entry (the gate compares like with like); rows/s goes to
    // stderr for humans.
    val writeRunners: Seq[(String, String => Long)] = Seq(
      "write_letter_sink" -> { dir =>
        val docs = graft.sources.Tables.documents(spark, dir)
        val idx = graft.operators.InvertedIndex(docs)
        val out = java.nio.file.Files
          .createTempDirectory("graft_bench_letters").toString
        graft.sources.LetterSink.writePartitioned(idx, out)
        spark.read.text(out).count()
      },
      // Ingest→maintenance wiring, both arms (ArtifactMaintenance):
      // identical pipelines — ingest a corpus, build the store suffix
      // index, ingest a delta batch, run the FIRST post-ingest query —
      // differing only in whether the suffix maintainer is registered.
      // The difference between the two archived numbers isolates
      // maintain-vs-rebuild, and each arm prints its query-phase
      // seconds to stderr (the post-ingest first-query latency the
      // wiring exists to shrink). Corpus is a 25% doc subsample: the
      // contrast is scale-free and the full corpus would add ~100 s of
      // suite wall-clock for no extra information.
      "ingest_maintained_query" -> ingestQueryRunner(spark, maintained = true),
      "ingest_rebuild_query" -> ingestQueryRunner(spark, maintained = false),
      // the embedding-side pair (vectorIngest + the IVF maintainer):
      // same contrast for the vector store — the first post-ingest ANN
      // query serves folded centroids vs paying a full re-seed + Lloyd
      "vec_ingest_maintained_query" ->
        vecIngestQueryRunner(spark, maintained = true),
      "vec_ingest_rebuild_query" ->
        vecIngestQueryRunner(spark, maintained = false),
      "write_curated_ingest" -> { dir =>
        import spark.implicits._
        implicit val sqlCtx = spark.sqlContext
        val docs = graft.sources.Tables.documents(spark, dir)
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.col("lang"),
            org.apache.spark.sql.functions.col("text"))
          .as[graft.streaming.EventStreams.CDoc].collect()
        // production arrival order: ids assigned at ingest time, so a
        // micro-batch is a contiguous id range. This is the workload
        // the bucketed snapshot layout is FOR — the adversarial
        // out-of-order splits live in StreamingSpec/CuratedIngestProbe
        // (correctness, any split), the bench measures the realistic
        // append stream. Range buckets sized from the id span (a
        // deployment knob: bucket ~= 1/64 of the corpus).
        val nBatches = 4
        val batches = docs.sortBy(_.doc_id)
          .grouped((docs.length + nBatches - 1) / nBatches).toSeq
        val width = math.max(1L, (docs.map(_.doc_id).max + 1) / 64)
        val snap = java.nio.file.Files
          .createTempDirectory("graft_bench_ingest")
          .resolve("snapshot").toString
        val input = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[graft.streaming.EventStreams.CDoc]
        val q = graft.streaming.EventStreams.curatedIngest(input.toDF(), snap,
          bucketer = graft.streaming.BucketStore.RangeBuckets("doc_id", width))
        try {
          batches.foreach { b =>
            input.addData(b.toSeq: _*)
            q.processAllAvailable()
          }
        } finally q.stop()
        docs.length.toLong
      })
    val writeRunnerMap = writeRunners.toMap
    val buildRunnerMap = SparkEntry.indexBuilds.map(b => b.name -> b.build).toMap
    // Warmup is INTERLEAVED per query (warm q at sf0.001, then time q at
    // the target SF), not a separate all-queries warmup pass: codegen
    // cache or not, the JVM's own JIT state for a query's generated
    // classes is freshest immediately after the warmup run, and an
    // up-front pass puts 122 other queries between warm and measure.
    val queryResults = registry.toSeq.sortBy(_._1).map { case (name, fn) =>
      warmDir.foreach { wd =>
        try {
          fn(spark, wd).write.format("noop").mode("overwrite").save()
          Cleanup.dropPersisted(spark)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
        }
      }
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      Cleanup.fullRelease(spark)
      name -> dt
    }
    // write paths: same interleaved warm-then-measure discipline; the
    // returned row count turns the archived seconds into rows/s on
    // stderr (the sf-independent number a sink regression moves)
    val phaseEntries = List.newBuilder[(String, Double)]
    val writeResults = (if (only.isEmpty) writeRunners
      else writeRunners.filter(w => only.exists(_.contains(w._1))))
      .map { case (name, run) =>
        warmDir.foreach { wd =>
          try { run(wd); Cleanup.dropPersisted(spark) }
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
          }
        }
        phaseSeconds.clear() // drop the warmup's phase deposits
        val t0 = System.nanoTime()
        val rows =
          try run(sfDir)
          catch { case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1L
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // a failed arm's partial phase windows must not become entries
        if (rows >= 0) phaseEntries ++= phaseSeconds
        phaseSeconds.clear()
        Cleanup.fullRelease(spark)
        if (rows >= 0)
          System.err.println(
            f"[bench] $name: $rows rows in $dt%.2f s = ${rows / dt}%.0f rows/s")
        name -> dt
      }
    // buildResults already excludes non-requested builds under `only`
    val results = buildResults ++ queryResults ++ writeResults ++
      phaseEntries.result()
    // Locale-pinned: the f-interpolator uses the default JVM locale, which
    // on a comma-decimal locale (de_DE) would emit "1,234" and break the
    // driver's JSON parse.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // The driver keeps only a ~2000-char tail of this process's output and
    // parses the JSON line out of THAT (rounds 1-3 all came back
    // "parsed": null because the full 100-query map at full float precision
    // was ~4 KB — the line's head fell off the tail window). So: the
    // parseable line carries the total plus a fixed HEADLINE subset at 3
    // decimals (kept well under 1.5 KB), and the full per-query map goes to
    // stderr for humans.
    // Cross-round comparisons use the intersection of headline sets, so
    // ADDING queries is safe. Round-7 additions: rank_corr, ann_topk,
    // semantic_dedup (heavy non-headline queries whose official timings
    // were invisible before the full-registry gate existed) and the
    // PCA family (pca_top_component, abtt_debias, pca_components) so
    // archives carry its serving costs. Round-11: q21 and q9 — the two
    // TPC-H members whose round-10 story (a phantom q21 regression the
    // archive could not disambiguate) motivated the BASELINE.md gate.
    val headline = Seq(
      "q1_pricing", "q3_shipping_priority", "q5_local_volume",
      "q8_market_share", "q18_large_orders", "inverted_index",
      "dedup_minhash_lsh", "dedup_clusters", "simhash_pairs",
      "cosine_topk", "pq_topk", "ivf_topk", "tfidf_top_term",
      "sessionize", "rolling_7d_qty", "stats_lineitem", "percentiles",
      "curated_corpus", "decontaminate", "window_top_orders",
      "upsert_snapshot", "top_words", "rank_corr", "ann_topk",
      // round-18: pca_top_component/abtt_debias/pca_components retired
      // from the PARSEABLE LINE only (still measured, archived to
      // stderr detail and the run log, still gate-watched) — the
      // driver keeps a ~2000-char output tail and the line was 165
      // chars from the cliff; the freed bytes fund the ingest PHASE
      // entries and quality_classifier below
      "semantic_dedup", "q21_waiting_suppliers", "q9_profit",
      // round-12: the two write paths, timed for the first time
      "write_letter_sink", "write_curated_ingest",
      // round-15: per-artifact index builds, each floored and
      // gate-watched (previously one untimed index_build_sec lump),
      // plus the round's two new flagship queries
      "build_ivf_c16_i2", "build_ivf_c16_i0", "build_ivf_auto_i0",
      "build_pq_codebook", "build_pca_fit", "build_unigram_vocabs",
      "build_suffix_index", "suffix_ranks_incremental", "media_wav",
      // round-16: incremental IVF/PQ maintenance (the delta-bounded
      // counterparts to the full index builds) and the second container
      // codec
      "build_ivf_incremental", "ivf_incremental_topk", "media_bmp",
      "build_pq_incremental", "pq_incremental_topk",
      // round-17: the two new incremental maintainers
      // (PCA warm-start, unigram vocab)
      "build_pca_incremental", "pca_incremental",
      "build_unigram_incremental", "unigram_incremental",
      // round-17: the two entropy-coded codecs (zlib inflate + CRC
      // walk; variable-width LZW + sub-block reassembly + interlace)
      "media_png", "media_gif",
      // round-18: the ingest→maintenance pairs now report by PHASE —
      // the whole-arm entries (ingest_maintained_query & co) folded
      // ~equal ingest cost over a 4-58x first-query win and read as
      // 1.2x; they remain measured + run-log-floored + gate-watched,
      // but the parseable line carries the phases the wiring exists
      // to shrink
      "ingest_phase_maintained", "ingest_phase_rebuild",
      "first_query_maintained", "first_query_rebuild",
      "vec_first_query_maintained", "vec_first_query_rebuild",
      // round-18: the learned curation stage (hashed-bigram logistic
      // GD — two full training passes inside the measured window)
      "quality_classifier")
    val byName = results.toMap
    // a renamed/removed registry entry silently shrinking the headline map
    // would go unnoticed — surface it
    val missing = headline.filterNot(byName.contains)
    if (missing.nonEmpty)
      System.err.println(s"[bench] headline queries missing from registry: ${missing.mkString(", ")}")
    // Baseline precedence: BASELINE.md's committed quiet-host medians
    // beat the rolling archive's minima (the archive absorbs whatever
    // the host did that day — r10's held a 38.6 s rank_corr that was
    // 2.4 s on rerun); queries not yet in the file (added since the
    // baseline was cut) fall back to archive/run-log floors.
    val fromFile = Bench.fileBaseline(new java.io.File("."), sfDir)
    if (fromFile.nonEmpty)
      System.err.println(
        s"[bench] baseline = BASELINE.md medians (${fromFile.size} queries)" +
          " + archive floors for the rest")
    val prev = Bench.regressionBaseline(new java.io.File("."), sfDir) ++ fromFile
    // The gate watches EVERY query with an archived baseline, not just
    // the headline subset — this run's two worst outliers (rank_corr,
    // ann_topk at ~20 s each under host contention) are non-headline
    // and previously dodged the rerun machinery entirely. Flag order =
    // registry order (deterministic).
    val flagged = selectFlagged(results, failed.toSet, prev)
    // A flagged query is immediately re-run TWICE (still warm — its own
    // sf0.001 warmup and first timed run just happened), and the
    // ARCHIVED per-query value becomes the median of the three runs: a
    // genuine code regression reproduces on both reruns and the median
    // reports it undiminished, while a one-off host stall (the r10
    // story: rank_corr 38.6 s official, 2.4 s rerun — and this round's
    // reproduction showed the same stall recurring on an arbitrary
    // LATER run, so it is not a first-run-only effect) is outvoted by
    // the two steady runs. Un-flagged queries keep their single
    // measurement — the extra runs are spent only where the gate saw
    // something, so the suite's wall clock grows by seconds, not
    // minutes. Only queries whose FASTEST run still trips the gate are
    // reported as regressions; the rerun triples go out in-band either
    // way so the record shows what happened.
    val reruns: Map[String, List[Double]] = flagged.map { k =>
      k -> List.fill(2) {
        phaseSeconds.clear()
        val t0 = System.nanoTime()
        val ok =
          try {
            buildRunnerMap.get(k) match {
              case Some(build) => build(spark, sfDir)
              case None =>
                writeRunnerMap.get(k)
                  // a flagged PHASE entry reruns its parent arm — the
                  // phase is a window inside that pipeline, and the
                  // refreshed window is read back below
                  .orElse(phaseParent.get(k).flatMap(writeRunnerMap.get))
                match {
                  case Some(run) => run(sfDir)
                  case None => SparkEntry.queries(k)(spark, sfDir)
                    .write.format("noop").mode("overwrite").save()
                }
            }
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] rerun $k failed: ${e.getMessage}")
            false
          }
        val wall = (System.nanoTime() - t0) / 1e9
        val dt = phaseSeconds.getOrElse(k, wall)
        Cleanup.fullRelease(spark)
        // a FAILED rerun must not feed the gate or the median: its
        // time-to-exception would misclassify a genuine regression as
        // noise. -1 is the archived sentinel.
        if (ok) dt else -1.0
      }
    }.toMap
    val archived: Map[String, Double] = byName.map { case (k, v) =>
      k -> archivedValue(v, reruns.getOrElse(k, Nil))
    }
    val regressions = flagged.filter { k =>
      val best = (byName(k) :: reruns(k).filter(_ > 0)).min
      overGate(best, prev(k))
    }
    flagged.foreach { k =>
      val tag = if (regressions.contains(k)) "REGRESSION" else "noise (reruns cleared gate)"
      System.err.println(
        f"[bench] $tag $k: baseline ${prev(k)}%.2fs -> ${byName(k)}%.2fs, " +
          s"reruns ${reruns(k).map(t => f"$t%.2fs").mkString(" ")}, " +
          f"archived ${archived(k)}%.2fs")
    }
    val qs = headline.filter(archived.contains)
      .map(k => "\"" + k + "\":" + fmt(archived(k)))
      .mkString("{", ",", "}")
    // failed is capped in-band like regressions/reruns: a mass failure
    // (corrupt table -> dozens of names) must not push the parseable
    // line past the driver's ~2000-char output-tail window — the
    // rounds-1-3 "parsed": null failure mode. "failed_n" carries the
    // true count; the full list is on stderr per query already.
    val errs = failed.take(12).map("\"" + _ + "\"").mkString("[", ",", "]")
    // confirmed regressions in-band, capped like reruns (worst first by
    // inflation); "regressions_n" below carries the true count
    val regs = regressions
      .sortBy(k => -(byName(k) / math.max(prev(k), 1e-9)))
      .take(15)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // [first_run, rerun1, rerun2] per flagged query — the evidence
    // separating code regressions from environment noise. The in-band
    // copy is capped to the worst 12 by inflation ratio (the
    // full-registry gate can flag dozens under host contention, and
    // the driver's output tail window caps the parseable line at
    // ~1.5 KB); the complete set always goes to stderr above.
    val rrWorst = flagged
      .sortBy(k => -(byName(k) / math.max(prev(k), 1e-9)))
      .take(12)
    val rr = rrWorst.map(k =>
        "\"" + k + "\":[" +
          (byName(k) :: reruns(k)).map(fmt).mkString(",") + "]")
      .mkString("{", ",", "}")
    // the archived total is the sum of archived per-query values —
    // steady-state suite cost, directly comparable to BASELINE.md's
    // sum-of-medians; the first-run wall-clock sum goes alongside as
    // total_first_run so the raw record is never lost
    val total = archived.values.sum
    val totalFirst = results.map(_._2).sum
    val detail = archived.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    System.err.println(s"""[bench-detail] {"total":${fmt(total)},"queries":$detail}""")
    // Full-registry runs feed the rolling run log that gives the gate
    // baselines beyond the headline subset. Subset (SPARK_GRAFT_ONLY)
    // runs are excluded: isolated queries run systematically faster
    // than in-suite and would set floors a healthy full run can't
    // meet. Failed queries' time-to-exception is not a baseline.
    if (only.isEmpty) {
      try appendRunLog(new java.io.File("."), sfDir,
        archived.view.filterKeys(k => !failed.contains(k)).toMap)
      catch { case e: Throwable =>
        System.err.println(s"[bench] run-log append failed: ${e.getMessage}")
      }
    }
    // a failed query makes the total meaningless — surface it in-band,
    // not just on stderr
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_first_run":${fmt(totalFirst)},"n_queries":${results.size},"queries":$qs,"index_build_sec":${fmt(indexBuildSec)},"failed":$errs,"failed_n":${failed.size},"regressions":$regs,"regressions_n":${regressions.size},"flagged_n":${flagged.size},"reruns":$rr,"sf":"$sfDir"}""")
    spark.stop()
  }
}
