package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Cleanup

/** Benchmark harness entry point; perfbench/run.py launches it after
  * generating the inputs and reads back the result file it writes.
  *
  *   --workload letter_index|relational_mix|llm_ops|curated_ingest
  *   --seed N --seconds S --trace 0|1 --cores N
  *   --data DIR (generated inputs) --work DIR (scratch) --result FILE
  *   --t0-ms EPOCH_MS (benchmark process start, for setup_s)
  *   --batch-docs N --warmup-batches N --window-batches N (curated_ingest
  *     micro-batch size, warm-up and timed batch counts)
  *   --deadline-ms EPOCH_MS (rounds end by then: a round starts only
  *     if one more round as long as the last still fits)
  *
  * A run is: setup (session, loads, index builds, warm-up rounds), then
  * one closed-loop window of `seconds` (or of the workload's fixed round
  * count). With --trace 1 the window's rounds alternate between traced
  * and untraced (control) rounds, and prefix timings follow. Output
  * checks run after the window.
  */
object Main {
  val Relational = Seq("q1_pricing", "q3_shipping_priority",
    "q5_local_volume", "q9_profit", "q18_large_orders",
    "q21_waiting_suppliers")
  val RelationalTables: Map[String, Seq[String]] = Map(
    "q1_pricing" -> Seq("lineitem"),
    "q3_shipping_priority" -> Seq("customer", "orders", "lineitem"),
    "q5_local_volume" -> Seq("customer", "orders", "lineitem", "supplier",
      "nation", "region"),
    "q9_profit" -> Seq("part", "supplier", "nation", "lineitem", "orders"),
    "q18_large_orders" -> Seq("lineitem", "orders", "customer"),
    "q21_waiting_suppliers" -> Seq("lineitem", "orders", "supplier", "nation"))
  val Llm = Seq("dedup_minhash_lsh", "dedup_clusters", "decontaminate",
    "tfidf_top_term", "simhash_pairs", "curated_corpus", "ivf_topk",
    "cosine_topk")
  val LlmTables: Map[String, Seq[String]] = Llm.map(q => q ->
    (if (q.endsWith("topk")) Seq("embeddings") else Seq("documents"))).toMap
  val PhaseLabels = Seq("tokenize-batch", "near-dup-probe",
    "fp-conflict-probe", "batch-dedup", "touched-buckets", "posting-write",
    "posting-compaction", "snapshot-commit")
  val ProgressKeys = Seq("addBatch", "queryPlanning", "walCommit",
    "latestOffset")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val cores = a("cores").toInt
    val work = Files.createDirectories(Paths.get(a("work")))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.graft.ingest.autosplit", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, a, cores, work) finally spark.stop()
    sys.exit(code)
  }

  private def run(spark: SparkSession, a: Map[String, String], cores: Int,
      work: Path): Int = {
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val ctx = Ctx(spark, Paths.get(a("data")), work, a("seed").toLong)
    val wl: Workload = a("workload") match {
      case "letter_index" => new LetterIndex(ctx)
      case "relational_mix" => new QueryMix(ctx, Relational, RelationalTables, 15.0)
      case "llm_ops" => new QueryMix(ctx, Llm, LlmTables, 0.0, buildIvf = true)
      case "curated_ingest" =>
        new CuratedIngest(ctx, a("batch-docs").toInt,
          a("warmup-batches").toInt, a("window-batches").toInt)
      case other =>
        System.err.println(s"unknown workload $other"); return 2
    }

    // rounds end by this point so checks and exit fit the run's limit
    val deadline = a.get("deadline-ms").map(_.toLong).getOrElse(Long.MaxValue)
    var nextId = 0
    var round = 0
    var lastRoundMs = 0L
    /** Closed loop, one client: whole rounds until `more` says stop.
      * `tracer(n)` gives the trace for the n-th round of the loop, if
      * that round is traced. */
    def loop(phase: Int => String, tracer: Int => Option[Trace])(
        more: (Int, Double, Seq[OpRec]) => Boolean): (Seq[OpRec], Double) = {
      val recs = mutable.ArrayBuffer.empty[OpRec]
      val start = System.nanoTime()
      val r0 = round
      while (wl.hasRound(round) &&
          System.currentTimeMillis() + lastRoundMs < deadline &&
          more(round - r0, (System.nanoTime() - start) / 1e9, recs.toSeq)) {
        val roundStart = System.currentTimeMillis()
        val trace = tracer(round - r0)
        wl.round(round).foreach { case (name, body) =>
          val id = nextId
          nextId += 1
          trace.foreach(_.begin(id))
          val t0 = System.currentTimeMillis()
          val n0 = System.nanoTime()
          val err = try { body(id); None }
            catch { case NonFatal(e) => Some(e.toString.take(500)) }
          val dt = (System.nanoTime() - n0) / 1e9
          trace.foreach(_.end(id, name, t0, System.currentTimeMillis()))
          recs += OpRec(id, name, phase(round - r0), dt, err)
          wl.afterOp(id, name)
          // graft's own bench hygiene between timed queries: drop
          // checkpoint blocks and GC, so one op's garbage and cleaner
          // work do not land in the next op
          Cleanup.fullRelease(spark)
        }
        lastRoundMs = System.currentTimeMillis() - roundStart
        round += 1
      }
      (recs.toSeq, (System.nanoTime() - start) / 1e9)
    }

    wl.setup()
    // a traced run reports no end-to-end numbers, so a round-counted
    // workload warms up with one round there and leaves the rest of the
    // run's time to the traced window
    val warmupRounds = wl.warmupRounds.map(k => if (traced) math.min(k, 1) else k)
    loop(_ => "warmup", _ => None)((n, el, _) =>
      warmupRounds.fold(n < 1 || el < wl.warmupSeconds)(n < _))
    val setupS = (System.currentTimeMillis() - a("t0-ms").toLong) / 1000.0

    val (ops, windowS, layers) = if (!traced) {
      val (ops, windowS) = loop(_ => "window", _ => None)((n, el, _) =>
        wl.windowRounds.fold(el < seconds)(n < _))
      (ops, windowS, Map.empty[String, Double])
    } else {
      // traced rounds alternate with untraced control rounds, so the
      // overhead ratio compares ops at the same point of the run
      val trace = new Trace(spark)
      val (ops, windowS) = loop(n => if (n % 2 == 0) "traced" else "control",
        n => if (n % 2 == 0) { trace.attach(); Some(trace) }
             else { trace.detach(); None })((n, el, done) =>
        n < 2 || el < seconds || !wl.tracedWindowDone(trace, done))
      trace.attach()
      val tracedOps = ops.filter(_.phase == "traced")
      wl match {
        case c: CuratedIngest => tracedOps.foreach { o =>
          c.parts.get(o.id).foreach { case (b0, b1, _, readS) =>
            trace.span("curatedIngest batch", b0, b1, o.id)
            trace.span("curatedSnapshot read", b1, b1 + (readS * 1000).toLong, o.id)
          }
        }
        case _ =>
      }
      val prefix = wl.prefixLayers(trace, () => { nextId += 1; nextId })
      trace.detach()
      trace.writeSpans(work.resolve("spans.jsonl"))
      (ops, windowS, layerMetrics(wl, trace, tracedOps,
        ops.filter(_.phase == "control"), cores) ++ prefix)
    }

    wl.check(ops)
    val writeRatio = wl.writeBytesPerInputByte(ops)
    wl.close()
    val result = Map(
      "setup_s" -> setupS,
      "window_s" -> windowS,
      "ops" -> ops.map(o => Map("id" -> o.id, "name" -> o.name,
        "phase" -> o.phase, "seconds" -> o.seconds, "ok" -> o.ok,
        "error" -> o.error)),
      "write_bytes_per_input_byte" -> writeRatio,
      "peak_rss_mb" -> peakRssMb(),
      "layers" -> layers,
      "notes" -> wl.notes,
      "fingerprint" -> Map(
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version))
    Files.writeString(Paths.get(a("result")), Json(result))
    0
  }

  /** VmHWM (peak resident set) of this JVM, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status")
    try line.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally line.close()
  }

  /** Per-layer metrics: listener counts from the traced ops, plain
    * timings from the untraced control ops. */
  private def layerMetrics(wl: Workload, trace: Trace, tracedOps: Seq[OpRec],
      control: Seq[OpRec], cores: Int): Map[String, Double] = trace.synchronized {
    val accs = tracedOps.flatMap(o => trace.ops.get(o.id))
    def mean(f: OpAcc => Double): Double =
      if (accs.isEmpty) 0.0 else accs.map(f).sum / accs.size
    def p50(ops: Seq[OpRec], name: String => Boolean): Double =
      Stats.median(ops.filter(o => o.ok && name(o.name)).map(_.seconds))
    val skews = for {
      acc <- accs; ts <- acc.stageTasks.values if ts.size >= 2
      med = Stats.median(ts.map(_.toDouble).toSeq) if med > 0
    } yield ts.max / med
    val ingest = wl match { case c: CuratedIngest => Some(c); case _ => None }
    val parts = ingest.map(_.parts).getOrElse(mutable.HashMap.empty)
    val batches = tracedOps.filter(o => parts.contains(o.id))
    def perBatch(label: String): Double = if (batches.isEmpty) 0.0 else
      batches.flatMap(o => trace.ops.get(o.id)).flatMap(_.jobSpans)
        .filter(_._3 == s"graft-ingest: $label")
        .map(s => (s._2 - s._1) / 1000.0).sum / batches.size
    // batch wall time not covered by any Spark job of the batch
    val gaps = batches.map { o =>
      val (b0, b1, batchS, _) = parts(o.id)
      val spans = trace.ops.get(o.id).toSeq.flatMap(_.jobSpans)
        .map { case (s, e, _) => (math.max(s, b0), math.min(e, b1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      spans.foreach { case (s, e) =>
        if (s > end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      batchS - covered / 1000.0
    }
    def partP50(ops: Seq[OpRec], f: ((Long, Long, Double, Double)) => Double) =
      Stats.median(ops.filter(o => o.ok && parts.contains(o.id)).map(o => f(parts(o.id))))
    val progress = trace.progress.toSeq
    val tracedP50 = p50(tracedOps, _ => true)
    val controlP50 = p50(control, _ => true)

    Map(
      "plans.analysis_s" -> mean(_.analysisMs / 1000.0),
      "plans.optimization_s" -> mean(_.optimizationMs / 1000.0),
      "plans.planning_s" -> mean(_.planningMs / 1000.0),
      "plans.exchanges" -> mean(_.exchanges.toDouble),
      "plans.smj" -> mean(_.smj.toDouble),
      "plans.bhj" -> mean(_.bhj.toDouble),
      "plans.aqe_replans" -> mean(_.aqeReplans.toDouble),
      "spark.jobs" -> mean(_.jobs.toDouble),
      "spark.stages" -> mean(_.stages.toDouble),
      "spark.tasks" -> mean(_.tasks.toDouble),
      "spark.task_run_s" -> mean(_.taskRunMs / 1000.0),
      "spark.task_cpu_s" -> mean(_.taskCpuNs / 1e9),
      "spark.gc_s" -> mean(_.gcMs / 1000.0),
      "spark.core_busy_ratio" -> (if (tracedOps.isEmpty) 0.0 else
        accs.map(_.taskRunMs).sum / 1000.0 /
          (tracedOps.map(_.seconds).sum * cores)),
      "spark.stage_skew_max" -> (if (skews.isEmpty) 0.0 else skews.max),
      "spark.shuffle_write_bytes" -> mean(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> mean(_.shuffleRead.toDouble),
      "spark.spill_memory_bytes" -> mean(_.spillMem.toDouble),
      "spark.spill_disk_bytes" -> mean(_.spillDisk.toDouble),
      "spark.peak_execution_memory_bytes" ->
        (if (accs.isEmpty) 0.0 else accs.map(_.peakExecMem).max.toDouble),
      "sources.manifest_read_s" -> 0.0,
      "sources.files_read" -> 0.0,
      "functions.tokenize_s" -> 0.0,
      "operators.inverted_index_s" -> 0.0,
      "sources.letter_sink_s" -> 0.0,
      "sources.letter_sink_bytes" -> 0.0,
      "sources.table_scan_s" -> 0.0,
      "index.ivf_build_s" -> (wl.notes.get("index.ivf_build_s") match {
        case Some(d: Double) => d; case _ => 0.0 }),
      "streaming.batch_s" -> partP50(control, _._3),
      "streaming.read_s" -> partP50(control, _._4),
      "streaming.driver_gap_s" -> (if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size),
      "streaming.store_bytes_written" ->
        ingest.map(_.storeBytesPerBatch(tracedOps)).getOrElse(0.0),
      "streaming.compactions" -> ingest.map(_.compacted.size.toDouble).getOrElse(0.0),
      "trace.overhead_ratio" ->
        (if (controlP50 > 0) tracedP50 / controlP50 else 0.0)) ++
    (Relational ++ Llm).map(q => s"operators.${q}_p50_s" -> p50(control, _ == q)) ++
    PhaseLabels.map(l => s"streaming.phase.${l}_s" -> perBatch(l)) ++
    ProgressKeys.map(k => s"streaming.${k}_ms" -> (if (progress.isEmpty) 0.0
      else progress.map(_.getOrElse(k, 0L).toDouble).sum / progress.size))
  }
}
