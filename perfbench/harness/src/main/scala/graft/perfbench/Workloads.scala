package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.{Cleanup, SparkEntry}
import graft.functions.TextOps
import graft.operators.{InvertedIndex, Ivf, Pipeline}
import graft.sources.{LetterSink, Tables, TextCorpus}
import graft.streaming.{BucketStore, EventStreams}

/** What every workload shares: the session, the generated inputs, a
  * scratch directory inside the run's work directory, and the seed. */
final case class Ctx(spark: SparkSession, data: Path, work: Path, seed: Long)

/** One timed operation as the window loop saw it. */
final case class OpRec(id: Int, name: String, phase: String,
    seconds: Double, error: Option[String]) {
  var ok: Boolean = error.isEmpty
}

/** A closed-loop workload: rounds of ops, each op a call into graft's
  * public functions. `check` runs after every timed window and marks
  * ops whose output was wrong. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Loads and builds charged to setup_s (warm-up rounds come after). */
  def setup(): Unit = ()
  /** Warm-up runs whole rounds, at least one, until this much time has
    * passed. */
  def warmupSeconds: Double
  /** A workload whose later rounds do more work than its earlier ones
    * fixes its warm-up and timed window by round count instead, so every
    * run times the same rounds however fast they go. */
  def warmupRounds: Option[Int] = None
  def windowRounds: Option[Int] = None
  /** The ops of round `r`; each receives its op id. */
  def round(r: Int): Seq[(String, Int => Unit)]
  /** Whether round `r` has input left (bounded streams). */
  def hasRound(r: Int): Boolean = true
  /** Untimed bookkeeping after op `id` (still inside the window). */
  def afterOp(id: Int, name: String): Unit = ()
  /** Marks wrong outputs among `ops` (ok = false). */
  def check(ops: Seq[OpRec]): Unit
  /** Bytes the op's sink left on disk per byte of input text. */
  def writeBytesPerInputByte(ops: Seq[OpRec]): Double = 0.0
  /** Layer timings taken by prefix calls, traced runs only. */
  def prefixLayers(trace: Trace, nextId: () => Int): Map[String, Double] = Map.empty
  /** Notes for the result record (generated sizes, check details). */
  val notes = mutable.LinkedHashMap.empty[String, Any]
  /** Whether a traced window may end once its time is up. */
  def tracedWindowDone(trace: Trace, ops: Seq[OpRec]): Boolean = true
  def close(): Unit = ()

  /** Median of `reps` timings of `body`, each recorded as a span. */
  protected def timeMedian(trace: Trace, name: String, reps: Int)(
      body: => Unit): Double = {
    val ts = (0 until reps).map { _ =>
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      trace.span(s"prefix:$name", m0, System.currentTimeMillis())
      Cleanup.dropPersisted(spark)
      dt
    }
    Stats.median(ts)
  }

  protected def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  def dirBytes(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally st.close()
    }
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists)
    finally st.close()
  }
}

/** The paper's flagship, exactly `graft.Cli`'s path in-process:
  * manifest -> TextCorpus -> InvertedIndex -> LetterSink, each op into a
  * fresh directory. Checked byte-for-byte against [[LetterModel]]. */
final class LetterIndex(c: Ctx) extends Workload(c) {
  val manifest: String = ctx.data.resolve("manifest.txt").toString
  private val outRoot = ctx.work.resolve("letters")
  private def outDir(id: Int) = outRoot.resolve(f"op$id%05d")
  private val outBytes = mutable.HashMap.empty[Int, Long]
  private lazy val inputBytes: Long = {
    val lines = Files.readAllLines(Paths.get(manifest)).asScala
    lines.slice(1, lines.head.trim.toInt + 1)
      .map(p => Files.size(ctx.data.resolve(p.trim))).sum
  }
  val warmupSeconds = 20.0

  override def setup(): Unit = {
    val bad = LetterModel.selfTest(ctx.work.resolve("model-fixtures"))
    if (bad.nonEmpty)
      throw new IllegalStateException("letter model fixtures fail: " +
        bad.mkString("; "))
    notes("model_fixtures") = s"${LetterModel.fixtures.size} pass"
  }

  def round(r: Int): Seq[(String, Int => Unit)] = Seq("letter_index" -> { id =>
    LetterSink.write(InvertedIndex(TextCorpus.fromManifest(spark, manifest)),
      outDir(id).toString)
  })

  def check(ops: Seq[OpRec]): Unit = {
    val want = LetterModel.build(Paths.get(manifest))
    ops.filter(_.ok).foreach { o =>
      val dir = outDir(o.id)
      val files = Option(dir.toFile.list()).toSeq.flatten.filter(_.endsWith(".txt"))
      val same = files.size == 26 && ('a' to 'z').forall { ch =>
        val f = dir.resolve(s"$ch.txt")
        Files.exists(f) && java.util.Arrays.equals(Files.readAllBytes(f), want(ch))
      }
      outBytes(o.id) = ('a' to 'z').map(ch => dir.resolve(s"$ch.txt"))
        .filter(Files.exists(_)).map(Files.size).sum
      if (!same) o.ok = false
    }
    Stats.deleteTree(outRoot)
    notes("letter_output_bytes") = want.values.map(_.length.toLong).sum
  }

  override def writeBytesPerInputByte(ops: Seq[OpRec]): Double = {
    val b = ops.flatMap(o => outBytes.get(o.id))
    if (b.isEmpty) 0.0 else b.sum.toDouble / b.size / inputBytes
  }

  override def prefixLayers(trace: Trace, nextId: () => Int): Map[String, Double] = {
    val reps = 5
    def docs = TextCorpus.fromManifest(spark, manifest)
    val id = nextId()
    trace.begin(id)
    val t0 = System.currentTimeMillis()
    noop(docs)
    trace.end(id, "prefix:manifest_read", t0, System.currentTimeMillis())
    val filesRead = trace.ops(id).recordsRead
    val manifestS = timeMedian(trace, "manifest_read", reps)(noop(docs))
    val tokenS = timeMedian(trace, "tokenize", reps)(
      noop(TextOps.explodedWords(docs, col("doc_id"))))
    val indexS = timeMedian(trace, "inverted_index", reps)(noop(InvertedIndex(docs)))
    val sinkDir = ctx.work.resolve("prefix-sink").toString
    val fullS = timeMedian(trace, "letter_sink", reps)(
      LetterSink.write(InvertedIndex(docs), sinkDir))
    val sinkBytes = Stats.dirBytes(Paths.get(sinkDir)).values.sum
    Map(
      "sources.manifest_read_s" -> manifestS,
      "sources.files_read" -> filesRead.toDouble,
      "functions.tokenize_s" -> (tokenS - manifestS),
      "operators.inverted_index_s" -> (indexS - tokenS),
      "sources.letter_sink_s" -> (fullS - indexS),
      "sources.letter_sink_bytes" -> sinkBytes.toDouble)
  }
}

/** Registry queries over generated parquet, in a seeded order per round.
  * Each op collects the result; the first window result of each query
  * is exported for the DuckDB oracle and every other op of that query
  * must reproduce its digest. */
final class QueryMix(c: Ctx, val names: Seq[String],
    val tablesRead: Map[String, Seq[String]], val warmupSeconds: Double,
    buildIvf: Boolean = false) extends Workload(c) {
  private val dir = ctx.data.toString
  private val digests = mutable.HashMap.empty[Int, String]
  /** query -> its first result (rows, schema, digest): the one exported
    * for the oracle, which every later op must reproduce */
  private val first = mutable.HashMap.empty[String, (Array[Row], StructType, String)]
  private var last: (Array[Row], StructType) = _
  private val exportDir = ctx.work.resolve("export")
  private val auxDir = ctx.work.resolve("aux")

  /** The IVF index the ANN queries serve from is built here, so the
    * build is charged to setup_s: a deployment builds it once and
    * serves from the process cache. */
  override def setup(): Unit = if (buildIvf) {
    val t0 = System.nanoTime()
    Ivf.invalidateCentroids(dir, 16, 2)
    Ivf.cachedCentroids(spark, dir, 16, 2)
    notes("index.ivf_build_s") = (System.nanoTime() - t0) / 1e9
  }

  def round(r: Int): Seq[(String, Int => Unit)] =
    new Random(ctx.seed * 7919L + r).shuffle(names).map { q =>
      q -> { (_: Int) =>
        val df = SparkEntry.queries(q)(spark, dir)
        last = (df.collect(), df.schema)
      }
    }

  override def afterOp(id: Int, name: String): Unit = {
    if (last != null) {
      val d = Stats.sha256(last._1.map(_.toString).sorted.mkString("\n"))
      digests(id) = d
      first.getOrElseUpdate(name, (last._1, last._2, d))
      last = null
    }
  }

  def check(ops: Seq[OpRec]): Unit = {
    ops.foreach { o =>
      if (o.ok && !first.get(o.name).exists(f => digests.get(o.id).contains(f._3)))
        o.ok = false
    }
    first.foreach { case (q, (rows, schema, _)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(exportDir.resolve(q).toString)
    }
    // oracle SQL with the aux exports it reads redirected into this run
    val auxRe = (java.util.regex.Pattern.quote(SparkEntry.OracleAuxDir) +
      "/([A-Za-z0-9_]+)").r
    val sql = names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    sql.values.flatMap(s => auxRe.findAllMatchIn(s).map(_.group(1))).toSet
      .foreach { (name: String) =>
        SparkEntry.oracleAux(name)(spark, dir).coalesce(1)
          .write.mode("overwrite").parquet(auxDir.resolve(name).toString)
        Cleanup.dropPersisted(spark)
      }
    val rewritten = sql.map { case (q, s) =>
      q -> s.replace(SparkEntry.OracleAuxDir, auxDir.toString) }
    Files.writeString(ctx.work.resolve("oracle_sql.json"), Json(rewritten))
  }

  override def prefixLayers(trace: Trace, nextId: () => Int): Map[String, Double] = {
    val scan = tablesRead.values.flatten.toSeq.distinct.map { t =>
      t -> timeMedian(trace, s"table_scan:$t", 3)(noop(Tables.load(spark, dir, t)))
    }.toMap
    Map("sources.table_scan_s" ->
      Stats.median(names.map(q => tablesRead(q).map(scan).sum)))
  }
}

/** Documents arrive in id order through a MemoryStream into
  * EventStreams.curatedIngest (RangeBuckets). One op is an ingest step:
  * a micro-batch (addData -> processAllAvailable) followed by a read of
  * curatedSnapshot through the noop sink; both parts are timed. Warm-up
  * and the untraced window are fixed batch ranges; the traced window
  * runs on until posting compaction has fired twice. The
  * final snapshot must equal Pipeline.curatedCorpus over the ingested
  * docs. */
final class CuratedIngest(c: Ctx, batchDocs: Int, warmupBatches: Int,
    windowBatches: Int) extends Workload(c) {
  import EventStreams.CDoc
  // the store grows with every batch, so warm-up and window are fixed
  // batch ranges: [0, warmupBatches) and the windowBatches after it
  val warmupSeconds = 0.0
  override val warmupRounds = Some(warmupBatches)
  override val windowRounds = Some(windowBatches)
  private val store = ctx.work.resolve("store")
  private val path = store.resolve("snapshot").toString
  private val postings = Paths.get(path + "_postings")
  private var batches: Seq[Array[CDoc]] = _
  private var input: MemoryStream[CDoc] = _
  private var query: StreamingQuery = _
  private var consumed = 0
  private var lastFiles = Map.empty[String, Long]
  private var lastPartitions = 0
  /** op id -> (batch start ms, batch end ms, batch s, read s) */
  val parts = mutable.HashMap.empty[Int, (Long, Long, Double, Double)]
  /** op id -> (store bytes written, input text bytes) */
  private val written = mutable.HashMap.empty[Int, (Long, Long)]
  /** op ids whose batch folded the posting partitions */
  val compacted = mutable.LinkedHashSet.empty[Int]

  override def setup(): Unit = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, ctx.data.toString)
      .select(col("doc_id"), col("lang"), col("text")).as[CDoc]
      .collect().sortBy(_.doc_id)
    batches = docs.grouped(batchDocs).toSeq
    val width = math.max(1L, (docs.last.doc_id + 1) / 64)
    input = MemoryStream[CDoc]
    query = EventStreams.curatedIngest(input.toDF(), path,
      bucketer = BucketStore.RangeBuckets("doc_id", width))
    notes("ingest_batches_available") = batches.size
    notes("ingest_batch_docs") = batchDocs
  }

  override def hasRound(r: Int): Boolean = r < batches.size

  def round(r: Int): Seq[(String, Int => Unit)] = Seq("ingest_step" -> { id =>
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    input.addData(batches(r).toSeq)
    query.processAllAvailable()
    consumed = r + 1
    val t1 = System.nanoTime()
    val m1 = System.currentTimeMillis()
    noop(EventStreams.curatedSnapshot(spark, path))
    parts(id) = (m0, m1, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    written(id) = (0L,
      batches(r).map(_.text.getBytes("UTF-8").length.toLong).sum)
  })

  override def afterOp(id: Int, name: String): Unit = {
    val now = Stats.dirBytes(store)
    val bytes = now.collect { case (f, n) if !lastFiles.get(f).contains(n) => n }.sum
    lastFiles = now
    written.get(id).foreach { case (_, in) => written(id) = (bytes, in) }
    val committed = Option(postings.toFile.listFiles()).toSeq.flatten
      .count(d => d.getName.startsWith("batch=") &&
        new java.io.File(d, "_SUCCESS").exists())
    if (committed < lastPartitions) compacted += id
    lastPartitions = committed
  }

  def check(ops: Seq[OpRec]): Unit = if (consumed > 0) {
    val prefix = ctx.work.resolve("prefix")
    val maxId = batches(consumed - 1).last.doc_id
    Tables.documents(spark, ctx.data.toString).filter(col("doc_id") <= maxId)
      .write.mode("overwrite").parquet(prefix.resolve("documents.parquet").toString)
    val want = Pipeline.curatedCorpus(spark, prefix.toString).collect().toSeq
    val got = EventStreams.curatedSnapshot(spark, path).collect().toSeq
    notes("ingested_docs") = batches.take(consumed).map(_.length).sum
    notes("curated_rows") = got.size
    notes("compactions") = compacted.size
    if (want != got) {
      notes("check") = s"snapshot != curatedCorpus (${got.size} vs ${want.size} rows)"
      ops.foreach(_.ok = false)
    }
  }

  override def writeBytesPerInputByte(ops: Seq[OpRec]): Double = {
    val w = ops.flatMap(o => written.get(o.id))
    if (w.isEmpty) 0.0 else w.map(_._1).sum.toDouble / w.map(_._2).sum
  }

  def storeBytesPerBatch(ops: Seq[OpRec]): Double = {
    val w = ops.flatMap(o => written.get(o.id))
    if (w.isEmpty) 0.0 else w.map(_._1).sum.toDouble / w.size
  }

  /** The traced window runs until posting compaction (every 16th
    * committed batch) has fired twice in this run. */
  override def tracedWindowDone(trace: Trace, ops: Seq[OpRec]): Boolean =
    compacted.size >= 2

  override def close(): Unit = if (query != null) query.stop()
}
