package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer counters, filled by listeners registered from outside
  * the program. All times are milliseconds unless the name says ns. */
final class OpAcc {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spillMem, spillDisk, peakExecMem = 0L
  var recordsRead = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges, smj, bhj, aqeReplans = 0L
  /** (start, end, description) of each job. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long, String)]
  /** stage id -> task durations */
  val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
}

final case class Span(id: String, name: String, start: Long, end: Long,
    parent: String, op: Int)

/** The traced run's instruments: a SparkListener (jobs, stages, tasks,
  * AQE re-plans), a QueryExecutionListener (planning phases, executed
  * plan census) and a StreamingQueryListener (micro-batch durations).
  * Everything stays in memory; spans are written once at exit.
  *
  * Attribution: the harness sets `op` before an op and calls
  * [[settle]] after it, which drains the listener bus so every event
  * of the op is delivered while `op` still names it. The listeners are
  * attached only for traced ops; control ops run with none.
  */
final class Trace(spark: SparkSession) {
  @volatile var op: Int = -1
  val ops = mutable.LinkedHashMap.empty[Int, OpAcc]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** durationMs maps of micro-batches that carried input rows */
  val progress = mutable.ArrayBuffer.empty[Map[String, Long]]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String, Int)]
  private var qeSeq = 0

  private def acc: Option[OpAcc] =
    if (op < 0) None else Some(ops.getOrElseUpdate(op, new OpAcc))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      acc.foreach { a =>
        a.jobs += 1
        a.stages += e.stageInfos.size
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobStart(e.jobId) = (e.time, desc, op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, desc, o) =>
        ops.get(o).foreach(_.jobSpans += ((t0, e.time, desc)))
        spans += Span(s"job${e.jobId}", if (desc.isEmpty) "job" else desc,
          t0, e.time, s"op$o", o)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (a <- acc; m <- Option(e.taskMetrics)) {
        a.tasks += 1
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spillMem += m.memoryBytesSpilled
        a.spillDisk += m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
        a.recordsRead += m.inputMetrics.recordsRead
        a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        Trace.this.synchronized(acc.foreach(_.aqeReplans += 1))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Trace.this.synchronized {
      acc.foreach { a =>
        qeSeq += 1
        qe.tracker.phases.foreach { case (phase, s) =>
          phase match {
            case "analysis" => a.analysisMs += s.durationMs
            case "optimization" => a.optimizationMs += s.durationMs
            case "planning" => a.planningMs += s.durationMs
            case _ =>
          }
          spans += Span(s"qe$qeSeq.$phase", s"$funcName:$phase",
            s.startTimeMs, s.endTimeMs, s"op$op", op)
        }
        census(qe.executedPlan, a)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (op >= 0 && e.progress.numInputRows > 0) Trace.this.synchronized {
        import scala.jdk.CollectionConverters._
        progress += e.progress.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap
      }
  }

  private def census(plan: SparkPlan, a: OpAcc): Unit = plan match {
    case p: AdaptiveSparkPlanExec => census(p.executedPlan, a)
    case s: QueryStageExec => census(s.plan, a)
    case p =>
      p match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => a.exchanges += 1
        case _: SortMergeJoinExec => a.smj += 1
        case _: BroadcastHashJoinExec => a.bhj += 1
        case _ =>
      }
      p.children.foreach(census(_, a))
      p.subqueries.foreach(census(_, a))
  }

  private var attached = false

  /** Registers the listeners (idempotent). */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Removes the listeners (idempotent), so the next ops run untraced. */
  def detach(): Unit = if (attached) {
    settle()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Deliver every pending listener event (outside any timed op). */
  def settle(): Unit = org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)

  /** Marks the start of op `id`; later events are attributed to it. */
  def begin(id: Int): Unit = {
    synchronized(ops.getOrElseUpdate(id, new OpAcc))
    op = id
  }

  /** Closes op `id` after its timed body: drains the bus, records the
    * op span. */
  def end(id: Int, name: String, startMs: Long, endMs: Long): Unit = {
    settle()
    synchronized(spans += Span(s"op$id", name, startMs, endMs, null, id))
    op = -1
  }

  /** A span the harness timed itself, under op `parentOp` (or none). */
  def span(name: String, startMs: Long, endMs: Long, parentOp: Int = -1): Unit =
    synchronized {
      spans += Span(s"h${spans.size}", name, startMs, endMs,
        if (parentOp < 0) null else s"op$parentOp", parentOp)
    }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = synchronized(spans.toList).map { s =>
      Json(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent, "op" -> s.op))
    }
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
