package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts that Spark's own listeners report for one operation (a registry key
  * call or a pipeline step). Filled on the listener-bus thread while the
  * operation runs; read by the harness after the bus has drained. */
final class OpCounts {
  var jobs, stages, tasks = 0L
  var scanRows, scanBytes = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var peakExecMem = 0L
  var broadcasts = 0L
  val writes = mutable.ArrayBuffer.empty[(String, Double)] // (output path, seconds)
  val scannedPaths = mutable.Set.empty[String]
  val progress = mutable.ArrayBuffer.empty[StreamProgressRec]
}

final case class StreamProgressRec(queryId: String, batchMs: Long, commitMs: Long,
                                   inputRows: Long, stateRows: Long, stateMem: Long,
                                   lateDrops: Long)

/** A timed call into one layer, made while running operation `op` (its
  * "round/index" tag). */
final case class Span(op: String, name: String, startNs: Long, endNs: Long)

/** In-memory trace state. Tracing is off unless the run asks for it; the
  * listeners are only installed in a traced run, and even there they record
  * only while `tag` names the operation in progress. */
object Trace {
  @volatile var tag: String = null
  val counts = new ConcurrentHashMap[String, OpCounts]()
  val spans = mutable.ArrayBuffer.empty[Span]

  def current: OpCounts = {
    val t = tag
    if (t == null) null else counts.computeIfAbsent(t, _ => new OpCounts)
  }

  /** Time `body` as a span named `name` of operation `op`. */
  def span[A](op: String, name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally synchronized { spans += Span(op, name, t0, System.nanoTime()) }
  }

  /** Every node of an executed plan, through AQE wrappers, query stages,
    * reused exchanges and subqueries — the AQE-final plan once it ran. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case r: ReusedExchangeExec => r +: planNodes(r.child)
    case o => o +: (o.children.flatMap(planNodes) ++ o.subqueries.flatMap(planNodes))
  }
}

/** Scheduler-level counters: jobs, stages, tasks and the task metrics that
  * scans and exchanges update. */
class SchedulerListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = Trace.current
    if (c != null) c.synchronized(c.jobs += 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = Trace.current
    if (c != null) c.synchronized(c.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = Trace.current
    val m = e.taskMetrics
    if (c != null && m != null) c.synchronized {
      c.tasks += 1
      c.scanRows += m.inputMetrics.recordsRead
      c.scanBytes += m.inputMetrics.bytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** Plan-level counters from each finished query execution: broadcast
  * exchanges in the AQE-final plan, scanned file roots and file writes.
  * Registered through `spark.sql.queryExecutionListeners`, so sessions made
  * with `newSession()` report too. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = Trace.current
    if (c == null) return
    val nodes = try Trace.planNodes(qe.executedPlan) catch { case _: Throwable => Nil }
    val out = (qe.logical +: Option(qe.commandExecuted).toSeq).flatMap(_.collect {
      case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toString
    }).headOption
    c.synchronized {
      c.broadcasts += nodes.count(_.isInstanceOf[BroadcastExchangeExec])
      nodes.foreach {
        case s: FileSourceScanExec => c.scannedPaths ++= s.relation.location.rootPaths.map(_.toString)
        case _ =>
      }
      out.foreach(p => c.writes += ((p, durationNs / 1e9)))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Micro-batch progress of every streaming query. Registered through the
  * static conf `spark.sql.streaming.streamingQueryListeners`: replays run in
  * `spark.newSession()`, whose query manager a listener added to the parent
  * session's `spark.streams` never sees. */
class ProgressListener(conf: SparkConf) extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val c = Trace.current
    if (c == null) return
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val ops = p.stateOperators.toSeq
    val rec = StreamProgressRec(p.id.toString, d.getOrElse("triggerExecution", 0L),
      d.getOrElse("commitOffsets", 0L) + d.getOrElse("walCommit", 0L),
      p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numRowsDroppedByWatermark).sum)
    c.synchronized(c.progress += rec)
  }
}
