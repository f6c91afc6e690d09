package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one span: one row's build, plan, exec or cleanup.
  * Listener threads write, the main thread reads after draining the bus.
  */
final class Acc {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var inBytes, inRecords, outBytes, outRecords = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillDiskBytes = 0L
  var peakMemBytes = 0L
  var analysisMs, optimizationMs, planningMs, exchanges = 0L
  var batches, batchMs, stateRows = 0L

  def toMap: Map[String, Any] = synchronized(Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "delay_ms" -> delayMs, "in_bytes" -> inBytes, "in_records" -> inRecords,
    "out_bytes" -> outBytes, "out_records" -> outRecords,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "fetch_wait_ms" -> fetchWaitMs,
    "spill_disk_bytes" -> spillDiskBytes, "peak_mem_bytes" -> peakMemBytes,
    "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "exchanges" -> exchanges, "batches" -> batches, "batch_ms" -> batchMs,
    "state_rows" -> stateRows))
}

/** The span currently charged, plus the stage -> span map that keeps a
  * task charged to the span its stage was submitted in. `pass` sees every
  * task that ends during a traced pass, charged to a span or not, so the
  * share of executor time the spans account for can be checked.
  */
object Collector {
  @volatile var current: Acc = null
  @volatile var pass: Acc = null
  private val stageAcc = new ConcurrentHashMap[Int, Acc]()
  private val stateSeen = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  def reset(): Unit = { stageAcc.clear(); stateSeen.clear() }

  private[perfbench] def onStage(stageId: Int): Unit = {
    val a = current
    if (a != null) { stageAcc.put(stageId, a); a.synchronized(a.stages += 1) }
  }

  private[perfbench] def accFor(stageId: Int): Acc = {
    val a = stageAcc.get(stageId)
    if (a != null) a else current
  }

  /** State rows a stream's operators hold, charged once per new high. */
  private[perfbench] def stateDelta(runId: java.util.UUID, total: Long): Long = {
    val prev = Option(stateSeen.put(runId, total)).map(_.longValue).getOrElse(0L)
    math.max(0L, total - prev)
  }

  /** Exchanges in a physical plan, descending into adaptive query stages
    * and subqueries. A reused exchange is not counted twice.
    */
  def exchanges(p: SparkPlan): Long = {
    val own = p match { case _: Exchange => 1L; case _ => 0L }
    val next: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children ++ o.subqueries
    }
    own + next.map(exchanges).sum
  }
}

/** Task, stage and job counters, attached with `addSparkListener`. */
final class TaskListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val a = Collector.current
    if (a != null) a.synchronized(a.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Collector.onStage(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val all = Collector.pass
    if (all != null) all.synchronized { all.tasks += 1; all.runMs += m.executorRunTime }
    val a = Collector.accFor(e.stageId)
    if (a == null) return
    val i = e.taskInfo
    val gettingMs =
      if (i.gettingResultTime > 0) math.max(0L, i.finishTime - i.gettingResultTime)
      else 0L
    val delay = math.max(0L, i.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime - gettingMs)
    val sr = m.shuffleReadMetrics
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.delayMs += delay
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += sr.remoteBytesRead + sr.localBytesRead
      a.fetchWaitMs += sr.fetchWaitTime
      a.spillDiskBytes += m.diskBytesSpilled
      a.peakMemBytes = math.max(a.peakMemBytes, m.peakExecutionMemory)
    }
  }
}

/** Catalyst phase times and exchange counts of every query execution,
  * eager ones run while a DataFrame is built included. Registered through
  * `spark.sql.queryExecutionListeners`, so child sessions get one too.
  */
final class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val a = Collector.current
    if (a == null) return
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    val ex = try Collector.exchanges(qe.executedPlan) catch { case _: Throwable => 0L }
    a.synchronized {
      a.analysisMs += ms("analysis")
      a.optimizationMs += ms("optimization")
      a.planningMs += ms("planning")
      a.exchanges += ex
    }
  }
}

/** Micro-batch counters. Registered through
  * `spark.sql.streaming.streamingQueryListeners`, which reaches the child
  * sessions the streaming rows create.
  */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val a = Collector.current
    if (a == null) return
    val p = e.progress
    val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
    val state = Collector.stateDelta(p.runId,
      p.stateOperators.map(_.numRowsTotal).sum)
    a.synchronized { a.batches += 1; a.batchMs += ms; a.stateRows += state }
  }
}
