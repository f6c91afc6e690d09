package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** Per-row diagnostic for named registry rows. Each rep runs three timed
  * steps — build (`Query.fn`, including any eager jobs it runs), plan
  * (`executedPlan`: analysis, optimization, physical planning) and exec
  * (a noop write of the same Dataset) — and prints:
  *  - `[split]` build / plan / exec seconds;
  *  - `[count]` Exchange, Expand, SortAggregate and scan nodes of the
  *    pre-execution plan (the form `plan_exchanges.golden` counts), plus
  *    its held inputs: `pinned` (Materialize.pin's checkpoint scans) and
  *    `local` (Materialize.small's LocalTableScans);
  *  - the slowest stages: wall time, tasks, input, shuffle read/write
  *    bytes and records, spill;
  *  - on the first rep, the final adaptive plan of the exec step (its
  *    string carries both the "Final Plan" and "Initial Plan" trees).
  *
  *   sbt "runMain graft.RowProfile <name>[,<name>...] [reps]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1); the core count is
  * `Sessions.local`'s default.
  */
object RowProfile {

  private final case class Stage(id: Int, name: String, ms: Long, tasks: Int,
                         inMb: Double, srMb: Double, swMb: Double,
                         srRec: Long, swRec: Long, spillMb: Double)

  private def count(plan: String, regex: String): Int =
    regex.r.findAllIn(plan).size

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RowProfile <name>[,<name>...] [reps]")
    // default: the sf0.1 tables beside the registry's sf0.001 smoke slice
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      java.nio.file.Paths.get(PlanGolden.sfDir).resolveSibling("sf0.1").toString)
    val byName = SparkEntry.packs.map(q => q.name -> q).toMap
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach(n => require(byName.contains(n), s"no such query: $n"))
    val reps = if (args.length > 1) args(1).toInt else 1
    val spark = graft.core.Sessions.local(appName = "graft-row-profile")
    spark.sparkContext.setLogLevel("ERROR")

    val stages = ArrayBuffer.empty[Stage]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val ms = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        stages.synchronized {
          stages += Stage(si.stageId, si.name.takeWhile(_ != '\n').take(60), ms,
            si.numTasks, m.inputMetrics.bytesRead / 1e6,
            (m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead) / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.recordsWritten,
            (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        }
      }
    })
    // the exec step's QueryExecution: the noop write plans its own copy
    // of the Dataset, so the finished adaptive plan lives there
    @volatile var lastWrite: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastWrite = qe
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    def drain(): Unit =
      org.apache.spark.GraftListenerShim.waitUntilListenerBusEmpty(spark.sparkContext, 10000)

    // untimed warmup (JIT, codegen cache, parquet footers), as Bench does
    graft.core.Tables.lineitem(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    drain()

    for (n <- names; r <- 0 until reps) {
      stages.synchronized(stages.clear())
      lastWrite = null
      val t0 = System.nanoTime()
      val df = byName(n).fn(spark, sfDir)
      val t1 = System.nanoTime()
      val plan = df.queryExecution.executedPlan.toString
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      drain()
      graft.core.Sessions.clearCaches(spark)

      println(f"%n== $n rep$r")
      println(f"[split] build=${(t1 - t0) / 1e9}%.2f plan=${(t2 - t1) / 1e9}%.2f exec=${(t3 - t2) / 1e9}%.2f")
      println(s"[count] exchange=${count(plan, "Exchange")} expand=${count(plan, "Expand")} " +
        s"sortAgg=${count(plan, "SortAggregate")} scans=${count(plan, "FileScan|BatchScan|Scan parquet")} " +
        s"pinned=${count(plan, "Scan ExistingRDD")} local=${count(plan, "LocalTableScan")}")
      val (top, sumMs, nStages) = stages.synchronized(
        (stages.sortBy(-_.ms).take(18).toList, stages.map(_.ms).sum, stages.size))
      println(s"[stages] n=$nStages stage-ms sum=$sumMs (build's eager jobs included)")
      top.foreach { s =>
        println(f"  [${s.id}%4d] ${s.ms}%6dms t=${s.tasks}%3d in=${s.inMb}%8.1fMB sr=${s.srMb}%8.2fMB(${s.srRec}%9d) sw=${s.swMb}%8.2fMB(${s.swRec}%9d) spill=${s.spillMb}%6.1fMB ${s.name}")
      }
      if (r == 0) {
        println("[final plan]")
        println(Option(lastWrite).map(_.executedPlan.toString).getOrElse(plan))
      }
    }
    spark.stop()
  }
}
