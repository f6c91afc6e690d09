package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one place a shared or looped intermediate is held. Each mode is
  * named by what the data is, and each fails differently when an
  * executor's blocks are lost:
  *  - [[small]]: a result bounded by a domain that does not grow with
  *    the data. Its rows move to the driver, so nothing can be lost.
  *  - [[pin]]: an eager local checkpoint. Its blocks live on executors
  *    and CANNOT be recomputed; a lost block fails every later read.
  *  - [[shared]]: a lazy MEMORY_AND_DISK persist; a lost block is
  *    recomputed from lineage.
  *
  * The rule: a site may use `small` only if its row count is the same at
  * sf0.01, sf0.1 and a x10 ScaleReplica copy (or a domain fixed by the
  * code or schema, not by the fixture's contents, bounds it and the
  * site's comment names that domain) AND converting it raises no count
  * in `plan_exchanges.golden`. Loop state, snapshots that must not
  * re-read an input overwritten later, and tables whose row count moves
  * with the data use `pin`.
  */
object Materialize {

  /** Ceiling on a `small` result: 100x the largest site measured (a48's
    * 5 segments x 200-row sample, 1,000 rows at every scale), so only a
    * misfiled data-sized site hits it. */
  val SmallRowLimit = 100000

  /** Collects `df` and returns the same rows and schema over a fresh
    * LocalRelation: exact stats (it can broadcast), fresh attribute ids
    * (a self-join analyzes), no executor blocks. One job, the collect. */
  def small(df: DataFrame): DataFrame = {
    val rows = df.collect()
    if (rows.length > SmallRowLimit) throw new IllegalStateException(
      s"Materialize.small: ${rows.length} rows > $SmallRowLimit; not domain-bounded, use pin")
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Eager local checkpoint: a flat LogicalRDD leaf (partitioning kept)
    * that cuts lineage. Its blocks cannot be recomputed if lost. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Lazy MEMORY_AND_DISK persist; lost blocks are recomputed. */
  def shared(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Frees the blocks behind a `pin` or `shared` frame now, instead of
    * when ContextCleaner and a GC notice the dropped reference. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => df.unpersist(blocking = false)
  }
}
