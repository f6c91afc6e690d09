package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory used by Verify/Bench/tests.
  *
  * Tuned for local[N] development but with settings that transfer to a
  * real cluster: AQE on (runtime re-plan, skew-join splitting, coalesced
  * shuffle partitions), shuffle partitions sized to the local core count
  * rather than the 200 default, UTC everywhere for oracle parity.
  */
object Sessions {

  /** Settings a 1000-executor / 100 TB deployment applies on top of the
    * shared baseline. Not used by local runs — documented and unit-read
    * so the production posture lives next to the dev one:
    *  - shuffle partitions sized for AQE to COALESCE DOWN from (AQE can
    *    split skew but only merges small partitions; start high);
    *  - 128m scan partitions keep a task's working set in executor
    *    memory with room for join build sides;
    *  - broadcast threshold bounded so geometry/dim broadcasts stay in
    *    the tens of MB (SURVEY §7.4.4);
    *  - shuffle compression + reuse on for wide exchanges.
    */
  val clusterDefaults: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "4096",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> (128L << 20).toString,
    "spark.sql.autoBroadcastJoinThreshold" -> (64L << 20).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.shuffle.compress" -> "true",
    "spark.sql.exchange.reuse" -> "true",
    // runtime bloom-filter pushdown prunes big-side shuffle rows on
    // selective joins — significant at fact-table scale
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true")

  // spark.local.dir stays on DISK, deliberately (measured, round 14):
  // pointing it at /dev/shm sped small-shuffle rows ~2x on this host's
  // ~290 MB/s virtual disk (w47 @100x 40.7 -> 23.5 s) but shuffle files
  // in a long JVM free only on GC, and WITHOUT SWAP tmpfs pages pin
  // RAM — beside a 100g heap the big ento chain thrashed kernel
  // reclaim instead of spilling (g3132 @100x 266 -> 1126 s). Slow disk
  // degrades linearly; RAM-pinned shuffle degrades cliff-shaped.
  // (TempDirs' shm scratch is different: sink outputs are small and
  // deleted eagerly.)

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // native graft expressions reachable from plain SQL
      .withExtensions(new graft.plans.GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cached table AND every persisted RDD. clearCache() only
    * covers CacheManager entries — localCheckpoint / bare-RDD persists
    * (e.g. iterative loops) need the explicit sweep, or their blocks
    * linger as GC pressure on every later query.
    */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
