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

  // spark.local.dir stays on DISK, deliberately (measured, round 14):
  // pointing it at /dev/shm sped small-shuffle rows ~2x on this host's
  // ~290 MB/s virtual disk (w47 @100x 40.7 -> 23.5 s) but shuffle files
  // in a long JVM free only on GC, and WITHOUT SWAP tmpfs pages pin
  // RAM — beside a 100g heap the big ento chain thrashed kernel
  // reclaim instead of spilling (g3132 @100x 266 -> 1126 s). Slow disk
  // degrades linearly; RAM-pinned shuffle degrades cliff-shaped.
  // (TempDirs' shm scratch is different: sink outputs are small and
  // deleted eagerly.)

  /** Capacity of Spark's generated-code cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100), sized from
    * measurement at sf0.01 on 4 cores:
    *  - the 8 rows of perfbench's `report_refresh` compile about 160
    *    classes per pass, so at 100 every class was evicted before its
    *    next use: each warm pass ran 155 Janino compiles, after which the
    *    JIT warmed every new class from scratch (0 to 6 with this cap);
    *  - one cold pass over all 411 registry rows compiles 5,501 classes,
    *    which this cap holds whole: a second pass in the same JVM
    *    compiled 685 classes instead of 7,895, and took 148 s, not 213 s.
    * It is a static SQL conf, read once when the session is built, so it
    * is set here for every entry point. It stays finite: Spark keys the
    * cache by (thread context classloader, code), and the streaming rows
    * add entries on every run that are never reused.
    */
  val CodegenCacheEntries = 8192

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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
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
