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
    * is set here for every entry point. It stays finite because nothing
    * else bounds it: the cache is keyed by (thread context classloader,
    * code), so a source compiles once per classloader that runs it, and
    * adaptive execution can renumber a whole-stage class's stage id, which
    * is part of its source; a long-lived JVM keeps adding such entries.
    */
  val CodegenCacheEntries = 8192

  /** Value of `spark.sql.artifact.isolation.enabled`: off. Spark 4 turns
    * it on by default, which tags every job with its session's UUID
    * (`JobArtifactState`); the executor then builds a fresh
    * `MutableURLClassLoader` per new UUID (`isolatedSessionCache`) and
    * runs the session's tasks with it as their context classloader. The
    * generated-code cache is keyed by that classloader, so every child
    * session from `newSession()` — each streaming row's
    * `Streams.rowSession`, io05's bucketing session — compiled all of
    * its task-side classes again on every run. The engine adds no jar or
    * artifact to any session, so the isolation buys it nothing. Measured
    * at sf0.01 on 4 cores, one JVM, warm runs: st01, st12 and io05
    * compiled 13, 25 and 20 classes per run, now 0; one warm pass over
    * the 49 sink and streaming rows compiled about 485 classes, now 0 to
    * 6. A session reads it once, when it is created; child sessions take
    * it from the SparkContext conf, where the builder puts it, so it is
    * set here.
    */
  val ArtifactIsolation = false

  /** `spark.hadoop.fs.file.impl` and
    * `spark.hadoop.fs.AbstractFileSystem.file.impl`: every `file:` path,
    * through Hadoop's `FileSystem` API (sinks, the output committer,
    * `Path.getFileSystem`) and its `FileContext` API (stream offset,
    * commit and source logs, HDFS-backed state stores), resolves to the
    * classes in `LocalFs.scala`. Without `libhadoop.so`, stock
    * `RawLocalFileSystem` starts a `chmod` for each file or directory it
    * creates with a permission and a `readlink` for each link status,
    * which `FileContext.rename` reads for every checkpoint, `.crc` and
    * state-store delta file it moves into place;
    * [[ForkFreeRawLocalFileSystem]] does both in the JVM. A mode with the
    * sticky bit, which NIO cannot set, and a path that is a symbolic link
    * (the landing links of `Streams.symlinkSource`) still take Hadoop's
    * own code, so Hadoop's answer for them stays its own. Measured at
    * sf0.01 on 4 cores by `tools/fork_count.py`: one pass over the 49
    * sink and streaming rows started 3,960 `readlink` and 2,288 `chmod`
    * processes, now none, and its warm reps' summed build time fell from
    * 37.3 to 25.4 s; a 35 s perfbench `sink_stream` run started 3,105,
    * and a `report_refresh` run 144 (all in setup), now none. Hadoop
    * reads both settings when it first makes a `file:` filesystem, from
    * the SparkContext's Hadoop conf, which every child session shares,
    * so they are set here.
    */
  val HadoopLocalFs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

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
      .config("spark.sql.artifact.isolation.enabled", ArtifactIsolation.toString)
      .config("spark.ui.enabled", "false")
      .config(HadoopLocalFs)
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
