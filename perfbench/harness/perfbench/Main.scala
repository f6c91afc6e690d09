package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}

import graft.core.{Query, Sessions, Tables}

/** JVM side of the benchmark: runs one workload's registry rows back to
  * back, as a closed loop with one client, and writes a JSON run record.
  * `perfbench/run.py` builds this, starts it, checks the outputs against
  * the DuckDB oracle and turns the record into metrics.
  *
  * Every row is timed as four contiguous spans:
  *  - build: `Query.fn`, including any eager jobs it runs
  *  - plan: `df.queryExecution.executedPlan`
  *  - exec: `df.collect()`, which reuses the planned query execution
  *  - cleanup: the clearCache + unpersist sweep `graft.Bench` also does
  *
  * In a traced pass the listeners in Collector.scala are charged per
  * span, and the listener bus is drained at each span boundary.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, out: String,
                        cpus: String, launchEpochMs: Long)

  /** Passes that fill the JIT and file caches: checked, never timed.
    * `sink_stream` passes keep speeding up for longer (their CPU halves
    * over the first eight passes), so it gets two.
    */
  val WarmupPasses = Map("report_refresh" -> 1, "sink_stream" -> 2)
  /** Measurement seconds budgeted per timed pass, on 4 cores. A run
    * times `--seconds / PassS` passes, at least four, however long they
    * take: passes keep speeding up as the JIT compiles, so every run of
    * a commit must time the same ones.
    */
  val PassS = 5.0

  def timedPasses(seconds: Double): Int = math.max(4, (seconds / PassS).toInt)

  /** Workloads select rows by pack object, not by name prefix: every
    * `stride`-th row of each pack, starting with its first, so every pack
    * is sampled in proportion and a pass fits a short run.
    */
  def workloads: Map[String, Seq[Query]] = {
    import graft.queries._
    def every(stride: Int, packs: Seq[Query]*): Seq[Query] =
      packs.flatMap(_.zipWithIndex.collect { case (q, i) if i % stride == 0 => q })
    Map(
      "report_refresh" -> every(20, Cleaning.queries, Reporting.queries, Goals.queries,
        LabReports.queries, Keys.queries, Composite.queries, Ento.queries),
      "sink_stream" -> every(12, SinkQueries.queries, StreamingQueries.queries))
  }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("out"), kv("cpus"), kv("launch-epoch-ms").toLong)
  }

  private def readFile(p: String): String =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    catch { case _: Throwable => "" }

  /** Canonical text of a cell: byte arrays as hex and map entries sorted,
    * so equal results give equal text whatever the JVM identity or order.
    */
  private def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Order-insensitive digest of a result: row count plus two hash sums. */
  def digest(rows: Array[Row]): String = {
    var s1 = 0L
    var s2 = 0L
    rows.foreach { r =>
      val c = canon(r)
      s1 += scala.util.hashing.MurmurHash3.stringHash(c, 17).toLong
      s2 += scala.util.hashing.MurmurHash3.stringHash(c, 91).toLong * 0x9E3779B97F4A7C15L
    }
    s"${rows.length}:${java.lang.Long.toHexString(s1)}:${java.lang.Long.toHexString(s2)}"
  }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.toSeq.headOption)
      .getOrElse(e.getClass.getName).take(300)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val rows = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; known: ${workloads.keys.mkString(", ")}"))

    // set-up runs from process launch to the first timed row: the JVM,
    // the session and the warm-up passes
    def sinceLaunchS = (System.currentTimeMillis() - a.launchEpochMs) / 1e3
    val spark = Sessions.local(a.cpus, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = sinceLaunchS
    val warmups = WarmupPasses(a.workload)
    var setupS = 0.0
    var timedT0 = 0L
    val sc = spark.sparkContext
    if (a.trace) sc.addSparkListener(new TaskListener)
    def drain(): Unit = org.apache.spark.PerfBenchBus.drain(sc)

    val digests = scala.collection.mutable.Map.empty[String, String]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val runT0 = System.nanoTime()

    def runRow(q: Query, pass: Int, traced: Boolean, dump: Boolean): Map[String, Any] = {
      val accs = Array.fill(4)(new Acc)
      // a traced span owns the drain that closes it
      def enter(i: Int): Unit = if (traced) { drain(); Collector.current = accs(i) }
      var err: String = null
      var result: Array[Row] = null
      var df: DataFrame = null
      var persisted = 0
      var cachedBytes = 0L
      val t0 = System.nanoTime()
      var t1, t2, t3 = t0
      enter(0)
      try {
        df = q.fn(spark, a.data)
        if (traced) {
          persisted = sc.getPersistentRDDs.size
          cachedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        }
        enter(1); t1 = System.nanoTime()
        df.queryExecution.executedPlan
        enter(2); t2 = System.nanoTime()
        result = df.collect()
        enter(3); t3 = System.nanoTime()
      } catch { case e: Throwable =>
        err = firstLine(e)
        val t = System.nanoTime()
        if (t1 == t0) t1 = t
        if (t2 == t0) t2 = t
        t3 = t
        enter(3)
      }
      try {
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      } catch { case e: Throwable => if (err == null) err = "cleanup: " + firstLine(e) }
      if (traced) { drain(); Collector.current = null }
      val t4 = System.nanoTime()

      // untimed: compare with the run's first output and dump that one
      var dig: String = null
      if (result != null) {
        dig = digest(result)
        digests.get(q.name) match {
          case Some(d) if d != dig => err = s"output differs from the first pass: $dig vs $d"
          case Some(_) =>
          case None => digests(q.name) = dig
        }
        if (dump && err == null) {
          try spark.createDataFrame(java.util.Arrays.asList(result: _*), df.schema)
            .write.mode("overwrite").parquet(s"${a.out}/${q.name}")
          catch { case e: Throwable => err = "dump: " + firstLine(e) }
        }
      }
      val s = 1e-9
      Map("row" -> q.name, "pass" -> pass, "ok" -> (err == null), "error" -> err,
        "out_rows" -> (if (result == null) -1 else result.length), "digest" -> dig,
        "start_s" -> (t0 - runT0) * s, "wall_s" -> (t4 - t0) * s,
        "spans" -> Map("build" -> (t1 - t0) * s, "plan" -> (t2 - t1) * s,
          "exec" -> (t3 - t2) * s, "cleanup" -> (t4 - t3) * s)) ++
        (if (traced) Map("persisted_rdds" -> persisted, "cached_bytes" -> cachedBytes,
          "layers" -> Map("build" -> accs(0).toMap, "plan" -> accs(1).toMap,
            "exec" -> accs(2).toMap, "cleanup" -> accs(3).toMap))
        else Map.empty)
    }

    // closed loop with one client over a fixed number of passes
    val totalPasses = warmups + timedPasses(a.seconds)
    for (pass <- 0 until totalPasses) {
      if (pass == warmups) { setupS = sinceLaunchS; timedT0 = System.nanoTime() }
      // after the untraced warm-up passes a traced run alternates traced
      // and untraced passes, so the tracing overhead is measured in the
      // same JVM on the same data
      val traced = a.trace && pass >= warmups && (pass - warmups) % 2 == 0
      val order = new scala.util.Random(a.seed * 1000003L + pass).shuffle(rows)
      val loadMs = if (!traced) Nil else Tables.all.map { t =>
        val t0 = System.nanoTime()
        Tables.load(spark, a.data, t)
        (System.nanoTime() - t0) / 1e6
      }
      if (traced) { Collector.reset(); Collector.pass = new Acc }
      val host0 = readFile("/proc/stat")
      val stat0 = readFile("/proc/self/stat")
      val io0 = readFile("/proc/self/io")
      val p0 = System.nanoTime()
      val recs = order.map(q => runRow(q, pass, traced, dump = pass == 0))
      val p1 = System.nanoTime()
      val all = Collector.pass
      Collector.pass = null
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> (p1 - p0) / 1e9,
        "stat0" -> stat0, "stat1" -> readFile("/proc/self/stat"),
        "io0" -> io0, "io1" -> readFile("/proc/self/io"),
        "host0" -> host0, "host1" -> readFile("/proc/stat"),
        "tables_load_ms" -> loadMs, "rows" -> recs) ++
        (if (all == null) Map.empty else Map("all_tasks" -> all.toMap))
    }
    val measuredS = (System.nanoTime() - timedT0) / 1e9
    val kernels = if (a.trace) Kernels.run(spark, a.data) else Map.empty[String, Double]

    val record = Map("workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "trace" -> a.trace, "warmup_passes" -> warmups, "setup_s" -> setupS,
      "session_s" -> sessionS, "timed_passes" -> (totalPasses - warmups),
      "measured_s" -> measuredS,
      "oracles" -> rows.map(q => q.name -> q.oracle).toMap, "passes" -> passes.toSeq,
      "kernels_ns_per_row" -> kernels,
      "status" -> readFile("/proc/self/status"))
    spark.stop()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.out}/record.json"),
      Json.render(record))
  }
}
