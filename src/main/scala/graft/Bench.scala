package graft

/** Per-round benchmark: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line (driver contract).
  *
  * Queries are materialized with a noop-format write so the full plan
  * executes (a count() would let Catalyst skip projection work).
  * Queries run in sorted name order for stable cache behavior.
  */
object Bench {
  /** 1-minute load average, stamped into the JSON so a bench reading can
    * be adjudicated for host contention after the fact (the recurring
    * verdict question: drift or noisy neighbor?). */
  private def readFile(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
      java.nio.charset.StandardCharsets.UTF_8)

  private def loadAvg(): Double =
    try readFile("/proc/loadavg").split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** (host busy jiffies, own-process jiffies, host steal jiffies): the
    * growth of busy minus own over the run is CPU burned by OTHER
    * processes — the direct neighbor-contention measure. Load averages
    * cannot give this: the bench's own 32 threads dominate the 1-min
    * load in every healthy run, and a mid-run neighbor burst hides
    * between the start/end stamps (it did: seven a-rows at 7-48x in an
    * otherwise quiet round-8 run). Steal is reported on its own too: it
    * is the hypervisor's share, which no in-guest process accounts for. */
  private def cpuJiffies(): (Long, Long, Long) =
    try {
      val host = readFile("/proc/stat").linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val steal = if (host.length > 7) host(7) else 0L
      // user+nice+system+irq+softirq+steal — everything but idle/iowait
      val busy = host(0) + host(1) + host(2) + host(5) + host(6) + steal
      // parse AFTER the comm field's closing ')': comm may contain spaces,
      // which would shift whitespace-split indices (utime is field 14/15
      // counted from AFTER comm: state is 0, so utime=11, stime=12)
      val stat = readFile("/proc/self/stat")
      val rest = stat.substring(stat.lastIndexOf(')') + 2).split("\\s+")
      (busy, rest(11).toLong + rest(12).toLong, steal)
    } catch { case _: Throwable => (-1L, -1L, -1L) }

  /** Per-row quiet ledger parsed out of BASELINE.md's `| name | sec |`
    * tables (minimum across all mentions = the governing quiet value, the
    * min-across-runs protocol). Used to self-adjudicate: this sandbox is a
    * Firecracker microVM, so neighbor steal shows in NEITHER loadavg nor
    * /proc/stat deltas — a row over its ledger can only be adjudicated by
    * re-measuring, never by a host-quietness stamp.
    *
    * findFirstMatchIn, NOT a `case row(...)` pattern match: a Scala
    * regex used as a match pattern demands a FULL-string match, which
    * silently dropped every `| name | sec | note |` three-column row —
    * 95 of BASELINE.md's rows, including every round-9/10 baseline —
    * from the round-10 self-adjudication pass (VERDICT r10 item 1).
    * The prefix match reads the name + FIRST numeric cell of any row
    * shape, which is the ledger value in every table BASELINE.md has
    * (extra cells are notes or derived ratios). */
  private[graft] def parseLedger(md: String): Map[String, Double] = {
    val row = """^\|\s*([a-z][a-z0-9_]*)\s*\|\s*([0-9]+\.?[0-9]*)\s*\|""".r
    md.linesIterator.flatMap { l =>
      row.findFirstMatchIn(l).map(m => m.group(1) -> m.group(2).toDouble)
    }.toSeq.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
  }

  private[graft] def ledger(): Map[String, Double] =
    try parseLedger(readFile("BASELINE.md"))
    catch { case _: Throwable => Map.empty }

  /** Sequential fsync'd write throughput of java.io.tmpdir (the Spark
    * local dir's filesystem), MB/s — the host-CLASS probe. Round 14
    * proved cross-round 100x absolutes incomparable by measuring the
    * box's /tmp at ~290 MB/s (NOTES r14 host-class controls, via dd);
    * this stamps the same figure INSIDE the artifact so any later
    * reader can adjudicate a reading without the narrative (VERDICT
    * r14 item 3). 128 MB keeps the probe under ~0.5 s on every host
    * class seen so far.
    */
  private[graft] def tmpWriteMbps(): Double =
    try {
      val f = java.io.File.createTempFile("graft_bench_probe_", ".bin")
      try {
        val buf = java.nio.ByteBuffer.allocate(8 << 20)
        val ch = java.nio.channels.FileChannel.open(f.toPath,
          java.nio.file.StandardOpenOption.WRITE)
        val t0 = System.nanoTime()
        try {
          var i = 0
          while (i < 16) { buf.rewind(); ch.write(buf); i += 1 }
          ch.force(true)
        } finally ch.close()
        128.0 / ((System.nanoTime() - t0) / 1e9)
      } finally { f.delete(); () }
    } catch { case _: Throwable => -1.0 }

  /** The artifact's own noise-class verdict: CPU burned by other
    * processes while the bench ran is the one direct contention signal
    * a Firecracker microVM exposes (loadavg hides neighbors; steal is
    * invisible). Calibration: `run / fork := true` means the sbt PARENT
    * JVM is itself an "other" process — every sbt-launched run carries
    * ~7-10% of wall as baseline other_cpu (measured: 33 s over a 447 s
    * quiet closing run; 4.8 s over a ~50 s 2-row run) — so the
    * threshold scales with wall time rather than sitting at an
    * absolute that long quiet runs would cross (the suite only grows).
    * 20% of wall ≈ 2x the floor; the 60 s absolute lower bound keeps
    * short runs from flapping on a single neighbor burst. The round-14
    * driver's contended run measured 85.9 s other_cpu over ~600 s
    * (14%+ with 21 reruns); the two contended round-15 runs read
    * 223.6/528 s (42%) and 424.8/721 s (59%).
    */
  private[graft] def hostClass(otherCpuSec: Double, wallSec: Double): String =
    if (otherCpuSec < 0) "unknown"
    else if (otherCpuSec > math.max(60.0, 0.2 * wallSec)) "contended"
    else "quiet"

  /** One decimal, Locale.ROOT (a comma-decimal locale breaks the JSON). */
  private def f1(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", java.lang.Double.valueOf(v))

  /** The host-probe JSON fragment shared by the tail line and the full
    * artifact — BenchLedgerSpec pins the fields' presence. CPU figures
    * are never negative: a raw other-CPU below zero (a failed probe, or
    * a microVM whose busy jiffies grew less than this process's own —
    * BENCH_r16 read −1618.2) prints 0.0 with class "unknown".
    */
  private[graft] def hostProbeJson(tmpMbps: Double, otherCpuSec: Double,
                                   stealSec: Double, wallSec: Double): String =
    s""""host_probe":{"tmp_mbps":${f1(tmpMbps)},"other_cpu_sec":${f1(otherCpuSec max 0.0)},"steal_sec":${f1(stealSec max 0.0)},"wall_sec":${f1(wallSec)},"class":"${hostClass(otherCpuSec, wallSec)}"}"""

  /** Low-core scaling runs get their own full-map file: a round-15
    * 8-core run OVERWROTE the committed 32-core BENCH_full.json and the
    * main run's per-row map was lost. Read from the SAME defaulted core
    * count the session runs at — an env-less local[4] run is a low-core
    * run too.
    */
  private[graft] def cpusSuffix(cpus: String): String =
    cpus.toIntOption.filter(_ < 16).map(c => s"_c$c").getOrElse("")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val loadStart = loadAvg()
    val tmpMbps = tmpWriteMbps()
    val wallT0 = System.nanoTime()
    val (busy0, self0, steal0) = cpuJiffies()
    val spark = graft.core.Sessions.local(cpus, "graft-bench")
    // keep stderr quiet so a driver that merges streams still sees the
    // JSON line last (Sessions defaults to WARN; ERROR for the bench)
    spark.sparkContext.setLogLevel("ERROR")
    // untimed warmup: JIT, codegen cache, parquet footers. The scan
    // alone left the first timed rows (alphabetically a01/a02...)
    // paying the shuffle/join/window/agg codegen + JIT compile tax —
    // several seconds charged to whichever row sorts first. Exercise
    // those engine paths once on a small table; no registered query
    // runs untimed (results are never precomputed).
    graft.core.Tables.lineitem(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    locally {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val o = graft.core.Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"))
      val agg = o.groupBy("o_custkey").agg(count(lit(1)).as("__n"),
        countDistinct("o_orderkey").as("__d"))
      o.join(agg, Seq("o_custkey"))
        .withColumn("__r", row_number().over(
          Window.partitionBy("o_custkey").orderBy("o_orderkey")))
        .write.format("noop").mode("overwrite").save()
    }
    // SPARK_GRAFT_ONLY=name1,name2 restricts the run for local iteration;
    // the driver never sets it, so the contract run covers every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val doneReruns = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)
    // None on failure: a failed row records NO reading (a time-to-failure
    // masquerading as a fast run would be worse than an absent row — and
    // during a SIGTERM shutdown every in-flight/subsequent row fails in
    // milliseconds, which must not enter the partial artifact). A healthy
    // run has zero failures (the correctness gate proves each query runs).
    def runOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          // first line only (Spark embeds whole stack traces in messages),
          // and nothing at all once the report is out — during a SIGTERM
          // shutdown the main thread's in-flight failure would otherwise
          // print AFTER the hook's JSON line and push it out of the
          // driver's 2000-char tail window
          if (!emitted.get()) System.err.println(s"[bench] $name failed: ${
            Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.next()}")
          false
        }
      // queries are self-contained: drop any tables they persisted so
      // later queries aren't measured under another query's cache pressure
      try graft.core.Sessions.clearCaches(spark)
      catch { case _: Throwable => () } // context may be mid-shutdown
      if (ok) Some((System.nanoTime() - t0) / 1e9) else None
    }
    val qmap = SparkEntry.queries
    // Results accumulate into a buffer a shutdown hook can read: round
    // 15's driver KILLED the 32-core bench at its timeout (BENCH_r15
    // rc 124) and the round got NO bench artifact at all, because this
    // main prints everything at the end. `timeout` sends SIGTERM first,
    // which runs JVM shutdown hooks — so emit the JSON line (flagged
    // "partial":true, with whatever rows completed) from a hook if the
    // normal path has not printed yet. An honest partial measurement
    // beats an empty one; the flag makes it self-describing.
    def emit(stopSpark: Boolean, partial: Boolean): Unit = {
      if (!emitted.compareAndSet(false, true)) return
      import scala.jdk.CollectionConverters._
      emitReport(done.iterator().asScala.toSeq,
        doneReruns.iterator().asScala.toSeq,
        spark, stopSpark, partial, sfDir, cpus, only,
        loadStart, tmpMbps, wallT0, busy0, self0, steal0)
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => if (!emitted.get()) {
      // a normal exit has already emitted: return at once. Otherwise
      // silence executor shutdown noise (dead-blockmgr task errors print
      // at ERROR and would land after the JSON), then give the main
      // thread's in-flight job-cancellation failure a moment to surface
      // (and be suppressed) before the JSON prints, so the line stays
      // LAST in the driver's tail capture
      try spark.sparkContext.setLogLevel("OFF") catch { case _: Throwable => () }
      Thread.sleep(1500)
      emit(stopSpark = false, partial = true)
    }))
    qmap.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) => runOne(name, fn).foreach(t => done.add(name -> t)) }
    import scala.jdk.CollectionConverters._
    val results = done.iterator().asScala.toSeq
    // Self-adjudication pass: rows >1.5x their BASELINE.md quiet ledger are
    // re-measured once, back-to-back, and the rerun map rides the artifact —
    // a neighbor burst (invisible to every host stamp on a microVM) then
    // shows as rerun << first reading without judge intervention.
    //
    // BOUNDED since round 16: the round-15 driver's 8-core scaling run
    // re-ran 94 rows (the ledger is a 32-core quiet protocol, so at low
    // core counts HALF the registry trips the 1.5x wire) and its 32-core
    // contended run was killed by the driver's timeout (BENCH_r15 rc 124)
    // — an unbounded rerun pass compounds contention into a timeout.
    //  - no reruns at all below 16 cores (the scaling run measures
    //    scaling, not quiet truth; every row reads over a 32-core ledger)
    //  - worst-overshoot-first, at most 12 rows, and the pass stops once
    //    it has spent 60 s (the first readings are already recorded; the
    //    rerun is adjudication evidence, not the measurement)
    val led = ledger()
    val rerunBudgetSec = 60.0
    if (!cpus.toIntOption.exists(_ < 16)) {
      var spent = 0.0
      results
        .flatMap { case (n, v) =>
          led.get(n).filter(b => v > 1.5 * b).map(b => (n, v / b)) }
        .sortBy(-_._2)
        .take(12)
        .foreach { case (n, _) =>
          if (spent <= rerunBudgetSec)
            runOne(n, qmap(n)).foreach { t => spent += t; doneReruns.add(n -> t) }
        }
    }
    emit(stopSpark = true, partial = false)
  }

  /** The whole end-of-run report: per-query lines, the full-map file,
    * and the ONE JSON line the driver parses. Called exactly once —
    * from the normal end of main, or (flagged `"partial":true`, with
    * whatever rows completed) from the SIGTERM shutdown hook when a
    * driver timeout kills the run (round 15's 32-core bench died with
    * rc 124 and NO artifact because everything printed at the end).
    */
  private def emitReport(results: Seq[(String, Double)],
                         reruns: Seq[(String, Double)],
                         spark: org.apache.spark.sql.SparkSession,
                         stopSpark: Boolean, partial: Boolean,
                         sfDir: String, cpus: String,
                         only: Option[Set[String]], loadStart: Double, tmpMbps: Double,
                         wallT0: Long, busy0: Long, self0: Long,
                         steal0: Long): Unit = {
    // Stop Spark BEFORE emitting the JSON: a driver that merges stderr
    // into its tail capture would otherwise see the shutdown log lines
    // AFTER the JSON and could push it out of the 2000-char window.
    // (From the shutdown hook, Spark's own hook handles the stop —
    // calling it here too risks a hook-ordering deadlock.)
    if (stopSpark) { try spark.stop() catch { case _: Throwable => () } }
    // Per-query detail for humans/logs (scrolls out of the driver's tail).
    results.foreach { case (k, v) => println(f"[bench] $k $v%.3f") }
    val total = results.map(_._2).sum
    // The driver captures only the LAST 2000 chars of output and parses the
    // JSON line out of that window (rounds 1-2 failed: the full 120-query
    // map was ~3.5 KB, so the line's head was truncated and parse returned
    // null). Emit the heaviest queries first and stop before the line can
    // outgrow the window; the omitted remainder is summarized.
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def fmt(v: Double) = String.format(java.util.Locale.ROOT, "%.3f",
      java.lang.Double.valueOf(v))
    val byCost = results.sortBy(-_._2)
    val budget = 1200 // chars for the queries map; total line stays < 1450,
    // leaving 550+ chars of slack inside the driver's 2000-char tail
    // window (measured: a 1500 budget produced a 1745-char line — too
    // close if anything ever prints after the JSON)
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 2
    byCost.foreach { case (k, v) =>
      val entry = k.length + fmt(v).length + 4
      if (used + entry <= budget) { kept += ((k, v)); used += entry }
    }
    val qs = kept.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val omitted = results.size - kept.size
    val omittedSec = total - kept.map(_._2).sum
    // The tail line's 1200-char budget hides most rows from the driver's
    // 2000-char capture window, so ALSO write the complete per-query map
    // (every row, name-sorted) to a file the judge can read directly —
    // the 2x-per-row rule is checkable on all rows, not just the top ~44.
    // SPARK_GRAFT_ONLY runs write to BENCH_partial.json instead: a
    // single-row adjudication rerun must never clobber the committed
    // full-run record (ADVICE r10 — round 10's closing st11 rerun did).
    val fullPath =
      if (only.isEmpty) s"BENCH_full${cpusSuffix(cpus)}.json"
      else "BENCH_partial.json"
    val fullQs = results.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val loadEnd = loadAvg()
    val (busy1, self1, steal1) = cpuJiffies()
    // CPU-seconds other processes burned, and steal, while the bench ran
    // (USER_HZ=100); -1 when /proc could not be read
    val probed = busy0 >= 0 && busy1 >= 0
    val otherCpu = if (probed) ((busy1 - busy0) - (self1 - self0)) / 100.0 else -1.0
    val stealSec = if (probed) (steal1 - steal0) / 100.0 else -1.0
    val partialJson = if (partial) """"partial":true,""" else ""
    val loads = partialJson +
      s""""load_start":$loadStart,"load_end":$loadEnd,""" +
      s""""other_cpu_sec":${f1(otherCpu max 0.0)},""" +
      hostProbeJson(tmpMbps, otherCpu, stealSec, (System.nanoTime() - wallT0) / 1e9)
    val rerunJson = reruns.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    try {
      val w = new java.io.PrintWriter(fullPath, "UTF-8")
      try w.println(
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$fullQs,""" +
        s""""n_queries":${results.size},"rerun":$rerunJson,$loads,"sf":"$sfDir"}""")
      finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] full-map write failed: ${e.getMessage}")
    }
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
      s""""n_queries":${results.size},"omitted":$omitted,"omitted_sec":${fmt(omittedSec)},"rerun_n":${reruns.size},$loads,"full":"$fullPath","sf":"$sfDir"}""")
  }
}
