package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.core.{Fs, Tables, TempDirs}

/** Structured Streaming surface. The reference is batch-only (SURVEY.md
  * §2.9 — "history" is simulated by scheduled re-runs); this module adds
  * the incremental path a landing-zone pipeline needs: file-source
  * pickup, watermarked windowed aggregation, and stateful gap
  * sessionization equivalent to the batch Sessionize operator.
  *
  * Every streaming registry row runs through [[runAvailableNow]]. The
  * runner owns its streams' checkpoint dirs: it creates one per stream,
  * waits until all of its streams have stopped, then stops any still
  * running and deletes exactly those dirs, on success and on failure
  * alike. No other row's stream or checkpoint is touched, so rows may
  * run concurrently on one session. The helpers next to it ([[rowSession]],
  * [[symlinkSource]], [[land]], [[memorySinks]], [[valueEvents]]) are the
  * scaffold the rows share.
  *
  * Scale notes: the file source tracks processed files in the checkpoint
  * (exactly-once per file); windowed aggregation state is bounded by the
  * watermark; sessionization state is O(1) per active key and expires
  * via processing-time timeout.
  */
object Streams {

  /** Incremental landing-zone pickup: schema-explicit streaming read of a
    * directory of parquet files. Use with Trigger.AvailableNow for the
    * reference's "process everything landed, then stop" batch cadence.
    */
  def fileSource(spark: SparkSession, path: String, schema: StructType,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame =
    spark.readStream.format("parquet").schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.getOrElse(1000))
      .load(path)

  /** Run a row's streams to completion with Trigger.AvailableNow, the
    * reference's "process everything landed, then stop" cadence.
    *
    * Each writer gets a checkpoint dir the runner creates itself. All
    * streams start before any is awaited (a row may need two sinks
    * filling at once), and the first stream failure is rethrown. Once
    * every stream has stopped, or one has failed, a `finally` stops any
    * stream still running and deletes exactly these checkpoint dirs.
    * Checkpoints sit on tmpfs (TempDirs), so leaving a finished row's
    * state stores to the JVM-exit hook would pin RAM for the rest of a
    * long Verify/Bench run; and a row never touches another row's
    * streams or checkpoints, which Verify's concurrent rows rely on.
    */
  def runAvailableNow(writers: DataStreamWriter[_]*): Unit = {
    val ckpts = writers.map(_ => TempDirs.scratch("st_ckpt_"))
    val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    try {
      for ((w, ckpt) <- writers.zip(ckpts))
        started += w.option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
      // awaitTermination(ms) returns as soon as a stream stops and
      // throws if it failed; the slice only bounds how long one stream's
      // failure waits behind a sibling that is still running
      var running = started.toList
      while (running.nonEmpty) running = running.filterNot(_.awaitTermination(100))
    } finally {
      try started.filter(_.isActive).foreach(_.stop())
      finally ckpts.foreach(TempDirs.deleteRecursively)
    }
  }

  /** A child session for one streaming row, at 4 shuffle partitions.
    * The state-store count follows shuffle partitions, and 32
    * HDFS-backed stores for a few-hundred-key aggregation is pure
    * per-partition overhead — isolate the knob from the shared session.
    * The child shares the executor's task classloader with its parent
    * (artifact isolation is off in `Sessions.local`), so a rerun of the
    * row finds its generated classes in Spark's codegen cache.
    */
  def rowSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss
  }

  /** Stream sf table `table` through a scratch landing dir. The file
    * source takes a DIRECTORY (it lists for new files), so the table is
    * symlinked in, once per entry of `names` (default:
    * `<table>.parquet`) — no data copy. A table stored as a Spark output
    * directory of part files (a ScaleReplica replica) gets one link per
    * part file, named `<name stem>_<part file>`: the file source does not
    * descend into a linked directory. The schema is Tables.load's, so
    * its schema cache serves it.
    */
  def symlinkSource(ss: SparkSession, d: String, table: String,
                    names: String*): DataFrame = {
    val dir = TempDirs.scratch(s"${table}_landing_")
    val target = Paths.get(s"$d/$table.parquet").toAbsolutePath
    val parts =
      if (!Files.isDirectory(target)) Nil
      else Fs.listDir(target).filter(_.getFileName.toString.endsWith(".parquet"))
    for (n <- if (names.isEmpty) Seq(s"$table.parquet") else names) {
      if (parts.isEmpty) Files.createSymbolicLink(dir.resolve(n), target)
      else parts.foreach(p => Files.createSymbolicLink(
        dir.resolve(s"${n.stripSuffix(".parquet")}_${p.getFileName}"), p))
    }
    fileSource(ss, dir.toString, Tables.load(ss, d, table).schema)
  }

  /** Land `df` in the (possibly non-empty) landing dir `dir` as ONE
    * parquet file named `name`, stamped with modification time `mtime`
    * (epoch ms). The file source picks files up in mtime order, so the
    * stamps pin the arrival order of a row's batches.
    */
  def land(dir: Path, df: DataFrame, name: String, mtime: Long): Unit = {
    val tmp = TempDirs.scratch("landing_batch_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val dst = dir.resolve(name)
    Files.copy(Fs.listDir(tmp).find(_.toString.endsWith(".parquet")).get, dst)
    Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(mtime))
    TempDirs.deleteRecursively(tmp)
  }

  private val sinkIds = new AtomicLong()

  /** Run each (stream, output mode) into its own memory sink, all under
    * one [[runAvailableNow]], and return the finished tables in order.
    */
  def memorySinks(sinks: (Dataset[_], String)*): Seq[DataFrame] = {
    val named = sinks.map { case (ds, mode) =>
      (ds, mode, s"graft_sink_${sinkIds.incrementAndGet()}") }
    runAvailableNow(named.map { case (ds, mode, n) =>
      ds.writeStream.format("memory").queryName(n).outputMode(mode) }: _*)
    named.map { case (ds, _, n) => ds.sparkSession.table(n) }
  }

  /** [[memorySinks]] for a row with one stream. */
  def memorySink(ds: Dataset[_], mode: String): DataFrame = memorySinks(ds -> mode).head

  /** The events stream as [[ValueEvent]]s, the input of the stateful
    * recurrences (Holt, CUSUM, Kalman, MACD, hash chain); `ts` decodes by
    * its scanned type (Tables.tsMicros).
    */
  def valueEvents(events: DataFrame): Dataset[ValueEvent] = {
    import events.sparkSession.implicits._
    events.select(col("user_id").cast("long").as("userId"),
        col("event_id").cast("long").as("eventId"),
        Tables.tsMicros(events.schema).as("tsMicros"),
        col("value").cast("double").as("value"))
      .as[ValueEvent]
  }

  /** Watermarked tumbling-window count by key: late data beyond the
    * watermark is dropped; state is purged as the watermark advances.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowLen: String = "10 minutes",
                     watermark: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col(s"window.start").as("window_start"), col(keyCol), col("n"))

  /** Sliding (hopping) windowed counts: length `windowLen`, hop `slide`
    * — each event lands in windowLen/slide overlapping windows, the
    * smoothing the tumbling [[windowedCounts]] can't give (a spike at a
    * tumbling boundary splits across two buckets; a sliding window sees
    * it whole). State per key is windows-per-event x keys, still
    * watermark-bounded.
    */
  def slidingCounts(events: DataFrame, tsCol: String, keyCol: String,
                    windowLen: String, slide: String,
                    watermark: String = "30 minutes"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen, slide), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"))

  /** Streaming exact dedup: drop events whose id was already seen,
    * keeping watermark-bounded state — the incremental counterpart of
    * the batch dedup operators for a training-data landing stream.
    */
  def streamingDedup(events: DataFrame, idCol: String, tsCol: String,
                     watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Stream-stream interval join: match right-side events to left-side
    * events with the same key arriving within (0, maxDelay] after them —
    * the impression→conversion attribution shape. Both sides carry
    * watermarks so join state is bounded and expires.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTs: String, rightTs: String,
                   maxDelay: String = "30 minutes",
                   watermark: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
      .withColumnRenamed(keyCol, s"__r_$keyCol")
    l.join(r,
      col(keyCol) === col(s"__r_$keyCol") &&
        col(rightTs) > col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxDelay"),
      joinType)
      .drop(s"__r_$keyCol")
  }

  final case class SessionEvent(userId: Long, eventId: Long, tsMicros: Long)
  final case class SessionAssignment(userId: Long, eventId: Long, sessionId: Long)
  final case class SessionState(lastTs: Long, sessionId: Long)

  /** Stateful gap sessionization: session increments when the gap since
    * the key's previous event exceeds gapMicros — the streaming
    * equivalent of operators.Sessionize.sessionize. Events within one
    * micro-batch are processed in ts order; state carries (lastTs,
    * sessionId) across batches.
    *
    * Pass `stateTtl` in production so inactive keys expire
    * (processing-time timeout). With a TTL set, the engine wakes up
    * periodically to expire state, so `processAllAvailable` never
    * settles — tests use the default NoTimeout.
    */
  def sessionizeStream(events: Dataset[SessionEvent], gapMicros: Long,
                       stateTtl: Option[String] = None): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    def update(userId: Long, it: Iterator[SessionEvent],
               state: GroupState[SessionState]): Iterator[SessionAssignment] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L))
        val out = it.toSeq.sortBy(e => (e.tsMicros, e.eventId)).map { e =>
          val sid =
            if (st.sessionId == 0L || e.tsMicros - st.lastTs > gapMicros) st.sessionId + 1
            else st.sessionId
          st = SessionState(e.tsMicros, sid)
          SessionAssignment(userId, e.eventId, sid)
        }
        state.update(st)
        stateTtl.foreach(state.setTimeoutDuration)
        out.iterator
      }
    }
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    events.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }

  final case class ValueEvent(userId: Long, eventId: Long, tsMicros: Long,
                              value: Double)
  final case class HoltState(level: Double, trend: Double)
  final case class HoltOut(userId: Long, eventId: Long, level: Double,
                           trend: Double)

  /** Streaming Holt double-exponential smoothing: the st-twin of w29's
    * batch recurrence. Per-key (level, trend) state carries across
    * micro-batches; within a batch each group's events fold in
    * (tsMicros, eventId) order with the IDENTICAL operation order as
    * Sessionize.holt, so a stream whose batches arrive in event-time
    * order (the landing-zone contract the other st rows pin) emits
    * bit-for-bit the batch result. State is two doubles per key. */
  def holtStream(events: Dataset[ValueEvent], alpha: Double, beta: Double,
                 stateTtl: Option[String] = None): Dataset[HoltOut] = {
    import events.sparkSession.implicits._
    def update(userId: Long, it: Iterator[ValueEvent],
               state: GroupState[HoltState]): Iterator[HoltOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var st = state.getOption
        val out = it.toSeq.sortBy(e => (e.tsMicros, e.eventId)).map { e =>
          val (l, b) = st match {
            case None => (e.value, 0.0)
            case Some(HoltState(l0, b0)) =>
              val l1 = alpha * e.value + (1 - alpha) * (l0 + b0)
              (l1, beta * (l1 - l0) + (1 - beta) * b0)
          }
          st = Some(HoltState(l, b))
          HoltOut(userId, e.eventId, l, b)
        }
        st.foreach(state.update)
        stateTtl.foreach(state.setTimeoutDuration)
        out.iterator
      }
    }
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    events.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }

  final case class MacdState(fast: Double, slow: Double, sig: Double)
  final case class MacdOut(userId: Long, eventId: Long, macd: Double,
                           sig: Double)

  /** Streaming MACD: the st-twin of w42's batch recurrence
    * (Sessionize.macd), served incrementally — three doubles of state
    * per key, batches fold in event order with the IDENTICAL operation
    * order, so the stream's output hash-matches the batch
    * recursive-CTE oracle bit-for-bit (the st13/st14/st17 recurrence
    * discipline).
    */
  def macdStream(events: Dataset[ValueEvent], aFast: Double, aSlow: Double,
                 aSig: Double,
                 stateTtl: Option[String] = None): Dataset[MacdOut] = {
    import events.sparkSession.implicits._
    def update(userId: Long, it: Iterator[ValueEvent],
               state: GroupState[MacdState]): Iterator[MacdOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var st = state.getOption
        val out = it.toSeq.sortBy(e => (e.tsMicros, e.eventId)).map { e =>
          val (f, s, m, g) = st match {
            case None => (e.value, e.value, 0.0, 0.0)
            case Some(MacdState(f0, s0, g0)) =>
              val f1 = aFast * e.value + (1 - aFast) * f0
              val s1 = aSlow * e.value + (1 - aSlow) * s0
              val m1 = f1 - s1
              (f1, s1, m1, aSig * m1 + (1 - aSig) * g0)
          }
          st = Some(MacdState(f, s, g))
          MacdOut(userId, e.eventId, m, g)
        }
        st.foreach(state.update)
        stateTtl.foreach(state.setTimeoutDuration)
        out.iterator
      }
    }
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    events.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }

  final case class ChainState(head: String)
  final case class ChainOut(userId: Long, eventId: Long, tsMicros: Long,
                            chain: String)

  /** Streaming tamper-evident hash chain: io20's md5 recurrence
    * (Cdc.hashChain) served LIVE — the audit-ledger primitive as a
    * stateful stream. Per-key state is ONE 32-char md5 head forever;
    * within a batch each group folds in (tsMicros, eventId) order with
    * the identical g:/`:`-framed encoding, so an event-time-ordered
    * stream emits bit-for-bit the batch scan's chain column — a live
    * ledger whose heads the offline replay (or the DuckDB recursive
    * CTE) reproduces exactly. Payload is the event id rendered as a
    * string, matching io20's batch contract (non-null by construction).
    */
  def hashChainStream(events: Dataset[ValueEvent],
                      stateTtl: Option[String] = None): Dataset[ChainOut] = {
    import events.sparkSession.implicits._
    def md5hex(s: String): String = graft.core.Digest.md5hex(s)
    def update(userId: Long, it: Iterator[ValueEvent],
               state: GroupState[ChainState]): Iterator[ChainOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var head = state.getOption.map(_.head)
        val out = it.toSeq.sortBy(e => (e.tsMicros, e.eventId)).map { e =>
          val h = head match {
            case None       => md5hex("g:" + e.eventId.toString)
            case Some(prev) => md5hex(prev + ":" + e.eventId.toString)
          }
          head = Some(h)
          ChainOut(userId, e.eventId, e.tsMicros, h)
        }
        head.foreach(h => state.update(ChainState(h)))
        stateTtl.foreach(state.setTimeoutDuration)
        out.iterator
      }
    }
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    events.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }

  final case class CusumState(ref: Double, sp: Double, sn: Double)
  final case class CusumOut(userId: Long, eventId: Long, sPos: Double,
                            sNeg: Double, alarm: Boolean)

  /** Streaming two-sided CUSUM: the st-twin of w32's batch recurrence
    * (Sessionize.cusum), served incrementally. Per-key state is THREE
    * doubles (reference + both cumulative sides) whatever the event
    * volume; within a batch each group folds in (tsMicros, eventId)
    * order with the identical operation order, so an event-time-ordered
    * stream emits bit-for-bit the batch recursive-CTE result — a live
    * drift monitor whose alarms match the offline replay exactly. */
  def cusumStream(events: Dataset[ValueEvent], slackFrac: Double,
                  threshFrac: Double,
                  stateTtl: Option[String] = None): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    def update(userId: Long, it: Iterator[ValueEvent],
               state: GroupState[CusumState]): Iterator[CusumOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var st = state.getOption
        val out = it.toSeq.sortBy(e => (e.tsMicros, e.eventId)).map { e =>
          st match {
            case None =>
              st = Some(CusumState(e.value, 0.0, 0.0))
              CusumOut(userId, e.eventId, 0.0, 0.0, alarm = false)
            case Some(CusumState(ref, sp0, sn0)) =>
              val k = slackFrac * math.abs(ref)
              val h = threshFrac * math.abs(ref)
              val sp = math.max(0.0, sp0 + (e.value - ref - k))
              val sn = math.max(0.0, sn0 + (ref - e.value - k))
              val alarm = sp > h || sn > h
              st = Some(CusumState(ref,
                if (alarm) 0.0 else sp, if (alarm) 0.0 else sn))
              CusumOut(userId, e.eventId, sp, sn, alarm)
          }
        }
        st.foreach(state.update)
        stateTtl.foreach(state.setTimeoutDuration)
        out.iterator
      }
    }
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    events.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }

  final case class KalmanState(x: Double, p: Double)
  final case class KalmanOut(userId: Long, eventId: Long,
                             kalmanLevel: Double, kalmanVar: Double)

  /** Streaming 1-D Kalman filter: the st-twin of w36's batch recurrence
    * (Sessionize.kalman), served incrementally. Per-key state is TWO
    * doubles (estimate + variance) whatever the event volume; within a
    * batch each group folds in (tsMicros, eventId) order with the
    * identical predict/gain/update operation order, so an event-time-
    * ordered stream emits bit-for-bit the batch recursive-CTE result. */
  def kalmanStream(events: Dataset[ValueEvent], q: Double, r: Double,
                   stateTtl: Option[String] = None): Dataset[KalmanOut] = {
    import events.sparkSession.implicits._
    def update(userId: Long, it: Iterator[ValueEvent],
               state: GroupState[KalmanState]): Iterator[KalmanOut] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        var st = state.getOption
        val out = it.toSeq.sortBy(e => (e.tsMicros, e.eventId)).map { e =>
          val (x, p) = st match {
            case None => (e.value, 1.0)
            case Some(KalmanState(x0, p0)) =>
              val pPred = p0 + q
              val k = pPred / (pPred + r)
              (x0 + k * (e.value - x0), (1.0 - k) * pPred)
          }
          st = Some(KalmanState(x, p))
          KalmanOut(userId, e.eventId, x, p)
        }
        st.foreach(state.update)
        stateTtl.foreach(state.setTimeoutDuration)
        out.iterator
      }
    }
    val timeout = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
                  else GroupStateTimeout.NoTimeout
    events.groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(update)
  }
}
