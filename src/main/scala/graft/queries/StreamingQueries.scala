package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Materialize, Query, Tables}
import graft.streaming.Streams

/** Structured Streaming surface exercised under the batch oracle gate:
  * the stream runs the events parquet through the incremental path
  * (file source → watermarked windowed aggregation → memory sink) under
  * Streams.runAvailableNow — the reference's "process everything landed,
  * then stop" cadence — and the finished result must hash-match the
  * plain batch SQL over the same data. This pins exactly the equivalence
  * a landing-zone pipeline relies on when it switches from scheduled
  * re-runs to incremental processing.
  *
  * StreamingSpec covers the genuinely incremental behaviors (multi-batch
  * state, watermark eviction, dedup, interval join) that a one-shot
  * batch oracle cannot.
  */
object StreamingQueries {

  /** The click and purchase event streams of st04/st09's interval join:
    * `(user_id, imp_id, imp_ts)` and `(user_id, conv_id, conv_ts)`, each
    * its own source over the landed events (oracle twin
    * `OracleSnippets.ClickConversionSql`). */
  private[queries] def clickStreams(ss: SparkSession, d: String): (DataFrame, DataFrame) = {
    def src() = {
      val raw = Streams.symlinkSource(ss, d, "events")
      raw.withColumn("ts", Tables.canonTs(raw.schema))
    }
    (src().filter(col("event_type") === "click")
       .select(col("user_id"), col("event_id").as("imp_id"), col("ts").as("imp_ts")),
     src().filter(col("event_type") === "purchase")
       .select(col("user_id"), col("event_id").as("conv_id"), col("ts").as("conv_ts")))
  }

  val queries: Seq[Query] = Seq(

    Query("st01_stream_windowed_counts",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        val raw = Streams.symlinkSource(Streams.rowSession(s), d, "events")
        val src = raw.withColumn("ts", Tables.canonTs(raw.schema))
        val agg = Streams.windowedCounts(src, "ts", "event_type",
          windowLen = "1 hour", watermark = "2 hours")
        // complete mode: every window is emitted at end-of-stream, so the
        // finished table equals the batch aggregation (append mode would
        // hold back windows newer than the final watermark)
        Streams.memorySink(agg, "complete")
      }
    },

    // ---- ST18: sliding-window streaming counts --------------------------------
    // st01's tumbling hour splits a boundary spike across two buckets;
    // the 1h/30min hopping window sees it whole. Each event lands in
    // exactly len/slide = 2 windows; the oracle states that as two
    // 30-min-bucket legs unioned (window starts are the two slide-grid
    // points within [t - 1h, t]), both engines epoch-aligned.
    Query("st18_stream_sliding_counts",
      """WITH w AS (
        |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS ws, event_type
        |  FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
        |         event_type
        |  FROM events)
        |SELECT CAST(ws AS TIMESTAMP) AS window_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin) {
      (s, d) => {
        val raw = Streams.symlinkSource(Streams.rowSession(s), d, "events")
        val src = raw.withColumn("ts", Tables.canonTs(raw.schema))
        val agg = Streams.slidingCounts(src, "ts", "event_type",
          windowLen = "1 hour", slide = "30 minutes", watermark = "2 hours")
        Streams.memorySink(agg, "complete")
      }
    },

    // ---- ST2: stateful streaming sessionization vs the batch oracle --------
    // The flatMapGroupsWithState sessionizer (O(1) state per key) run to
    // completion over the landed events must assign exactly the session
    // ids the batch window computation does — same gap rule (> 30 min),
    // same (ts, event_id) tiebreak. This is the batch↔incremental
    // equivalence for STATEFUL logic, where divergence is easiest
    // (ordering inside a batch, state carry across batches).
    Query("st02_stream_sessionize", Temporal.SessionizeOracleSql) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        import ss.implicits._
        val raw = Streams.symlinkSource(ss, d, "events")
        val src = raw
          .select(col("user_id").cast("long").as("userId"),
            col("event_id").cast("long").as("eventId"),
            Tables.tsMicros(raw.schema).as("tsMicros"))
          .as[Streams.SessionEvent]
        val out = Streams.sessionizeStream(src, gapMicros = 1800L * 1000000)
        Streams.memorySink(out, "append")
          .select(col("eventId").as("event_id"), col("sessionId").as("session_id"))
      }
    },

    // ---- ST3: duplicate file delivery → streaming dedup = exactly-once ------
    // The landing zone delivers the same data twice (two files, same
    // rows — the re-upload/retry case a scheduled batch pipeline
    // deduplicates by full re-runs); the streaming path must emit each
    // event ONCE. dropDuplicatesWithinWatermark holds per-key state
    // bounded by the watermark, so this is the exactly-once contract a
    // landing zone actually relies on, pinned against the batch scan.
    Query("st03_stream_dedup",
      "SELECT event_id, event_type FROM events") {
      (s, d) => {
        val raw = Streams.symlinkSource(Streams.rowSession(s), d, "events",
          "events.parquet", "events_again.parquet")
        val src = raw.withColumn("ts", Tables.canonTs(raw.schema))
        val out = Streams.streamingDedup(src, "event_id", "ts",
          watermark = "10 days")
        Streams.memorySink(out, "append").select("event_id", "event_type")
      }
    },

    // ---- ST4: stream-stream interval join vs the batch join ------------------
    // click→purchase attribution: purchases within 30 minutes after a
    // click by the same user, both sides incremental. Inner interval
    // joins emit on match and keep watermark-bounded state; run to
    // completion the pair set must equal the batch interval join.
    Query("st04_stream_interval_join", OracleSnippets.ClickConversionSql) {
      (s, d) => {
        val (imps, convs) = clickStreams(Streams.rowSession(s), d)
        val joined = Streams.intervalJoin(imps, convs, "user_id",
          "imp_ts", "conv_ts", maxDelay = "30 minutes", watermark = "10 days")
        Streams.memorySink(joined, "append").select("imp_id", "conv_id")
      }
    },

    // ---- ST5: stream-static enrichment join vs the batch join ----------------
    // The landing-zone enrichment shape: every arriving event is joined
    // to a broadcast dimension (static side re-read per micro-batch, no
    // state store at all — the cheapest streaming join there is). Run to
    // completion it must equal the plain batch join.
    Query("st05_stream_static_join",
      """SELECT e.event_id, c.c_mktsegment AS segment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        val dim = graft.core.Tables.customer(ss, d)
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment"))
        val src = Streams.symlinkSource(ss, d, "events")
        val joined = src.join(broadcast(dim), "user_id")
          .select(col("event_id"), col("segment"))
        Streams.memorySink(joined, "append")
      }
    },

    // ---- ST6: streaming SCD2 upsert (foreachBatch -> dimension store) --------
    // The streaming-warehouse-maintenance shape: change batches land as
    // files, each micro-batch applies Scd2.merge against the parquet
    // dimension store and rewrites it (localCheckpoint breaks the
    // read-own-input cycle). Two ordered batches (mtime-pinned,
    // maxFilesPerTrigger=1) must leave exactly the state two sequential
    // batch merges produce — the oracle replays both merges in SQL.
    Query("st06_stream_scd2_upsert",
      """WITH c AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer),
        |s0 AS (SELECT k, seg, DATE '2025-06-01' AS vf, CAST(NULL AS DATE) AS vt
        |       FROM c),
        |i1 AS (SELECT k, seg || '_X' AS seg FROM c WHERE k % 7 = 0),
        |j1 AS (SELECT s.k AS sk, s.seg AS sseg, s.vf, i.k AS ik, i.seg AS iseg
        |       FROM (SELECT * FROM s0 WHERE vt IS NULL) s
        |       FULL JOIN i1 i ON s.k = i.k),
        |m1 AS (
        |  SELECT sk AS k, sseg AS seg, vf, CAST(NULL AS DATE) AS vt FROM j1
        |  WHERE sk IS NOT NULL AND (ik IS NULL OR sseg = iseg)
        |  UNION ALL
        |  SELECT sk, sseg, vf, DATE '2026-02-01' FROM j1
        |  WHERE sk IS NOT NULL AND ik IS NOT NULL AND sseg <> iseg
        |  UNION ALL
        |  SELECT ik, iseg, DATE '2026-02-01', NULL FROM j1
        |  WHERE sk IS NULL OR (ik IS NOT NULL AND sseg <> iseg)),
        |i2 AS (SELECT k, seg || '_Y' AS seg FROM c WHERE k % 13 = 5),
        |j2 AS (SELECT s.k AS sk, s.seg AS sseg, s.vf, i.k AS ik, i.seg AS iseg
        |       FROM (SELECT * FROM m1 WHERE vt IS NULL) s
        |       FULL JOIN i2 i ON s.k = i.k),
        |m2 AS (
        |  SELECT sk AS k, sseg AS seg, vf, CAST(NULL AS DATE) AS vt FROM j2
        |  WHERE sk IS NOT NULL AND (ik IS NULL OR sseg = iseg)
        |  UNION ALL
        |  SELECT sk, sseg, vf, DATE '2026-02-02' FROM j2
        |  WHERE sk IS NOT NULL AND ik IS NOT NULL AND sseg <> iseg
        |  UNION ALL
        |  SELECT ik, iseg, DATE '2026-02-02', NULL FROM j2
        |  WHERE sk IS NULL OR (ik IS NOT NULL AND sseg <> iseg)
        |  UNION ALL
        |  SELECT k, seg, vf, vt FROM m1 WHERE vt IS NOT NULL)
        |SELECT k AS c_custkey, seg, CAST(vf AS VARCHAR) AS valid_from,
        |       CAST(vt AS VARCHAR) AS valid_to FROM m2""".stripMargin) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        val cust = graft.core.Tables.customer(ss, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"))
        // dimension store seeded with the open snapshot
        val dim = graft.core.TempDirs.scratch("st06_dim_").toString
        cust.select(col("c_custkey"), col("seg"),
            to_date(lit("2025-06-01")).as("valid_from"),
            lit(null).cast("date").as("valid_to"))
          .write.mode("overwrite").parquet(dim)
        // two landed change batches, arrival order pinned via mtime
        val landing = graft.core.TempDirs.scratch("st06_landing_")
        val b1 = cust.filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), concat(col("seg"), lit("_X")).as("seg"))
        Streams.land(landing, b1, "batch1.parquet", 1000000L)
        Streams.land(landing, cust.filter(col("c_custkey") % 13 === 5)
          .select(col("c_custkey"), concat(col("seg"), lit("_Y")).as("seg")),
          "batch2.parquet", 2000000L)
        val src = Streams.fileSource(ss, landing.toString, b1.schema,
          maxFilesPerTrigger = Some(1))
        Streams.runAvailableNow(src.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            val state = ss.read.parquet(dim)
            // break the read-own-input cycle
            val merged = Materialize.pin(graft.operators.Scd2.merge(
              state.filter(col("valid_to").isNull), batch.select("c_custkey", "seg"),
              Seq("c_custkey"), Seq("seg"),
              date_add(lit("2026-02-01").cast("date"), id.toInt))
              .unionByName(state.filter(col("valid_to").isNotNull)))
            merged.write.mode("overwrite").parquet(dim)
            ()
          })
        ss.read.parquet(dim).select(col("c_custkey"), col("seg"),
          col("valid_from").cast("string").as("valid_from"),
          col("valid_to").cast("string").as("valid_to"))
      }
    },

    // ---- ST7: the anomaly battery's shapes in incremental mode --------------
    // The reference detects anomalies in scheduled batch re-runs
    // (05.run_anomaly_detection.R); this surface runs the SAME detector
    // operators over the landed events incrementally — a stateless
    // threshold rule (append mode, pure projection per micro-batch) and
    // a stateful duplication rule (complete-mode aggregation with the
    // sorted member list) — then consolidates both uniform-schema
    // streams exactly like the batch battery. The finished result must
    // hash-match the plain batch SQL: the switch from scheduled re-runs
    // to incremental detection changes WHEN anomalies surface, never
    // WHICH.
    Query("st07_stream_anomalies",
      """WITH thr AS (
        |  SELECT 'events__' || CAST(event_id AS VARCHAR) || '__value_too_high' AS resolution_id,
        |         CAST(event_id AS VARCHAR) AS key, 'events' AS form_id,
        |         'value_too_high' AS anomalies_id,
        |         'value_too_high: value=' || CAST(value AS VARCHAR)
        |           || ' vs threshold=300.0' AS anomalies_description,
        |         'to_do' AS resolution_status
        |  FROM events WHERE value > 300),
        |dup AS (
        |  SELECT 'events__' || k || '__user_hour_burst' AS resolution_id,
        |         k AS key, 'events' AS form_id, 'user_hour_burst' AS anomalies_id,
        |         'user_hour_burst: ' || CAST(count(*) AS VARCHAR)
        |           || ' rows for key, ids='
        |           || string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY CAST(event_id AS VARCHAR))
        |           AS anomalies_description,
        |         'to_do' AS resolution_status
        |  FROM (SELECT *, CAST(user_id AS VARCHAR) || '|' ||
        |               CAST(CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS VARCHAR) AS k
        |        FROM events)
        |  GROUP BY k HAVING count(*) >= 2)
        |SELECT * FROM thr UNION ALL SELECT * FROM dup""".stripMargin) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        def src = {
          val raw = Streams.symlinkSource(ss, d, "events")
          raw.withColumn("ts", Tables.canonTs(raw.schema))
        }
        graft.operators.Anomalies.consolidate(Streams.memorySinks(
          // stateless rule: pure per-row projection, append mode
          graft.operators.Anomalies.detectThreshold(
            src.withColumn("__k", col("event_id")),
            "events", "value_too_high", "__k", col("value"), 300.0) -> "append",
          // stateful rule: complete-mode aggregation (collect_list member
          // ids survive across micro-batches in the aggregation state)
          graft.operators.Anomalies.detectDuplication(
            src.withColumn("__hr", date_trunc("hour", col("ts")).cast("long")),
            "events", "user_hour_burst", Seq("user_id", "__hr"), "event_id",
            threshold = 2L) -> "complete"))
      }
    },

    // ---- ST8: incremental near-dup as a STREAM -------------------------------
    // s22's continuously-growing-corpus shape running the way it runs in
    // production: the corpus (doc_id % 5 != 0) was sketched when it
    // landed (signature + band-bucket + shingle tables persist across
    // batches); new crawl batches arrive as files (two landed parquet
    // files, mtime-pinned order, one per micro-batch) and each
    // micro-batch sketches ONLY itself, probes the stored corpus
    // buckets, verifies candidates, and appends its pairs to the result
    // store. Batches partition the new docs and every emitted pair is
    // new-vs-corpus, so batch-wise union == the one-shot batch run: the
    // finished store must hash-match s22's ORACLE SQL verbatim.
    Query("st08_stream_incremental_neardup",
      SimilaritySearch.IncrementalNearDupOracleSql) {
      (s, d) => {
        import graft.operators.Dedup
        import graft.functions.TextFunctions
        val ss = Streams.rowSession(s)
        val docs = Tables.documents(ss, d)
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        // stored-corpus artifacts: computed once, reused by every batch
        val corpusSh = Materialize.shared(graft.core.Par.fanOut(
            corpus.select("doc_id", "text"), col("doc_id"))
          .select(col("doc_id").as("old_id"),
            explode(TextFunctions.shingles(col("text"), 2)).as("s")))
        val corpusSig = Materialize.shared(Dedup.md5Signatures(corpus, "doc_id", "text",
            n = 2, k = 16))
        val corpusBands = Materialize.shared(Dedup.md5BandRows(corpusSig, "doc_id",
            k = 16, bands = 4)
          .toDF("old_id", "band", "bkey"))
        // two landed new-crawl batches, arrival order pinned via mtime
        val newDocs = docs.filter(col("doc_id") % 5 === 0)
        val landing = graft.core.TempDirs.scratch("st08_landing_")
        val out = graft.core.TempDirs.scratch("st08_pairs_").toString
        Streams.land(landing, newDocs.filter(col("doc_id") % 10 === 0),
          "b1.parquet", 1000000L)
        Streams.land(landing, newDocs.filter(col("doc_id") % 10 =!= 0),
          "b2.parquet", 2000000L)
        val src = Streams.fileSource(ss, landing.toString, docs.schema,
          maxFilesPerTrigger = Some(1))
        Streams.runAvailableNow(src.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val bSig = Materialize.pin(Dedup.md5Signatures(batch, "doc_id", "text",
              n = 2, k = 16))
            val cand = Dedup.md5BandRows(bSig, "doc_id", k = 16, bands = 4)
              .toDF("new_id", "band", "bkey")
              .join(corpusBands, Seq("band", "bkey"))
              .select("new_id", "old_id").dropDuplicates("new_id", "old_id")
            val bSh = batch.select(col("doc_id").as("new_id"),
              explode(TextFunctions.shingles(col("text"), 2)).as("s"))
            val inter = bSh
              .join(corpusSh.withColumnRenamed("s", "s2"), col("s") === col("s2"))
              .join(cand, Seq("new_id", "old_id"))
              .groupBy("new_id", "old_id").agg(count(lit(1)).as("i"))
            val jac = col("i") * lit(1.0) / (col("na") + col("nb") - col("i"))
            inter
              .join(bSig.select(col("doc_id").as("new_id"), col("n").as("na")),
                "new_id")
              .join(corpusSig.select(col("doc_id").as("old_id"),
                col("n").as("nb")), "old_id")
              .select(col("new_id"), col("old_id"), jac.as("jaccard"))
              .filter(col("jaccard") >= 0.3)
              .write.mode("append").parquet(out)
            ()
          })
        Seq(corpusSh, corpusSig, corpusBands).foreach(Materialize.release)
        ss.read.parquet(out)
      }
    },

    // ---- ST11: complete-mode global aggregation ---------------------------
    // The third output mode (st01 pins append, st06 update-style
    // foreachBatch): a global unwindowed aggregate can never emit
    // finalized rows under append, so the dashboard-counter shape runs
    // in COMPLETE mode — every trigger rewrites the whole (small)
    // result. Run to completion it must equal the batch GROUP BY; a
    // runtime that dropped state between micro-batches (two landed
    // files) or emitted deltas instead of totals hash-mismatches.
    Query("st11_stream_complete_totals",
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM events GROUP BY 1""".stripMargin) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        val raw = Tables.load(ss, d, "events")
        val landing = graft.core.TempDirs.scratch("st11_landing_")
        Streams.land(landing, raw.filter(col("event_id") % 2 === 0), "b1.parquet", 1000000L)
        Streams.land(landing, raw.filter(col("event_id") % 2 =!= 0), "b2.parquet", 2000000L)
        val src = Streams.fileSource(ss, landing.toString, raw.schema,
          maxFilesPerTrigger = Some(1))
        // note: count(DISTINCT) is unsupported in streaming aggregations —
        // the decimal-routed sum is the second metric instead
        Streams.memorySink(src.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("total")),
          "complete")
      }
    },

    // ---- ST10: late-data drop semantics under the watermark ---------------
    // The OTHER half of the watermark contract st01 doesn't pin: rows
    // arriving BEHIND the watermark are dropped, not aggregated. Spark's
    // two-watermark model (3.4+) filters batch N's late events with the
    // EVICTION watermark of batch N-1 — one batch of lag — so the drop
    // needs THREE mtime-ordered landed files: (1) all even-id events
    // (the clock: commits an eviction watermark near end-of-stream),
    // (2) odd-id events of the last calendar day (arrive under a zero
    // late-filter, all kept), (3) the odd-id backfill of earlier days —
    // every row now sits in an hourly window that closed a day before
    // the late-filter watermark, so ALL of batch 3 is discarded. The
    // final no-data batch emits the windows the end-of-stream watermark
    // closed. The oracle replays exactly that: evens + last-day odds,
    // windows ending at or before trunc_ms(max ts) - 1 h. A runtime that
    // buffered the backfill, double-counted resent state, or emitted
    // open windows hash-mismatches.
    Query("st10_stream_late_data",
      """WITH keep AS (
        |  SELECT ts, event_type FROM events
        |  WHERE event_id % 2 = 0
        |     OR ts >= (SELECT date_trunc('day', max(ts)) FROM events)),
        |wmf AS (SELECT date_trunc('millisecond', max(ts)) - INTERVAL 1 HOUR AS w
        |        FROM events),
        |agg AS (SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n
        |        FROM keep GROUP BY 1, 2)
        |SELECT epoch_us(ws) AS window_start, event_type, n
        |FROM agg, wmf WHERE ws + INTERVAL 1 HOUR <= wmf.w""".stripMargin) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        val raw = Tables.load(ss, d, "events")
        val tsCol = Tables.canonTs(raw.schema)
        val lastDay = raw.select(date_trunc("DAY", max(tsCol))).head().getTimestamp(0)
        val landing = graft.core.TempDirs.scratch("st10_landing_")
        Streams.land(landing, raw.filter(col("event_id") % 2 === 0), "b1.parquet", 1000000L)
        Streams.land(landing, raw.filter(col("event_id") % 2 =!= 0 && tsCol >= lit(lastDay)),
          "b2.parquet", 2000000L)
        Streams.land(landing, raw.filter(col("event_id") % 2 =!= 0 && tsCol < lit(lastDay)),
          "b3.parquet", 3000000L)
        val src = Streams.fileSource(ss, landing.toString, raw.schema,
            maxFilesPerTrigger = Some(1))
          .withColumn("ts", Tables.canonTs(raw.schema))
        val out = src.withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(unix_micros(col("window.start")).as("window_start"),
            col("event_type"), col("n"))
        Streams.memorySink(out, "append")
      }
    },

    // ---- ST9: LEFT-OUTER stream-stream join (watermark null emission) ------
    // The outer half of st04's attribution join: clicks with no purchase
    // inside the 30-minute window must still be emitted — with a null
    // conv_id — once the watermark proves no match can arrive. That
    // emission is pure state-eviction semantics: a left row is released
    // when its match window's upper bound (imp_ts + 30 min) falls behind
    // the global watermark = min(max click ts, max purchase ts) - 1 h,
    // truncated to ms (Spark tracks event-time stats in ms). Under the
    // AvailableNow trigger the final no-data batch (scheduled because the
    // watermark advanced) flushes the evictable state, so the finished
    // result is deterministic: all matches, plus null rows for every
    // unmatched click strictly older than the final watermark - 30 min.
    // The oracle restates exactly that — a streaming semantics pin no
    // batch join can express.
    Query("st09_stream_outer_join",
      s"""WITH wm AS (SELECT date_trunc('millisecond', least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase')))
        |    - INTERVAL 1 HOUR AS w),
        |m AS (${OracleSnippets.ClickConversionSql})
        |SELECT imp_id, conv_id FROM m
        |UNION ALL
        |SELECT a.event_id, CAST(NULL AS BIGINT) FROM events a, wm
        |WHERE a.event_type = 'click'
        |  AND a.ts + INTERVAL 30 MINUTE < wm.w
        |  AND NOT EXISTS (SELECT 1 FROM m WHERE m.imp_id = a.event_id)""".stripMargin) {
      (s, d) => {
        val (imps, convs) = clickStreams(Streams.rowSession(s), d)
        val joined = Streams.intervalJoin(imps, convs, "user_id",
          "imp_ts", "conv_ts", maxDelay = "30 minutes",
          watermark = "1 hour", joinType = "leftOuter")
        Streams.memorySink(joined, "append").select("imp_id", "conv_id")
      }
    },

    // ---- ST12: streaming distribution-drift monitor (PSI) ------------------
    // a30's PSI served incrementally: the stream maintains ONLY the
    // (type, slice, bucket) counters (bounded state: |types| x 2 x 10
    // rows, whatever the event volume), and the PSI epilogue runs as a
    // tiny batch computation over the finished counter table — the
    // monitor pattern where the heavy streaming state is a fixed-size
    // histogram, not raw events. Complete mode: the final table equals
    // the batch aggregation, so the row hash-matches a30's oracle.
    Query("st12_stream_drift", Analytics.PsiDriftOracleSql) {
      (s, d) => {
        val raw = Streams.symlinkSource(Streams.rowSession(s), d, "events")
        val src = raw.withColumn("ts", Tables.canonTs(raw.schema))
        val counts = src.select(col("event_type"),
            (datediff(to_date(col("ts")), lit("1970-01-01")) % 2).as("slice"),
            least(lit(9L), greatest(lit(0L), floor(col("value") / 50.0).cast("long")))
              .as("bucket"))
          .groupBy("event_type", "slice", "bucket")
          .agg(count(lit(1)).as("n"))
        // the memory-sink view cannot self-join (MemoryPlan re-references
        // keep the SAME attribute ids -> "conflicting references"); cut
        // to a LogicalRDD first — it's the finished counter table,
        // |types| x 2 x 10 rows
        graft.queries.Analytics.psiOfSlices(
          Materialize.pin(Streams.memorySink(counts, "complete")), preCounted = true)
      }
    },

    // ---- ST13: streaming Holt forecaster (two-state recurrence) ------------
    // w29's level+trend recurrence served incrementally: per-key state
    // is TWO DOUBLES whatever the event volume, batches fold in event
    // order with the identical operation order — the stream's final
    // output hash-matches the batch recursive-CTE oracle bit-for-bit
    // (the st02/st08 equivalence discipline, now for a coupled
    // two-state float recurrence).
    Query("st13_stream_holt", Temporal.HoltOracleSql) {
      (s, d) => {
        val src = Streams.valueEvents(
          Streams.symlinkSource(Streams.rowSession(s), d, "events"))
        Streams.memorySink(Streams.holtStream(src, alpha = 0.5, beta = 0.25), "append")
          .select(col("userId").as("user_id"), col("eventId").as("event_id"),
            col("level"), col("trend"),
            (col("level") + col("trend")).as("forecast"))
      }
    },

    // ---- ST14: streaming CUSUM drift monitor (w32's st-twin) ---------------
    // Page's two-sided CUSUM served live: per-user state is three
    // doubles (reference + both cumulative sides), batches fold in
    // event order with w32's identical operation order — alarms raised
    // by the stream hash-match the offline recursive-CTE replay
    // bit-for-bit. The monitor a production pipeline would actually
    // run: st12 watches the DISTRIBUTION (PSI over bounded histograms),
    // this watches the LEVEL (small persistent shifts), both with
    // fixed-size state.
    Query("st14_stream_cusum",
      s"""WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |${OracleSnippets.cusumScan("user_id", "event_id")}
        |SELECT user_id, event_id, sp AS s_pos, sn AS s_neg, alarm
        |FROM scan""".stripMargin) {
      (s, d) => {
        val src = Streams.valueEvents(
          Streams.symlinkSource(Streams.rowSession(s), d, "events"))
        Streams.memorySink(
            Streams.cusumStream(src, slackFrac = 0.25, threshFrac = 1.0), "append")
          .select(
col("userId").as("user_id"), col("eventId").as("event_id"),
            col("sPos").as("s_pos"), col("sNeg").as("s_neg"), col("alarm"))
      }
    },

    // ---- ST15: streaming heavy hitters (Misra-Gries state + exact verify) --
    // a27's two-phase exact heavy hitters with phase 1 SERVED
    // INCREMENTALLY: each landed micro-batch of documents folds its
    // per-language token stream into a Misra-Gries(64) summary
    // (plans.MisraGriesTopK — one aggregate per batch), and the
    // accumulated candidate UNION is exact-verified once at the end.
    // Union-of-summaries keeps the superset guarantee with bounded
    // state (<= batches x 64 tokens per language, vs an exact streaming
    // count whose state is the whole vocabulary): MG(64) per batch
    // undercounts by <= N_b/65, and a per-language heavy hitter
    // (cnt * 30 > N) is heavy in at least one batch, so it appears in
    // some batch's summary. The final exact counts make the row
    // bit-equal to the batch oracle REGARDLESS of MG tie-breaking.
    Query("st15_stream_heavy_hitters",
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |tot AS (SELECT lang, count(*) AS n FROM w GROUP BY 1)
        |SELECT w.lang, word, count(*) AS cnt
        |FROM w JOIN tot ON w.lang = tot.lang
        |GROUP BY w.lang, word, n
        |HAVING count(*) * 30 > n""".stripMargin) {
      (s, d) => {
        import graft.functions.TextFunctions
        val ss = Streams.rowSession(s)
        val docs = Tables.documents(ss, d)
        val landing = graft.core.TempDirs.scratch("st15_landing_")
        Streams.land(landing, docs.filter(col("doc_id") % 2 === 0), "b1.parquet", 1000000L)
        Streams.land(landing, docs.filter(col("doc_id") % 2 =!= 0), "b2.parquet", 2000000L)
        val toks = TextFunctions.tokens(col("text"))
        // driver-held candidate accumulator: <= n_batches x 64 strings
        // per language — the bounded-state contract
        val cands = scala.collection.mutable.Map
          .empty[String, Set[String]].withDefaultValue(Set.empty)
        val src = Streams.fileSource(ss, landing.toString, docs.schema,
          maxFilesPerTrigger = Some(1))
        Streams.runAvailableNow(src.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            batch.groupBy("lang")
              .agg(graft.plans.MisraGriesTopK(toks, 64).as("cand"))
              .collect()
              .foreach(r => cands(r.getString(0)) =
                cands(r.getString(0)) ++ r.getSeq[String](1))
            ()
          })
        // exact verify over the landed corpus: only candidate tokens are
        // ever grouped (a27's phase 2), per language
        val candDf = ss.createDataFrame(
          cands.toSeq.flatMap { case (l, ws) => ws.toSeq.sorted.map((l, _)) })
          .toDF("lang", "word")
        val landed = ss.read.schema(docs.schema).parquet(landing.toString)
        val words = landed.select(col("lang"), explode(toks).as("word"))
        val totals = landed.groupBy("lang").agg(sum(size(toks)).as("n"))
        words.join(broadcast(candDf), Seq("lang", "word"))
          .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
          .join(broadcast(totals), "lang")
          .filter(col("cnt") * 30 > col("n"))
          .select("lang", "word", "cnt")
      }
    },

    // ---- ST16: streaming CDC apply (io14's stream twin) ---------------------
    // The same change feed, served as two TIME-ORDERED landed batches
    // (all of batch 1's sequence keys precede batch 2's — the landing
    // contract): foreachBatch folds each batch onto a versioned parquet
    // snapshot with Cdc.applyChanges. Sequential application of
    // time-ordered batches equals one-shot application (per key the
    // later batch's latest op is the global latest; pass-through keeps
    // untouched keys; 'U' after 'D' re-inserts), so the final stored
    // snapshot hash-matches io14's batch oracle minus the provenance
    // column (which sequential folding deliberately does not preserve —
    // a row upserted in batch 1 is 'base' to batch 2).
    Query("st16_stream_cdc_apply",
      s"""WITH ${OracleSnippets.CdcMergeCtes}
        |SELECT k AS c_custkey,
        |       CASE WHEN op = 'U' THEN nb ELSE bb END AS bal
        |FROM j WHERE op IS NULL OR op <> 'D'""".stripMargin) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        val changes = SinkQueries.cdcChanges(ss, d, to_date(col("o_orderdate")).as("od"))
        val landing = graft.core.TempDirs.scratch("st16_landing_")
        val feed = changes.drop("od")
        Streams.land(landing, changes.filter(col("od") < "1998-01-01").drop("od"),
          "b1.parquet", 1000000L)
        Streams.land(landing, changes.filter(col("od") >= "1998-01-01").drop("od"),
          "b2.parquet", 2000000L)
        // versioned snapshot store: each batch reads version v, writes v+1
        // (a parquet dir is never overwritten while being read)
        val store = graft.core.TempDirs.scratch("st16_snap_").toString
        Tables.customer(ss, d)
          .select(col("c_custkey"), col("c_acctbal").as("bal"))
          .write.parquet(s"$store/v0")
        var version = 0
        val src = Streams.fileSource(ss, landing.toString, feed.schema,
          maxFilesPerTrigger = Some(1))
        Streams.runAvailableNow(src.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val cur = ss.read.parquet(s"$store/v$version")
            graft.operators.Cdc.applyChanges(cur, batch,
                Seq("c_custkey"), opCol = "op", ordCol = "ordk")
              .drop("cdc_src")
              .write.parquet(s"$store/v${version + 1}")
            version += 1
            ()
          })
        ss.read.parquet(s"$store/v$version")
      }
    },

    // ---- ST17: streaming Kalman filter (w36's st-twin) ----------------------
    // The adaptive-gain level monitor served live: per-user state is
    // two doubles (estimate + variance); batches fold in event order
    // with w36's identical predict/gain/update sequence — the stream
    // hash-matches the offline recursive-CTE replay bit-for-bit (the
    // st13/st14 equivalence discipline). Completes the live-monitor
    // trio: st14 catches persistent SHIFTS (CUSUM), st13 tracks TREND
    // (Holt), this tracks LEVEL under noise with a learned gain.
    Query("st17_stream_kalman", Temporal.KalmanOracleSql) {
      (s, d) => {
        val src = Streams.valueEvents(
          Streams.symlinkSource(Streams.rowSession(s), d, "events"))
        Streams.memorySink(Streams.kalmanStream(src, q = 0.25, r = 1.0), "append")
          .select(col("userId").as("user_id"), col("eventId").as("event_id"),
            col("kalmanLevel").as("kalman_level"),
            col("kalmanVar").as("kalman_var"))
      }
    },

    // ---- ST20: streaming MACD (w42's st-twin) -------------------------------
    // The momentum monitor served live: per-user state is THREE doubles
    // (fast, slow, signal) whatever the event volume; batches fold in
    // event order with w42's identical operation order, so the stream
    // hash-matches the offline recursive-CTE replay bit-for-bit — the
    // 20th streaming shape, and the 5th stateful float recurrence
    // (Holt, CUSUM, Kalman, quantiles, MACD) under the same
    // batch<->stream equivalence discipline.
    Query("st20_stream_macd",
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |scan AS (
        |  SELECT user_id, rn, event_id, x AS fast, x AS slow,
        |         CAST(0 AS DOUBLE) AS macd, CAST(0 AS DOUBLE) AS sig
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.event_id,
        |         0.5 * e.x + 0.5 * s.fast,
        |         0.125 * e.x + 0.875 * s.slow,
        |         (0.5 * e.x + 0.5 * s.fast) - (0.125 * e.x + 0.875 * s.slow),
        |         0.25 * ((0.5 * e.x + 0.5 * s.fast)
        |                 - (0.125 * e.x + 0.875 * s.slow)) + 0.75 * s.sig
        |  FROM ev e JOIN scan s ON e.user_id = s.user_id AND e.rn = s.rn + 1)
        |SELECT user_id, event_id, macd, sig
        |FROM scan""".stripMargin) {
      (s, d) => {
        val src = Streams.valueEvents(
          Streams.symlinkSource(Streams.rowSession(s), d, "events"))
        Streams.memorySink(
            Streams.macdStream(src, aFast = 0.5, aSlow = 0.125, aSig = 0.25), "append")
          .select(col("userId").as("user_id"), col("eventId").as("event_id"),
            col("macd"), col("sig"))
      }
    },

    // ---- ST21: streaming tamper-evident hash chain ---------------------------
    // io20's audit-ledger md5 recurrence served LIVE (Streams.
    // hashChainStream, flatMapGroupsWithState): per-key state is one
    // 32-char chain head forever, so the ledger runs indefinitely at any
    // event volume; the emitted heads are bit-identical to the batch
    // scan — the oracle below IS io20's recursive CTE. The 6th stateful
    // recurrence under the batch<->stream bit-equivalence discipline,
    // and the one where equivalence is the PRODUCT (a live chain a
    // later offline audit must reproduce hash-for-hash).
    Query("st21_stream_hash_chain", SinkQueries.HashChainOracleSql) {
      (s, d) => {
        val src = Streams.valueEvents(
          Streams.symlinkSource(Streams.rowSession(s), d, "events"))
        Streams.memorySink(Streams.hashChainStream(src), "append")
          .groupBy(col("userId").as("user_id"))
          .agg(count(lit(1)).cast("long").as("n_events"),
            max_by(col("chain"), struct(col("tsMicros"), col("eventId")))
              .as("chain_md5"))
      }
    },

    // ---- ST22: streaming distinct-users monitor (HLL sketch state) -----------
    // w46's sketch served LIVE: per-type distinct users as a
    // complete-mode DataSketches HLL aggregate whose state merges
    // across micro-batches natively (two staged landing batches prove
    // the cross-batch union — a naive distinct-count would double-count
    // re-appearing users split across batches). Like w46/a26, the gate
    // is the GUARANTEE: the final estimate must land within 5% of the
    // exact distinct, which the oracle computes; state per type is one
    // HLL (~16 KB at lgK=14) forever.
    // ---- ST23: streaming sketch set-intersection (a53's incremental twin) --
    // The point of sketch set algebra is that it works INCREMENTALLY:
    // per-segment HLL sketches maintained as streaming state (complete-
    // mode aggregate over the landed batches), audience overlap derived
    // by inclusion-exclusion as a batch epilogue off the 2-row sketch
    // table — no re-scan of history, ever. Same 10%-of-exact verdict
    // and the same oracle as a53, so batch and stream answers sit under
    // one contract; the parity-split staging makes a broken cross-batch
    // sketch merge overcount visibly.
    Query("st23_stream_sketch_intersection", Keys.SketchIntersectionOracleSql) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        val raw = Tables.load(ss, d, "events")
        val landing = graft.core.TempDirs.scratch("st23_landing_")
        Streams.land(landing, raw.filter(col("event_id") % 2 === 0), "b1.parquet", 1000000L)
        Streams.land(landing, raw.filter(col("event_id") % 2 =!= 0), "b2.parquet", 2000000L)
        val src = Streams.fileSource(ss, landing.toString, raw.schema,
          maxFilesPerTrigger = Some(1))
        val sketches = Streams.memorySink(
          src.filter(col("event_type").isin("view", "purchase"))
            .groupBy("event_type")
            .agg(expr("hll_sketch_agg(user_id, 14)").as("sk")),
          "complete")
        val ests = sketches.agg(
          max(when(col("event_type") === "view",
            expr("hll_sketch_estimate(sk)"))).as("est_a"),
          max(when(col("event_type") === "purchase",
            expr("hll_sketch_estimate(sk)"))).as("est_b"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_u"))
        val ev = Tables.load(ss, d, "events")
        Keys.sketchIntersectionVerdict(ev, ests)
      }
    },

    Query("st22_stream_distinct_monitor",
      """SELECT event_type,
        |       count(DISTINCT user_id) AS exact_distinct,
        |       CAST(1 AS BOOLEAN) AS within_5pct
        |FROM events GROUP BY 1""".stripMargin) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        val raw = Tables.load(ss, d, "events")
        val landing = graft.core.TempDirs.scratch("st22_landing_")
        // split by event id parity: most users appear in BOTH batches,
        // so a broken cross-batch merge overcounts visibly
        Streams.land(landing, raw.filter(col("event_id") % 2 === 0), "b1.parquet", 1000000L)
        Streams.land(landing, raw.filter(col("event_id") % 2 =!= 0), "b2.parquet", 2000000L)
        val src = Streams.fileSource(ss, landing.toString, raw.schema,
          maxFilesPerTrigger = Some(1))
        val est = Streams.memorySink(src.groupBy("event_type")
            .agg(expr("hll_sketch_agg(user_id, 14)").as("sk")), "complete")
          .select(col("event_type"),
            expr("hll_sketch_estimate(sk)").as("est"))
        val exact = Tables.load(ss, d, "events")
          .groupBy("event_type")
          .agg(countDistinct("user_id").as("exact_distinct"))
        exact.join(est, "event_type")
          .select(col("event_type"), col("exact_distinct"),
            (abs(col("est").cast("double")
              - col("exact_distinct").cast("double"))
              <= col("exact_distinct").cast("double") * 0.05).as("within_5pct"))
      }
    },

    // ---- ST19: streaming quantile monitor (mergeable histogram state) ------
    // a23's sort-free histogram quantiles served live: the stream
    // maintains per-type 10-bucket counts (a complete-mode aggregate —
    // bucket counts are ADDITIVE, so the result is independent of how
    // micro-batches split the data, unlike a naive streaming
    // percentile), and the p50/p90 interpolation runs as a batch
    // epilogue on the final counts. Integer crossing tests (2*cum >= n,
    // 10*cum >= 9n) pick the quantile bucket without a float compare;
    // the interpolation is one fixed-order double expression. State per
    // type is 10 longs forever — the quantile monitor you can actually
    // leave running at 100 TB/day.
    Query("st19_stream_quantile_monitor",
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(least(greatest(floor(value / 2.0), 0), 9) AS BIGINT) AS bucket,
        |         count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |cum AS (SELECT event_type, bucket, c,
        |               sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |               sum(c) OVER (PARTITION BY event_type) AS n
        |        FROM b),
        |q50 AS (SELECT event_type, n, bucket, c, cum - c AS before,
        |               row_number() OVER (PARTITION BY event_type
        |                                  ORDER BY bucket) AS rn
        |        FROM cum WHERE 2 * cum >= n),
        |q90 AS (SELECT event_type, bucket, c, cum - c AS before,
        |               row_number() OVER (PARTITION BY event_type
        |                                  ORDER BY bucket) AS rn
        |        FROM cum WHERE 10 * cum >= 9 * n)
        |SELECT q50.event_type, CAST(q50.n AS BIGINT) AS n,
        |       q50.bucket * 2.0 + 2.0 * (0.5 * q50.n - q50.before) / q50.c AS p50,
        |       q90.bucket * 2.0 + 2.0 * (0.9 * q50.n - q90.before) / q90.c AS p90
        |FROM q50 JOIN q90 ON q50.event_type = q90.event_type
        |WHERE q50.rn = 1 AND q90.rn = 1""".stripMargin) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        val raw = Tables.load(ss, d, "events")
        val landing = graft.core.TempDirs.scratch("st19_landing_")
        Streams.land(landing, raw.filter(col("event_id") % 2 === 0), "b1.parquet", 1000000L)
        Streams.land(landing, raw.filter(col("event_id") % 2 =!= 0), "b2.parquet", 2000000L)
        val src = Streams.fileSource(ss, landing.toString, raw.schema,
          maxFilesPerTrigger = Some(1))
        val bucket = least(greatest(floor(col("value") / 2.0), lit(0.0)), lit(9.0))
          .cast("long")
        val hist = Streams.memorySink(src.groupBy(col("event_type"), bucket.as("bucket"))
          .agg(count(lit(1)).as("c")), "complete")
        import org.apache.spark.sql.expressions.Window
        val cumW = Window.partitionBy("event_type").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // held: the p50/p90 legs self-join this table, and Spark cannot
        // deduplicate conflicting references through a MemorySink plan
        // (INTERNAL_ERROR) — a LocalRelation can be; |types| x buckets
        val cum = Materialize.small(hist)
          .withColumn("cum", sum("c").over(cumW))
          .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
          .withColumn("before", col("cum") - col("c"))
        def pick(cross: org.apache.spark.sql.Column) = cum.filter(cross)
          .withColumn("rn", row_number().over(
            Window.partitionBy("event_type").orderBy("bucket")))
          .filter(col("rn") === 1)
        val q50 = pick(lit(2) * col("cum") >= col("n"))
        val q90 = pick(lit(10) * col("cum") >= lit(9) * col("n"))
        q50.select(col("event_type"), col("n"), col("bucket").as("b50"),
            col("c").as("c50"), col("before").as("bf50"))
          .join(q90.select(col("event_type"), col("bucket").as("b90"),
            col("c").as("c90"), col("before").as("bf90")), "event_type")
          .select(col("event_type"), col("n").cast("long").as("n"),
            (col("b50") * lit(2.0)
              + lit(2.0) * (lit(0.5) * col("n") - col("bf50")) / col("c50"))
              .as("p50"),
            (col("b90") * lit(2.0)
              + lit(2.0) * (lit(0.9) * col("n") - col("bf90")) / col("c90"))
              .as("p90"))
      }
    },

    // ---- ST24: streaming decoded-stats maintenance (m12's stream twin) -----
    // The multimodal ingest cadence served LIVE: image-id batches land
    // as files, and foreachBatch folds each onto the versioned
    // decoded-stats store via Multimodal.reconcileStats in APPEND-ONLY
    // mode (arrivals, not corpus snapshots — absent ids persist). The
    // (id, content-hash) manifest makes delivery idempotent: batch 2
    // deliberately RE-DELIVERS a slice of batch 1, and the overlap
    // decodes zero images — at-least-once file delivery folds to
    // exactly-once decode work, the property a naive append blows up
    // on. The oracle replays the final table's aggregate from the pixel
    // formula; batch/stream parity with m12's one-shot table is pinned
    // by construction (same operator, same store layout).
    Query("st24_stream_decoded_stats",
      s"""WITH ${OracleSnippets.RedSumCtes}
        |SELECT CAST(count(*) AS BIGINT) AS n_images,
        |       CAST(count(*) * 1024 AS BIGINT) AS n_px,
        |       CAST(sum(sr) AS BIGINT) AS sum_r
        |FROM s""".stripMargin) {
      (s, d) => {
        val ss = Streams.rowSession(s)
        val ids = Tables.load(ss, d, "documents").select("doc_id")
        val landing = graft.core.TempDirs.scratch("st24_landing_")
        // batch 2 re-delivers the doc_id % 3 == 1 slice of batch 1: the
        // manifest must fold the overlap to zero re-decodes
        Streams.land(landing, ids.filter(col("doc_id") % 3 < 2), "b1.parquet", 1000000L)
        Streams.land(landing, ids.filter(col("doc_id") % 3 >= 1), "b2.parquet", 2000000L)
        val store = graft.core.TempDirs.scratch("st24_store_").toString
        val src = Streams.fileSource(ss, landing.toString, ids.schema,
          maxFilesPerTrigger = Some(1))
        var finalPath = ""
        Streams.runAvailableNow(src.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            // fetch-by-ids: every presented id re-synthesizes for the
            // hash-only manifest pass, but re-delivered ids hash-match
            // the store and never re-DECODE — the decode leg (the
            // expensive one) is churn-sized, the manifest is codec-free
            val r = graft.operators.Multimodal.reconcileStatsBy(
              ss, batch, "doc_id",
              sub => graft.operators.Multimodal.withImagePayload(sub, "doc_id"),
              "payload", store, dropMissing = false)
            finalPath = r.path
            ()
          })
        ss.read.parquet(finalPath)
          .agg(count(lit(1)).as("n_images"),
            sum("n_px").cast("long").as("n_px"),
            sum("sr").cast("long").as("sum_r"))
          .select(col("n_images").cast("long").as("n_images"),
            col("n_px"), col("sum_r"))
      }
    }
  )
}
